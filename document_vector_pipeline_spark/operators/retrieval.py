"""Corpus-level retrieval: BM25 keyword top-k and reciprocal-rank-fusion
hybrid search (SURVEY §2 — the most common real retrieval shape over a
chunk/document store today: keyword + vector, fused).

The reference's stores answer only vector top-k (CosmosDB VectorDistance /
AzureSQL VECTOR_DISTANCE); every production retrieval stack in front of
such a store adds a keyword leg (BM25 over an inverted term table) and
fuses the two rankings (RRF, Cormack et al. SIGIR 2009).  Both legs here
are deterministic and integer-exact so the oracle can replay them:

- BM25 (Robertson/Sparck Jones, k1 = 6/5, b = 3/4): per-term
  contributions are computed as ``floor`` of an all-rational expression
  scaled to micro-units, with the single transcendental (the idf ``ln``)
  rounded to an integer micro-idf first.  Per-(query, doc) scores are
  then SUMS OF INTEGERS — order-free, engine-portable.
- RRF: ``floor(1e6 / (c + rank))`` per leg — exact integers end-to-end.

Plan shape (the 100 TB story):
- doc length is computed MAP-SIDE (array size of the tokenized text) —
  no corpus-wide token shuffle just for lengths;
- the token stream is filtered to the query batch's terms (collected
  driver-side — a query batch is metadata-sized by definition) BEFORE
  the tf groupBy, so the only wide aggregation runs over rows that
  mention a query term, not the corpus's whole posting list;
- corpus statistics (N, total token count) ride in as a broadcast
  single-row join;
- the per-query rank window (``row_number() <= k``) gets Spark's own
  partial ``WindowGroupLimit``: the optimizer (InferWindowGroupLimit)
  inserts a per-partition cut to <= k rows per query under the window's
  total order BELOW the window's exchange, so bounded rows reach the
  shuffle — lossless, and it runs in the JVM (no Python job).  Spark
  inserts it only for k below ``spark.sql.optimizer.
  windowGroupLimitThreshold`` (1000 by default); above that results
  stay correct, but every candidate reaches the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_vector_pipeline_spark.functions.localrel import local_df

TOKEN_SPLIT = "[^a-z0-9]+"


def _tokens(text_col):
    return F.filter(F.split(F.lower(text_col), TOKEN_SPLIT),
                    lambda t: t != F.lit(""))


def bm25_scores(docs: DataFrame, query_terms: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text",
                tok: DataFrame | None = None,
                stats: DataFrame | None = None) -> DataFrame:
    """Un-ranked BM25 scores per (query, document) — (query_id, doc_id,
    n_terms, score_micro); only documents matching >= 1 query term
    appear.  The scoring core shared by ``bm25_topk`` (document
    retrieval) and ``bm25_passages`` (chunk-level retrieval with
    doc aggregation).

    ``query_terms`` is the exploded query batch (query_id, term); terms
    missing from the corpus simply contribute nothing.  k1 = 6/5 and
    b = 3/4 (the classic 1.2 / 0.75) are kept as exact rationals and the
    denominators cleared, so each per-term contribution is

        floor( idf_micro * (22 * tf * T)
               / (10*T*tf + 3*T + 9*dl*N) )        [micro-units]

    with idf_micro = round(ln((2*(N-df)+1)/(2*df+1) + 1) * 1e6) — every
    input an exact integer, every float op correctly-rounded double
    arithmetic in a FIXED expression shape, so DuckDB replays it
    bit-for-bit; the final per-(query,doc) score is an integer sum."""
    # stage the token array in its own projection: explode and size
    # then consume the SAME computed array (a column reference).  The
    # inlined form puts `size(_tokens(text))` in the Project ABOVE the
    # Generate, re-running the regex tokenize once per exploded TOKEN
    # (~dl x the work — measured 17 s of task CPU per partition on the
    # bench corpus, java.util.regex at the top of every executor stack
    # dump); CollapseProject keeps a non-cheap expression referenced
    # twice staged, so the tokenize runs once per document (guide §1.2:
    # don't compute things you throw away).  Value-identical.
    # ``tok``/``stats`` are injectable so a multi-pass caller (bm25_prf)
    # can feed every pass from ONE materialized token relation instead
    # of re-tokenizing the corpus per pass
    if tok is None:
        tok = (docs.select(F.col(id_col).alias("doc_id"),
                           _tokens(F.col(text_col)).alias("__toks"))
               .select("doc_id",
                       F.explode(F.col("__toks")).alias("term"),
                       F.size(F.col("__toks")).alias("dl")))
    if stats is None:
        stats = docs.select(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_tokens(F.col(text_col)))).alias("total_len"))

    # materialize the term-filtered tf table once: it feeds BOTH the df
    # aggregation and the scoring join, and without the checkpoint each
    # consumer re-scans the corpus (3 full scans -> 2); it is candidate-
    # sized (matched docs x query terms), never corpus-sized.  The term
    # filter is a broadcast SEMI-join on the (metadata-sized) query-term
    # frame, not an isin(literal list): the plan stays constant-size no
    # matter how many terms the query batch carries.
    tf = (tok.join(F.broadcast(query_terms.select("term").distinct()),
                   "term", "left_semi")
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
          .localCheckpoint(eager=True))
    return score_tf(tf, query_terms, stats)


def score_tf(tf: DataFrame, query_terms: DataFrame,
             stats: DataFrame, df: DataFrame | None = None) -> DataFrame:
    """The BM25 scoring core over an explicit term-frequency relation —
    ``tf`` is (doc_id, term, tf, dl) restricted to the query batch's
    terms (each term's posting list COMPLETE, so the per-term df
    aggregation below is corpus-exact), ``stats`` a one-row
    (n_docs, total_len).  Shared verbatim by the scan path
    (``bm25_scores``) and the persisted inverted index
    (store/text_index.TextIndex.search), which is how index search
    stays bit-identical to the scan.

    ``df`` (optional, a (term, df) frame) supplies the per-term live
    document frequencies EXPLICITLY — wand_search's segment-skipping
    path passes them (derived exactly from the dictionary sidecar +
    tombstone correction) because its pruned ``tf`` relation no longer
    carries every segment's rows; integer-equal to the aggregation
    below over the full live read, so scores stay bit-identical."""
    df_ = df if df is not None else \
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    joined = (tf.join(F.broadcast(df_), "term")
              .join(F.broadcast(query_terms), "term")
              .crossJoin(F.broadcast(stats)))

    idf_micro = F.round(
        F.log((((F.lit(2.0) * (F.col("n_docs") - F.col("df"))) + F.lit(1.0))
               / ((F.lit(2.0) * F.col("df")) + F.lit(1.0))) + F.lit(1.0))
        * F.lit(1000000.0)).cast("long")
    contrib = F.floor(
        (idf_micro * (F.lit(22.0) * (F.col("tf") * F.col("total_len"))))
        / (((F.lit(10.0) * (F.col("total_len") * F.col("tf")))
            + (F.lit(3.0) * F.col("total_len")))
           + (F.lit(9.0) * (F.col("dl") * F.col("n_docs")))))

    return (joined
            .withColumn("c_micro", contrib)
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("c_micro").alias("score_micro")))


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query rank over a (query_id, doc_id, n_terms, score_micro)
    scored set — the shared tail of ``bm25_topk`` and the indexed
    search path; the window is cut map-side by Spark's partial
    WindowGroupLimit (module docstring)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micro"),
                                               F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "n_terms", "score_micro", "rank"))


def bm25_topk(docs: DataFrame, query_terms: DataFrame, k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              tok: DataFrame | None = None,
              stats: DataFrame | None = None) -> DataFrame:
    """BM25 top-k documents per query — (query_id, doc_id, n_terms,
    score_micro, rank): ``bm25_scores`` fed into the per-query rank
    window (map-side cut by Spark's partial WindowGroupLimit)."""
    return rank_topk(bm25_scores(docs, query_terms, id_col, text_col,
                                 tok=tok, stats=stats), k)


def bm25_passages(chunks: DataFrame, query_terms: DataFrame, k: int = 10,
                  doc_col: str = "doc_id", chunk_col: str = "chunk_number",
                  text_col: str = "chunk_text") -> DataFrame:
    """Passage-level BM25 with document aggregation — the RAG retrieval
    shape: score every CHUNK (passage-length normalization: dl is the
    chunk's length, avgdl/df are chunk-level statistics), then keep each
    document's best passage and rank documents per query.  Returns
    (query_id, doc_id, best_chunk, n_chunks_hit, score_micro, rank):
    ``best_chunk`` is the top-scoring chunk (lowest chunk number on
    ties), ``n_chunks_hit`` how many of the doc's chunks matched any
    query term, ``score_micro`` the best passage's integer BM25.

    Plan: chunk ids travel as doc \\x01 chunk composite STRINGS (no
    arithmetic packing — a chunk_number >= 1e5 or a huge doc_id cannot
    silently corrupt the decode); the per-doc best-passage window runs
    over (query, doc)-bounded partitions, and the final per-query rank
    window gets the same map-side partial WindowGroupLimit as
    ``bm25_topk`` — at 100 TB a common-term query matches a constant
    fraction of the corpus, and without the cut that query's window
    partition receives every matched document in one reducer task."""
    sep = "\u0001"
    packed = chunks.select(
        F.concat_ws(sep, F.col(doc_col), F.col(chunk_col)).alias("cid"),
        F.col(text_col))
    s = bm25_scores(packed, query_terms, id_col="cid", text_col=text_col)
    p = s.select(
        "query_id",
        F.substring_index("doc_id", sep, 1).cast("long").alias("doc"),
        F.substring_index("doc_id", sep, -1).cast("int")
         .alias("chunk_number"),
        "score_micro")
    wb = Window.partitionBy("query_id", "doc").orderBy(
        F.desc("score_micro"), F.col("chunk_number"))
    wc = Window.partitionBy("query_id", "doc")
    best = (p.withColumn("rk", F.row_number().over(wb))
            .withColumn("n_chunks_hit", F.count(F.lit(1)).over(wc))
            .filter(F.col("rk") == 1)
            .drop("rk"))
    wr = Window.partitionBy("query_id").orderBy(F.desc("score_micro"),
                                                F.col("doc"))
    return (best.withColumn("rank", F.row_number().over(wr).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("doc").alias("doc_id"),
                    F.col("chunk_number").alias("best_chunk"),
                    "n_chunks_hit", "score_micro", "rank"))


def bm25_prf(docs: DataFrame, query_terms: DataFrame, k: int = 10,
             k_fb: int = 3, m: int = 5, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Pseudo-relevance-feedback query expansion — the RM3 / Rocchio
    shape every Lucene-era stack ships (Anserini's ``-rm3`` flag,
    Abdul-Jaleel et al. TREC 2004): a first BM25 pass retrieves the
    ``k_fb`` feedback documents per query, the ``m`` highest-weighted
    NEW terms from those documents (weight = feedback term frequency ×
    corpus idf — the integer-exact RM1 surrogate) are appended to the
    query, and a second BM25 pass over the expanded query produces the
    final ranking — (query_id, doc_id, n_terms, score_micro, rank),
    the same contract as ``bm25_topk`` (n_terms counts matched
    EXPANDED terms).

    Determinism: the expansion weight reuses the scoring path's
    idf_micro expression verbatim (the one transcendental rounded to
    integer micro-units immediately), so weights are products of exact
    integers and the top-m cut under (weight desc, term asc) is
    engine-portable — the oracle replays the whole two-pass flow.

    Plan shape (100 TB): the feedback fetch joins the corpus against a
    BROADCAST k_fb-rows-per-query id list; candidate terms are the
    feedback docs' vocabulary (bounded by k_fb docs × doc length per
    query — metadata-sized); the second pass does NOT rescan per term
    set — one tf relation is built over (original ∪ candidate) terms
    via a broadcast semi-join and localCheckpointed, then BOTH the
    expansion weights (via its df aggregation) and the final scoring
    read that candidate-sized table.  Total corpus scans: pass-1
    scoring + one combined pass-2/weights scan — independent of m."""
    # ONE regex tokenize pass serves the WHOLE two-pass flow: the
    # exploded (doc_id, term, dl) relation is checkpointed once and
    # feeds pass-1 scoring, the feedback tfs, the pass-2 tf relation
    # AND total_len — the previous form re-ran the corpus tokenize for
    # each (pass-1 tok, pass-1 stats, feedback tok, pass-2 tok, prf
    # stats: five regex passes, §1.2).  Value-identical: every
    # consumer reads the same exploded rows it used to derive itself.
    tok = (docs.select(F.col(id_col).alias("doc_id"),
                       _tokens(F.col(text_col)).alias("__toks"))
           .select("doc_id",
                   F.explode(F.col("__toks")).alias("term"),
                   F.size(F.col("__toks")).alias("dl"))
           .localCheckpoint(eager=True))
    # stats WITHOUT a second tokenize: n_docs is a regex-free count;
    # total_len = Σ per-doc dl over the token relation (docs absent
    # from it are empty and add 0; the all-empty corpus keeps its
    # exact 0 via the n_docs guard, the empty corpus stays NULL)
    tl = (tok.groupBy("doc_id").agg(F.first("dl").alias("dl"))
          .agg(F.sum(F.col("dl").cast("long")).alias("__tl")))
    stats = (docs.select(F.count(F.lit(1)).alias("n_docs"))
             .crossJoin(tl)
             .select("n_docs",
                     F.when(F.col("n_docs") == 0,
                            F.lit(None).cast("long"))
                     .otherwise(F.coalesce(F.col("__tl"),
                                           F.lit(0).cast("long")))
                     .alias("total_len")))
    # pass 1: feedback documents (scored off the shared token relation)
    fb = (bm25_topk(docs, query_terms, k=k_fb,
                    id_col=id_col, text_col=text_col,
                    tok=tok, stats=stats)
          .select("query_id", "doc_id"))
    # candidate expansion terms: per-query feedback term frequencies
    fb_tf = (tok.join(F.broadcast(fb), "doc_id")
             .groupBy("query_id", "term")
             .agg(F.count(F.lit(1)).alias("tf_fb"))
             .localCheckpoint(eager=True))
    all_terms = (query_terms.select("term")
                 .union(fb_tf.select("term")).distinct())
    # ONE token-relation scan builds the tf relation for original +
    # candidate terms; it feeds the expansion df, the final df, and
    # the scoring
    tf2 = (tok.join(F.broadcast(all_terms), "term", "left_semi")
           .groupBy("doc_id", "term")
           .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
           .localCheckpoint(eager=True))
    df2 = tf2.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_micro = F.round(
        F.log((((F.lit(2.0) * (F.col("n_docs") - F.col("df"))) + F.lit(1.0))
               / ((F.lit(2.0) * F.col("df")) + F.lit(1.0))) + F.lit(1.0))
        * F.lit(1000000.0)).cast("long")
    wts = (fb_tf.join(F.broadcast(df2), "term")
           .crossJoin(F.broadcast(stats))
           .withColumn("w", F.col("tf_fb") * idf_micro)
           .join(query_terms.select("query_id", "term"),
                 ["query_id", "term"], "left_anti"))
    we = Window.partitionBy("query_id").orderBy(F.desc("w"), F.col("term"))
    expansion = (wts.withColumn("rn", F.row_number().over(we))
                 .filter(F.col("rn") <= m)
                 .select("query_id", "term"))
    qt2 = query_terms.select("query_id", "term").union(expansion)
    return rank_topk(score_tf(tf2, qt2, stats), k)


def minmax_fuse(text_topk: DataFrame, vec_topk: DataFrame,
                k: int = 10) -> DataFrame:
    """Score-based hybrid fusion — the standard alternative to RRF when
    score magnitudes matter: each leg's top-k scores are min-max
    normalized to ppm WITHIN its (query, leg) list, then summed —
    (query_id, doc_id, text_norm_ppm, vec_norm_ppm, fused_ppm, rank).

    Inputs are the two ranked lists: ``text_topk`` (query_id, doc_id,
    score_micro — integer BM25) and ``vec_topk`` (query_id, vec_id,
    score — 6-dp cosine).  The cosine is fixed-pointed to micro-units
    first (exact: it is already rounded at 6 dp), so every
    normalization is integer arithmetic — (1e6·(s−min)) div (max−min),
    a degenerate single-score list normalizing to 1e6 — and the fusion
    is engine-portable.  A missing leg contributes 0.  Both inputs are
    k-row-per-query lists, so all windows and the join are
    candidate-sized."""
    def norm(df, score_col, out):
        return df.withColumn(
            out,
            F.when(F.col("__mx") == F.col("__mn"),
                   F.lit(1000000).cast("long"))
             .otherwise(F.expr(f"(1000000 * ({score_col} - __mn)) "
                               f"div (__mx - __mn)")))

    t = (text_topk.select("query_id", "doc_id", "score_micro")
         .withColumn("__mn", F.min("score_micro")
                     .over(Window.partitionBy("query_id")))
         .withColumn("__mx", F.max("score_micro")
                     .over(Window.partitionBy("query_id"))))
    t = norm(t, "score_micro", "text_norm_ppm").select(
        "query_id", "doc_id", "text_norm_ppm")
    v = (vec_topk.select(
            "query_id", F.col("vec_id").alias("doc_id"),
            F.round(F.col("score") * F.lit(1000000.0)).cast("long")
             .alias("smicro"))
         .withColumn("__mn", F.min("smicro")
                     .over(Window.partitionBy("query_id")))
         .withColumn("__mx", F.max("smicro")
                     .over(Window.partitionBy("query_id"))))
    v = norm(v, "smicro", "vec_norm_ppm").select(
        "query_id", "doc_id", "vec_norm_ppm")
    both = t.join(v, ["query_id", "doc_id"], "full_outer")
    scored = (both
              .withColumn("text_norm_ppm",
                          F.coalesce("text_norm_ppm", F.lit(0))
                          .cast("long"))
              .withColumn("vec_norm_ppm",
                          F.coalesce("vec_norm_ppm", F.lit(0))
                          .cast("long"))
              .withColumn("fused_ppm",
                          (F.col("text_norm_ppm")
                           + F.col("vec_norm_ppm")).cast("long")))
    w = Window.partitionBy("query_id").orderBy(F.desc("fused_ppm"),
                                               F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "text_norm_ppm", "vec_norm_ppm",
                    "fused_ppm", "rank"))


def rrf_fuse(text_ranked: DataFrame, vec_ranked: DataFrame, k: int = 10,
             c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of a keyword ranking (query_id, doc_id,
    rank) and a vector ranking (query_id, vec_id, rank) over the same id
    space — (query_id, doc_id, text_rank, vec_rank, rrf_micro, rank).

    Per-leg contribution floor(1e6 / (c + rank)) is an exact integer, so
    the fused score is engine-portable; a missing leg contributes 0 and
    reports rank 0 (never null — nullable ints round-trip badly through
    Arrow/pandas dtype inference).  Both inputs are top-k lists — a few
    k rows per query — so the fusion join is broadcast-sized by
    construction; only the two upstream rankings touch the corpus."""
    t = (text_ranked.select("query_id", "doc_id",
                            F.col("rank").alias("text_rank")))
    v = (vec_ranked.select("query_id",
                           F.col("vec_id").alias("doc_id"),
                           F.col("rank").alias("vec_rank")))
    both = t.join(v, ["query_id", "doc_id"], "full_outer")
    part = (F.when(F.col("text_rank").isNotNull(),
                   F.floor(F.lit(1000000.0) / (F.lit(c) + F.col("text_rank"))))
            .otherwise(F.lit(0)) +
            F.when(F.col("vec_rank").isNotNull(),
                   F.floor(F.lit(1000000.0) / (F.lit(c) + F.col("vec_rank"))))
            .otherwise(F.lit(0)))
    scored = (both.withColumn("rrf_micro", part.cast("long"))
              .withColumn("text_rank",
                          F.coalesce(F.col("text_rank"), F.lit(0))
                          .cast("int"))
              .withColumn("vec_rank",
                          F.coalesce(F.col("vec_rank"), F.lit(0))
                          .cast("int")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"),
                                               F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "text_rank", "vec_rank",
                    "rrf_micro", "rank"))


def hybrid_search_indexed(text_index, ivf_index, query_terms: DataFrame,
                          queries: DataFrame, k: int = 10, c: int = 60,
                          nprobe: int = 1, use_adc: bool = False,
                          doc_filter=None, id_filter=None) -> DataFrame:
    """Hybrid retrieval over two PERSISTED indexes — the serving-path
    composition of store/text_index.TextIndex (keyword leg: reads only
    the query terms' posting buckets) and store/ivf_index.IVFIndex
    (vector leg: probes only ``nprobe`` cells; ``use_adc=True`` scores
    the PQ codes instead of raw vectors — the compressed-serving
    variant), fused by RRF.  Neither leg scans a corpus; both read
    pruned partitions of a pre-built index — the 100 TB serving shape
    (the scan-path twin is VectorStore.hybrid_search).

    ``doc_filter`` / ``id_filter`` make this FILTERED hybrid serving —
    the most common production query ("top-k for this tenant/namespace,
    keyword + vector") as one call, the hybrid twin of the reference's
    partition-key-filtered vector search (CosmosDBClientWrapper.cs:
    117-146).  ``doc_filter`` is a Column predicate over the keyword
    leg's ``doc_id``; ``id_filter`` the same restriction over the
    vector leg's ``vec_id`` (two Column objects because each leg binds
    its own id column).  BOTH legs apply the predicate BEFORE their
    top-k and therefore before fusion — each leg's k survivors already
    satisfy the filter, so fused ranks equal the scan-path filtered
    hybrid (filter-then-rank, never rank-then-filter which could
    return < k matching rows while matches exist).  The vector leg's
    cut happens pre-scoring on the pruned cell scan (both the raw and
    the ADC path); the keyword leg's post-scoring with corpus-level
    idf (Lucene filtered-query semantics).

    Round 12: the keyword leg routes through ``wand_search`` — exact
    (bit-identical to ``search``, so the fusion oracle is unchanged)
    but k-bound on common terms: segments whose block-max score
    ceilings cannot reach the running kth score are never read, so a
    hot term's cold segments drop out of the hybrid serving scan too
    (single-segment indexes degrade to ``search`` automatically)."""
    # the two legs are independent until fusion, and each does eager
    # driver work up front (binding its query batch once, wand's
    # dictionary/seed passes, the vector leg's probe planning) —
    # prepare them CONCURRENTLY (guide §2.6) so one leg's jobs
    # back-fill the other's scheduling gaps; both legs then read only
    # JVM-local copies of the caller's frames, so the fused plan never
    # re-runs the caller's plans
    from document_vector_pipeline_spark.functions.par import run_parallel

    def text_leg():
        return text_index.wand_search(query_terms, k=k,
                                      doc_filter=doc_filter).select(
            "query_id", "doc_id", "rank")

    def vec_leg():
        if use_adc:
            return ivf_index.search_many_adc(queries, k=k, nprobe=nprobe,
                                             id_filter=id_filter)
        return ivf_index.search_many(queries, k=k, nprobe=nprobe,
                                     id_filter=id_filter)

    text, vec_ranked = run_parallel(text_leg, vec_leg)
    vec = vec_ranked.select("query_id", "vec_id", F.col("rank").cast("int")
                            .alias("rank"))
    return rrf_fuse(text, vec, k=k, c=c)


def stub_cross_encoder(pairs: list) -> list:
    """Deterministic stand-in for a cross-encoder scoring client — the
    same stand-in philosophy as the hash embedder and the quality-model
    stub weights: score(q, d) = md5("q\\x1f d")'s first 15 hex digits
    mod 1,000,001, in [0, 1] at micro precision.  Exactly mirrorable in
    ANSI SQL (md5 + substr + mod), so the oracle can replay the rerank;
    swap in a real model client at deployment — every Spark-side shape
    stays identical.  Self-contained (hashlib only): cloudpickles by
    value with no reference to this package."""
    import hashlib

    out = []
    for q, d in pairs:
        h = hashlib.md5(f"{q}\x1f{d}".encode("utf-8")).hexdigest()
        out.append((int(h[:15], 16) % 1000001) / 1e6)
    return out


def rerank_with_client(candidates: DataFrame, client,
                       k: int = 10,
                       query_col: str = "query_text",
                       text_col: str = "text",
                       batch_size: int = 10,
                       max_retries: int = 100,
                       retry_delay_s: float = 10.0,
                       retry_on=(429, 401)) -> DataFrame:
    """Cross-encoder reranking of a fused candidate list via an
    injectable scoring client — the industry-standard final retrieval
    stage (rerank the hybrid top-k with a (query, document) model),
    with the SAME seam discipline as embed_with_client
    (operators/embed.py, mirroring BlobTriggerFunction.cs:118-160's
    batch/retry contract): ``client`` is any
    ``Callable[[list[tuple[str, str]]], list[float]]``, cloudpickled
    by value, sliced into ``batch_size`` call groups, retried on a
    status in ``retry_on`` up to ``max_retries`` with
    ``retry_delay_s`` between attempts.

    Input: ``candidates`` with (query_id, doc_id, ``query_col``,
    ``text_col``) — k rows per query by construction (the fused
    top-k), so the model stage is candidates-sized no matter the
    corpus.  Output: (query_id, doc_id, rr_score_micro, rank) ranked
    by (score desc, doc_id) per query.  Scores are fixed-pointed to
    exact micro integers (int(round(s·1e6)) — exact for any client
    emitting micro-precision values), so ranking is engine-portable.

    Plan: ONE map-only mapInPandas over the candidate rows (no
    shuffle), then the per-query rank window on ≤ k·n_queries rows."""
    import time

    from pyspark.sql import types as T

    base = candidates.select("query_id", "doc_id",
                             F.col(query_col).alias("__q"),
                             F.col(text_col).alias("__d"))
    schema = T.StructType([
        T.StructField("query_id", base.schema["query_id"].dataType),
        T.StructField("doc_id", base.schema["doc_id"].dataType),
        T.StructField("rr_score_micro", T.LongType()),
    ])

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            pairs = list(zip(pdf["__q"].tolist(), pdf["__d"].tolist()))
            scores: list = []
            for s in range(0, len(pairs), batch_size):
                group = pairs[s:s + batch_size]
                attempt = 0
                while True:
                    try:
                        got = client(group)
                        break
                    except Exception as e:
                        status = getattr(e, "status_code", None)
                        if (status not in retry_on
                                or attempt >= max_retries):
                            raise
                        attempt += 1
                        if retry_delay_s:
                            time.sleep(retry_delay_s)
                if len(got) != len(group):
                    raise ValueError(
                        f"rerank client returned {len(got)} scores "
                        f"for a batch of {len(group)} pairs")
                scores.extend(got)
            out = pdf[["query_id", "doc_id"]].copy()
            out["rr_score_micro"] = [int(round(s * 1e6)) for s in scores]
            yield out

    scored = base.mapInPandas(run, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rr_score_micro"), F.col("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k))


def ndcg_discounts(k: int) -> list[int]:
    """Micro-integer rank discounts round(1e6 / log2(rank+1)) for ranks
    1..k, computed ONCE driver-side (half-away-from-zero, matching SQL
    round).  Positions are fixed, so shipping them as literals removes
    the only transcendental from ranking evaluation — Spark and the
    DuckDB oracle consume the SAME integers and every downstream number
    is an exact sum/division."""
    import math

    return [int(1000000.0 / math.log2(r + 1) + 0.5) for r in range(1, k + 1)]


def ranking_eval(ranked: DataFrame, qrels: DataFrame,
                 k: int = 10) -> DataFrame:
    """Graded ranking-quality evaluation — the scorecard every retrieval
    stack ships (TREC / BEIR metrics): per query over a (query_id,
    doc_id, rank ≤ k) ranking and a (query_id, doc_id, rel > 0) qrels
    table, reports (query_id, n_rel, n_hit, p_at_k_ppm, mrr_micro,
    ndcg_ppm) — all exact integers.

    Exactness: DCG's 1/log2(rank+1) discounts come from
    ``ndcg_discounts`` as micro-integer literals, so DCG = Σ rel·disc
    and IDCG (the same discounts against the rel-sorted ideal prefix)
    are integer sums; nDCG is an integer ppm division; MRR is
    round(1e6 / first-relevant-rank).  Queries with no relevant hit in
    the top-k score 0 (never null).

    Plan: ``ranked`` is ≤ k rows per query by construction and qrels is
    eval-set-sized, so every join here is broadcast-scale; the ideal
    ranking is a per-query window over the qrels rows alone (the corpus
    is never touched — only the upstream ranking saw it)."""
    spark = ranked.sparkSession
    disc = local_df(
        spark,
        [(r + 1, d) for r, d in enumerate(ndcg_discounts(k))],
        "rank int, disc long")
    # enforce the rel > 0 ingress contract instead of assuming it: a
    # query whose qrels rows are all rel <= 0 (or NULL) would otherwise
    # reach the ndcg division with idcg_micro = 0.  Such queries have
    # no relevant documents — they drop out of the scorecard entirely.
    qr = (qrels.select("query_id", "doc_id",
                       F.col("rel").cast("long").alias("rel"))
          .filter(F.col("rel") > 0))
    hits = (ranked.select("query_id", "doc_id", F.col("rank").cast("int")
                          .alias("rank"))
            .join(qr, ["query_id", "doc_id"])
            .join(F.broadcast(disc), "rank"))
    per_hit = (hits.groupBy("query_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_hit"),
                    F.sum(F.col("rel") * F.col("disc")).alias("dcg_micro"),
                    F.min("rank").alias("first_rel_rank")))
    iw = Window.partitionBy("query_id").orderBy(F.desc("rel"), "doc_id")
    ideal = (qr.withColumn("irank", F.row_number().over(iw))
             .filter(F.col("irank") <= k)
             .join(F.broadcast(disc.select(F.col("rank").alias("irank"),
                                           "disc")), "irank")
             .groupBy("query_id")
             .agg(F.sum(F.col("rel") * F.col("disc")).alias("idcg_micro")))
    n_rel = qr.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel"))
    return (n_rel.join(ideal, "query_id")
            .join(per_hit, "query_id", "left")
            .select(
                "query_id", "n_rel",
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                F.expr(f"(1000000 * coalesce(n_hit, 0)) div {k}")
                 .alias("p_at_k_ppm"),
                F.coalesce(
                    F.round(F.lit(1000000.0) / F.col("first_rel_rank"))
                     .cast("long"), F.lit(0)).alias("mrr_micro"),
                F.expr("(1000000 * coalesce(dcg_micro, 0))"
                       " div idcg_micro").alias("ndcg_ppm"))
            .orderBy("query_id"))
