"""Similarity search (ANN) over an embedding column (SURVEY.md §2 #18-20).

Three strategies, one contract — (query_id, vec_id, score, rank):

- brute_force_topk: exact cosine top-k.  The query set is broadcast (it is
  small by definition), the corpus is scanned once, ranking is a window
  per query.  No corpus shuffle besides the rank — at 100 TB this is the
  "baseline scan" and parallelizes linearly with executors.
- brute_force_topk_np: same semantics, numpy matmul via mapInPandas with
  per-partition partial top-k (the Arrow fast path for wide vectors; also
  demonstrates the partial-topk pattern that keeps the final shuffle tiny:
  k rows per partition per query instead of the whole corpus).
- lsh_ann: random-hyperplane LSH — deterministic md5-derived hyperplanes,
  signature buckets, candidates from bucket equality, exact rerank within
  the bucket.  The scale path: the corpus-side work is a narrow map to a
  bucket key + an equi-join on it.
- ivf_ann: IVF-style coarse quantization — deterministic seed centroids,
  assign-to-nearest partition of the corpus, probe the nprobe closest
  centroids per query.  The bucketed layout is exactly what you'd persist
  for repeated queries at 100 TB (partition pruning on centroid id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_vector_pipeline_spark.functions.localrel import (
    local_df,
    release_checkpoint,
)

from document_vector_pipeline_spark.functions.hashing import md5_long
from document_vector_pipeline_spark.functions.vectors import cosine_similarity


def _ranked(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "score", "rank"))


def _live_vectors(df: DataFrame, col: str) -> DataFrame:
    """Drop rows whose vector column is NULL — the ingress rule for
    every vector operator: a null vector cannot be scored, encoded or
    ranked, so it doesn't participate (SQL aggregate null semantics).
    At 100 TB a dirty row must degrade to a skipped row, never kill the
    job or poison a numpy batch."""
    return df.filter(F.col(col).isNotNull())


def _score_topk_np(corpus: DataFrame, queries: DataFrame, k: int,
                   id_col: str, vec_col: str, qid_col: str, qvec_col: str,
                   lo: float | None = None, hi: float | None = None,
                   exclude_self: bool = False) -> DataFrame:
    """Exact Arrow scorer + per-batch partial top-k for broadcast-query
    cosine ops: numpy products with a sequential cumsum replay the
    round(cosine_similarity(...), 6) expression bit-for-bit (the same
    contract proven for VectorStore._score_cut_np — both row and query
    norms are per-row sequential folds here), py_round6_np replays
    Round(_, 6).  Optional [lo, hi) band filter and self-id exclusion
    happen before the cut, so only in-band candidate rows leave each
    batch.  Queries are collected (small-by-definition, the same
    assumption the broadcast join makes)."""
    import numpy as np

    from document_vector_pipeline_spark.functions.vectors import py_round6_np

    corpus = _live_vectors(corpus, vec_col)
    q_rows = _live_vectors(queries, qvec_col).select(
        qid_col, qvec_col).collect()
    qids = [r[0] for r in q_rows]
    qvecs = [np.asarray([float(x) for x in r[1]], dtype=np.float64)
             for r in q_rows]
    qnorms = [float(np.sqrt(np.cumsum(v * v)[-1])) if v.size else 0.0
              for v in qvecs]
    qid_type = queries.schema[qid_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    schema = f"query_id {qid_type}, vec_id {id_type}, score double"

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            vnorm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            ids = pdf[id_col].to_numpy()
            outs = []
            for qi, qid in enumerate(qids):
                if V.shape[1] != qvecs[qi].size:
                    # named error instead of numpy's opaque
                    # could-not-broadcast (same contract as
                    # VectorStore._score_cut_np's dimension guard)
                    raise ValueError(
                        f"query vector dimension {qvecs[qi].size} != "
                        f"corpus embedding dimension {V.shape[1]}")
                dots = np.cumsum(V * qvecs[qi][None, :], axis=1)[:, -1]
                denom = vnorm * qnorms[qi]
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = dots / denom
                scores = py_round6_np(np.where(denom == 0.0, 0.0, s))
                mask = np.ones(len(scores), dtype=bool)
                if lo is not None:
                    mask &= scores >= lo
                if hi is not None:
                    mask &= scores < hi
                if exclude_self:
                    mask &= ids != qid
                out = pd.DataFrame({"query_id": qid, "vec_id": ids[mask],
                                    "score": scores[mask]})
                if k is not None:
                    out = out.sort_values(
                        ["score", "vec_id"], ascending=[False, True],
                        kind="mergesort").head(k)
                outs.append(out)
            yield pd.concat(outs, ignore_index=True)

    return corpus.select(id_col, vec_col).mapInPandas(run, schema)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "query_id",
                     qvec_col: str = "query_vec",
                     use_udf: bool = True) -> DataFrame:
    """Exact cosine top-k; `queries` (qid, qvec) is broadcast.

    ``use_udf=True`` (default) scores + partial-cuts in one Arrow pass
    (bit-identical, see _score_topk_np); ``use_udf=False`` keeps the
    broadcast-join + interpreted-fold plan as the oracle-facing twin."""
    corpus = _live_vectors(corpus, vec_col)
    queries = _live_vectors(queries, qvec_col)
    if use_udf:
        return _ranked(_score_topk_np(corpus, queries, k, id_col, vec_col,
                                      qid_col, qvec_col), k)
    scored = (corpus.select(F.col(id_col).alias("vec_id"),
                            F.col(vec_col).alias("v"))
              .join(F.broadcast(queries.select(
                  F.col(qid_col).alias("query_id"),
                  F.col(qvec_col).alias("q"))))
              .withColumn("score", F.round(cosine_similarity("v", "q"), 6)))
    return _ranked(scored, k)


def brute_force_topk_np(corpus: DataFrame, queries: DataFrame, k: int = 10,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        qid_col: str = "query_id",
                        qvec_col: str = "query_vec") -> DataFrame:
    """Same result as brute_force_topk via numpy matmul per Arrow batch +
    per-partition partial top-k (only k rows per partition reach the final
    rank)."""
    import numpy as np

    corpus = _live_vectors(corpus, vec_col)
    q_rows = _live_vectors(queries, qvec_col).select(
        qid_col, qvec_col).collect()
    out_schema = "query_id long, vec_id long, score double"
    if not q_rows:
        # no queries → typed-empty result (np.linalg.norm(axis=1) on a
        # zero-row matrix would raise instead)
        return queries.sparkSession.createDataFrame([], out_schema)
    q_ids = [r[0] for r in q_rows]
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0
    qn = q_mat / q_norm[:, None]

    def score_partition(batches):
        import pandas as pd
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m / norms[:, None]) @ qn.T          # (rows, nq)
            for qi, qid in enumerate(q_ids):
                s = sims[:, qi]
                top = np.argsort(-s, kind="stable")[:k]
                yield pd.DataFrame({
                    "query_id": qid,
                    "vec_id": pdf[id_col].iloc[top].to_numpy(),
                    "score": np.round(s[top], 6),
                })

    partial = corpus.select(id_col, vec_col).mapInPandas(score_partition,
                                                         out_schema)
    return _ranked(partial, k)


def hyperplane_coefs(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane coefficients (plain Python —
    they are query *metadata*, computed once at plan-build time, never per
    row): coef(t, p, d) = (md5_int('t<t>_p<p>_<d>') % 2001 - 1000) / 1000."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"t{table}_p{plane}_{d}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def lsh_signature(vec, table: int, planes: int, dim: int):
    """Bit-string signature: sign of dot(v, hyperplane_p) for each p."""
    bits = []
    for p in range(planes):
        hp = F.array(*[F.lit(c) for c in hyperplane_coefs(table, p, dim)])
        d = F.aggregate(F.zip_with(vec, hp, lambda x, h: x.cast("double") * h),
                        F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(d > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_signatures(vec, tables: int, planes: int, dim: int):
    """array<struct<t,sig>>: one signature per hash table (multi-table LSH
    — candidates are the union over tables, the standard recall lever)."""
    return F.array(*[
        F.struct(F.lit(t).alias("t"),
                 lsh_signature(vec, t, planes, dim).alias("sig"))
        for t in range(tables)])


def make_lsh_sig_udf(tables: int, planes: int, dim: int):
    """Arrow-batched signature computation, BIT-IDENTICAL to the expression
    path: per-element products round the same way in both engines, and
    ``np.cumsum`` accumulates sequentially — the same left-associative IEEE
    order as the ``F.aggregate`` fold — so every sign bit agrees exactly.
    One matmul-shaped pass replaces tables×planes interpreted folds AND
    keeps tables×planes×dim literal doubles out of the Catalyst plan
    (analysis cost grows with the literal tree)."""
    import numpy as np

    h = np.array([[hyperplane_coefs(t, p, dim) for p in range(planes)]
                  for t in range(tables)])          # (T, P, D) float64

    @F.pandas_udf("array<string>")
    def sig_udf(vecs):
        import pandas as _pd
        n = len(vecs)
        if n == 0:
            return _pd.Series([], dtype=object)
        T, P, D = h.shape
        V = np.empty((n, D), dtype=np.float64)      # float32 → exact
        for i, v in enumerate(vecs):
            a = np.asarray(v, dtype=np.float64)
            if a.size != D:
                raise ValueError(
                    f"lsh signature: vector dimension {a.size} != "
                    f"configured dim {D}")
            V[i] = a
        # accumulate component-by-component: acc_d = acc_{d-1} + v_d·h_d
        # is EXACTLY the left-associative IEEE order of the old per-row
        # np.cumsum(...)[..., -1] (0.0 + x == x exactly), vectorized
        # across the whole batch instead of a Python loop per row
        dots = np.zeros((n, T, P), dtype=np.float64)
        for d in range(D):
            dots += V[:, d, None, None] * h[None, :, :, d]
        bits = dots > 0                              # (n, T, P)
        chars = np.where(bits, b"1", b"0").astype("S1")
        strs = (np.ascontiguousarray(chars).view(f"S{P}")[:, :, 0]
                .astype(f"U{P}"))                    # (n, T) of '01...' str
        return _pd.Series(strs.tolist())

    return sig_udf


def lsh_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
            planes: int = 8, tables: int = 4, dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "query_id", qvec_col: str = "query_vec",
            use_udf: bool = True) -> DataFrame:
    """Bucketed ANN: candidates share a hyperplane signature in ≥1 of the
    `tables` hash tables; exact cosine rerank on the candidate union.
    Recall < 1 by design; the bucket join replaces the full scan.
    Signatures come from the Arrow UDF (default) or the pure-expression
    fold (``use_udf=False``) — value-identical, equivalence-tested."""
    corpus = _live_vectors(corpus, vec_col)
    queries = _live_vectors(queries, qvec_col)
    if use_udf:
        sig_udf = make_lsh_sig_udf(tables, planes, dim)

        def tagged(df, idc, vc, out_id):
            return (df.select(F.col(idc).alias(out_id), F.col(vc).alias("__v"),
                              F.posexplode(sig_udf(F.col(vc)))
                              .alias("t", "sig")))

        c = tagged(corpus, id_col, vec_col, "vec_id") \
            .withColumnRenamed("__v", "v")
        q = tagged(queries, qid_col, qvec_col, "query_id") \
            .withColumnRenamed("__v", "q")
    else:
        c = (corpus.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("v"),
                           F.explode(lsh_signatures(F.col(vec_col), tables,
                                                    planes, dim)).alias("ts"))
             .select("vec_id", "v", F.col("ts.t").alias("t"),
                     F.col("ts.sig").alias("sig")))
        q = (queries.select(F.col(qid_col).alias("query_id"),
                            F.col(qvec_col).alias("q"),
                            F.explode(lsh_signatures(F.col(qvec_col), tables,
                                                     planes, dim)).alias("ts"))
             .select("query_id", "q", F.col("ts.t").alias("t"),
                     F.col("ts.sig").alias("sig")))
    cand = (c.join(F.broadcast(q), ["t", "sig"])
            .select("query_id", "vec_id", "v", "q")
            .dropDuplicates(["query_id", "vec_id"]))
    scored = cand.withColumn("score", F.round(cosine_similarity("v", "q"), 6))
    return _ranked(scored, k)


def ivf_centroids(corpus: DataFrame, n_centroids: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse centroids: the n vectors with the smallest
    md5_long(vec_id) (a uniform pseudo-random sample, stable across runs
    and engines)."""
    return (_live_vectors(corpus, vec_col)
            .select(F.col(id_col).alias("centroid_id"),
                    F.col(vec_col).alias("centroid"),
                    md5_long(F.col(id_col).cast("string")).alias("h"))
            .orderBy("h", "centroid_id").limit(n_centroids)
            .select("centroid_id", "centroid"))


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its max-cosine centroid — MAP-ONLY.

    The centroid table is index metadata (n_centroids rows); collecting
    it and baking the vectors in as literals turns the assignment into an
    argmin expression per row (array_min over struct(-score, id)) instead
    of a broadcast join + row_number window — the window's
    partitionBy(vec_id) was a full-corpus shuffle, the one cost that
    can't be afforded at 100 TB.  Value-identical: same rounded cosine
    fold, and min(-score, centroid_id) picks max score with ties to the
    smallest centroid_id exactly like the window's (desc score,
    centroid_id) order."""
    corpus = _live_vectors(corpus, vec_col)
    cents = centroids.select("centroid_id", "centroid").collect()
    if not cents:
        # empty corpus trains no centroids; typed-empty assignment (the
        # argmin expression below would not analyze over a zero-arm array)
        cid_t = centroids.schema["centroid_id"].dataType.simpleString()
        return (corpus.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("v"),
                              F.lit(None).cast(cid_t).alias("centroid_id"))
                .filter(F.lit(False)))
    cands = []
    for r in cents:
        carr = F.array(*[F.lit(float(x)) for x in r["centroid"]])
        s = F.round(cosine_similarity(F.col("v"), carr), 6)
        cands.append(F.struct((-s).alias("ns"),
                              F.lit(r["centroid_id"]).alias("cid")))
    best = F.array_min(F.array(*cands))
    return (corpus.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
            .withColumn("centroid_id", best["cid"])
            .select("vec_id", "v", "centroid_id"))


def ivf_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
            n_centroids: int = 8, nprobe: int = 2,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "query_id", qvec_col: str = "query_vec",
            id_filter=None, cents: DataFrame | None = None,
            assigned: DataFrame | None = None) -> DataFrame:
    """IVF-style ANN: search only the nprobe centroid cells closest to the
    query.  Recall < 1 by design.  ``id_filter`` is filtered-ANN
    semantics: the predicate cuts the assigned rows BEFORE scoring
    (centroids stay full-corpus — the filter changes candidacy, never
    assignment).  ``cents`` injects precomputed centroids (nsw_recall
    shares one table across its two rungs).  ``assigned`` injects the
    already-materialized (and already-id_filtered) assignment table —
    the assignment is nprobe-independent, so a sweep caller
    (ivf_tuning / ivf_filtered_tuning) pays the full-corpus assignment
    scan once instead of once per probe count; requires ``cents``."""
    if cents is None:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    if assigned is None:
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        if id_filter is not None:
            assigned = assigned.filter(id_filter)
    q = _live_vectors(queries, qvec_col).select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("q"))
    qc = (q.join(F.broadcast(cents))
          .withColumn("cscore", F.round(cosine_similarity("q", "centroid"), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cscore"),
                                               F.col("centroid_id"))
    probes = (qc.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= nprobe)
              .select("query_id", "q", "centroid_id"))
    scored = (assigned.join(F.broadcast(probes), "centroid_id")
              .withColumn("score", F.round(cosine_similarity("v", "q"), 6)))
    return _ranked(scored, k)


def pq_fixed_point(vec, dim: int):
    """array<long>: L2-normalize then scale to 1e-6 fixed-point units —
    the exact-integer domain every PQ computation below lives in (integer
    distances / dots are associative, so results are invariant to plan
    shape and bit-identical across engines; same idiom as label_centroids
    and the store's quantized search).

    The doubled array and its norm are bound ONCE through
    functions/expr.bound (round 13): the naive form inlined the O(dim)
    sum-of-squares into every element of the output transform, making
    the expression O(dim²) per row — invisible at dim=64 (4k ops), a
    2.4M-op-per-row cliff at the production dim=1536 (the exact
    landmine normalize/quantize_int8 already guard against).
    Value-identical: same left-fold accumulation order, same
    per-element rounding.

    The zero-vector guard binds as a SAFE DIVISOR (nrm == 0 → 1.0,
    and x / 1.0 ≡ x in IEEE) rather than a per-element CASE WHEN: a
    `when` that references an outer bound lambda variable inside a
    nested HOF lambda defeats Spark's Python-UDF extraction (the OPQ
    rotation UDF then lands in an InterpretedUnsafeProjection and
    throws INTERNAL_ERROR — observed on Spark 4.1, pinned in
    tests/test_similarity.py)."""
    from document_vector_pipeline_spark.functions.expr import bound

    vd = F.transform(vec, lambda x: x.cast("double"))

    def _nrm(v):
        return F.sqrt(F.aggregate(v, F.lit(0.0),
                                  lambda acc, x: acc + x * x))

    # the CASE WHEN lives in the bound VALUE (its branches re-derive
    # the O(dim) norm, so the guard costs one extra fold per row, not
    # one per element) — putting it inside ANY lambda body re-triggers
    # the extraction bug above
    return bound(vd, lambda v: bound(
        F.when(_nrm(v) == 0, F.lit(1.0)).otherwise(_nrm(v)),
        lambda sn: F.transform(
            v, lambda x: F.round(x / sn * 1e6, 0).cast("long"))))


def pq_codebook(corpus: DataFrame, n_codes: int = 16, dim: int = 64,
                id_col: str = "vec_id",
                vec_col: str = "embedding", fp=None,
                n_sub: int | None = None,
                iters: int = 0) -> list[list[int]]:
    """Deterministic PQ codebook, optionally TRAINED (round-12 verdict
    item 1).  Seeds are the fixed-point normalized vectors of the
    `n_codes` corpus rows with smallest md5_long(vec_id) (uniform
    pseudo-random sample, stable across runs and engines); with
    ``iters > 0`` and ``n_sub`` given, each of the ``n_sub`` subspaces
    then runs `iters` rounds of exact-integer Lloyd (the emb_kmeans
    machinery applied per-subspace — FAISS ``ProductQuantizer::train``'s
    shape, Jégou et al. TPAMI 2011) and codeword c is the concatenation
    of subspace centroid c, so the downstream encode/ADC shape is
    unchanged.  ``iters=0`` reproduces the round-≤11 sample codebook.

    Everything stays in the exact-integer domain so Spark and the
    DuckDB oracle cannot diverge: assignment = argmin int64 subspace
    L2 (ties to the lowest code), update = half-away-from-zero integer
    division of exact component sums, empty codes carry their previous
    centroid.  Collected to the driver — a real PQ index ships its
    trained codebook to every executor as plan metadata; ≤256×64 longs
    is nothing.  Codes are 1-based positions in (md5, vec_id) seed
    order.  ``fp`` overrides the fixed-point transform
    (opq_fixed_point injects its rotation here so the codebook lives
    in the rotated domain).

    Plan shape per training round: ONE Arrow pass over the corpus
    computing per-(subspace, code, component) partial sums (map-side
    reduced n_batches-fold), one (n_sub·n_codes·sub)-group shuffle,
    collect a few KB of update rows.  iters passes total; at 100 TB
    you train on a sampled slice like FAISS does — the pass count, not
    the corpus, is the knob."""
    fp = fp or (lambda c: pq_fixed_point(c, dim))
    live = _live_vectors(corpus, vec_col)
    # the seed cut runs BEFORE the fixed-point transform and is
    # materialized (n_codes rows) so the transform never rides inside
    # a TakeOrderedAndProject — an Arrow UDF there (opq's rotation)
    # cannot be evaluated by the JVM-side interpreted projection
    # (round 13; also avoids transforming the whole corpus just to
    # keep 256 rows)
    seeds = (live.select(F.col(vec_col).alias("_v"),
                         md5_long(F.col(id_col).cast("string")).alias("h"),
                         F.col(id_col).alias("i"))
             .orderBy("h", "i").limit(n_codes)
             .localCheckpoint(eager=True))
    rows = seeds.select(fp(F.col("_v")).alias("v6")).collect()
    cb = [list(r["v6"]) for r in rows]
    if not cb or iters <= 0 or not n_sub:
        return cb
    return _pq_lloyd(live.select(fp(F.col(vec_col)).alias("v6")),
                     cb, n_sub, dim // n_sub, iters)


def _pq_lloyd(vdf: DataFrame, cb: list[list[int]], n_sub: int,
              sub: int, iters: int) -> list[list[int]]:
    """Per-subspace exact-integer Lloyd over (v6) rows seeded with
    ``cb``: one Arrow partials pass per round covering ALL subspaces
    (assignment + component sums fused, batch-reduced before the
    (m, code, pos)-group shuffle), updates applied driver-side with
    half-away division; empty (subspace, code) cells keep their
    previous centroid.  Returns n_codes full-dim codewords."""
    import numpy as np

    C = np.array(cb, dtype=np.int64)                 # (c, dim)
    n_codes = len(cb)
    # right-size the loop input exactly like _lloyd_loop_frame: the
    # iters driver-synchronized rounds cost per-task scheduling + Arrow
    # setup on a small corpus, so collapse the cached frame to
    # ~50k-row tasks (no-op at 100 TB, where natural parallelism wins)
    cached = vdf.persist()
    n_rows = cached.count()
    parts = cached.rdd.getNumPartitions()
    target = max(1, min(parts, -(-n_rows // 50_000)))
    base_cache = cached
    if target < parts:
        # lazy re-layout of cached blocks (see _lloyd_loop_frame)
        cached = base_cache.coalesce(target)
    try:
        for _ in range(iters):
            Cb = C.copy()

            def run(batches, Cb=Cb):
                import pandas as pd
                for pdf in batches:
                    if pdf.empty:
                        continue
                    V = np.array(list(pdf["v6"]), dtype=np.int64)
                    recs = []
                    for m in range(n_sub):
                        Vm = V[:, m * sub:(m + 1) * sub]
                        Cm = Cb[:, m * sub:(m + 1) * sub]
                        best = np.empty(len(Vm), dtype=np.int64)
                        for s in range(0, len(Vm), 4096):
                            e = min(s + 4096, len(Vm))
                            D = ((Vm[s:e, None, :] - Cm[None, :, :]) ** 2
                                 ).sum(axis=2)
                            best[s:e] = D.argmin(axis=1)
                        for c in np.unique(best):
                            msk = best == c
                            s_vec = Vm[msk].sum(axis=0)
                            n = int(msk.sum())
                            recs.extend((m, int(c) + 1, p, int(s_vec[p]), n)
                                        for p in range(sub))
                    yield pd.DataFrame(
                        recs, columns=["m", "code", "pos", "s", "n"])

            upd = (cached.mapInPandas(
                       run, "m int, code int, pos int, s long, n long")
                   .groupBy("m", "code", "pos")
                   .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                   .collect())
            got = {}
            for r in upd:
                got[(r["m"], r["code"], r["pos"])] = (r["s"], r["n"])
            for m in range(n_sub):
                for c in range(1, n_codes + 1):
                    if (m, c, 0) not in got:
                        continue                    # empty cell: carry over
                    for p in range(sub):
                        C[c - 1, m * sub + p] = _div_half_away(
                            *got[(m, c, p)])
    finally:
        base_cache.unpersist()
    return [[int(x) for x in row] for row in C]


def wht_signs(dim: int) -> list[list[int]]:
    """The ±1 Walsh–Hadamard sign grid: H[i][j] = (−1)^popcount(i AND j)
    (the standard Sylvester construction for power-of-two dim) — a
    scaled orthogonal matrix, so rotating by it preserves every inner
    product up to the constant factor ``dim``."""
    if dim & (dim - 1):
        raise ValueError(f"WHT needs power-of-two dim, got {dim}")
    return [[1 - 2 * (bin(i & j).count("1") % 2) for j in range(dim)]
            for i in range(dim)]


def wht_rotate_expr(v6, dim: int):
    """Expression-path integer WHT: output j = Σ_i sign(i, j)·v6[i] —
    pure int64 sums (no division, no rounding anywhere), the
    oracle-facing twin of the Arrow path."""
    signs = wht_signs(dim)
    cols = []
    for j in range(dim):
        sj = F.array(*[F.lit(signs[i][j]) for i in range(dim)])
        cols.append(F.aggregate(F.zip_with(v6, sj, lambda a, b: a * b),
                                F.lit(0).cast("long"),
                                lambda acc, x: acc + x))
    return F.array(*cols)


def make_wht_rotate_udf(dim: int):
    """Arrow-batched integer WHT — one int64 matmul per batch,
    BIT-IDENTICAL to the fold (integer sums are associative) and it
    keeps dim² sign literals out of the Catalyst plan."""
    import numpy as np

    S = np.array(wht_signs(dim), dtype=np.int64)

    @F.pandas_udf("array<long>")
    def rot_udf(v6s):
        import pandas as _pd
        n = len(v6s)
        if n == 0:
            return _pd.Series([], dtype=object)
        A = np.stack([np.asarray(v6s.iloc[i], dtype=np.int64)
                      for i in range(n)])
        R = A @ S
        return _pd.Series([[int(x) for x in R[i]] for i in range(n)])

    return rot_udf


def np_fixed_point_fn():
    """Factory for the numpy replay of ``pq_fixed_point``,
    BIT-IDENTICAL by construction: sequential cumsum for the
    left-assoc sum of squares (the _assign_np precedent), HALF_UP
    shortest-repr rounding for Round(_, 0) (the py_round6_np
    discipline at scale 1), safe-divisor zero guard (x / 1.0 ≡ x).
    Returned as a CLOSURE so cloudpickle ships it by value — every
    Arrow consumer that must not take the expression form as its UDF
    input (the Spark 4.1 extraction bug in pq_fixed_point's
    docstring) builds its copy from here."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def fp(a) -> "np.ndarray":
        a = np.asarray(a, dtype=np.float64)
        ss = float(np.cumsum(a * a)[-1]) if a.size else 0.0
        nrm = math.sqrt(ss)
        t = a / (1.0 if nrm == 0.0 else nrm) * 1e6
        absd = np.abs(t)
        flo = np.floor(absd)
        out = np.sign(t) * np.floor(absd + 0.5)
        sus = np.nonzero(np.abs(absd - flo - 0.5) < 1e-9)[0]
        for i in sus:
            out[i] = float(Decimal(repr(float(t[i])))
                           .quantize(Decimal("1"),
                                     rounding=ROUND_HALF_UP))
        return out.astype(np.int64)

    return fp


def np_fixed_point_2d_fn():
    """Batched (B, dim) twin of ``np_fixed_point_fn`` — BIT-IDENTICAL
    per row: the same elementwise IEEE ops applied over axis 1
    (cumsum along the row replays the left-assoc sum of squares,
    np.sqrt and math.sqrt are both correctly rounded, the scalar
    divide broadcasts per row), and the rare half-tie entries
    re-round through the same Decimal(repr) path.  One numpy pass
    per Arrow batch instead of one per row (§4.2)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def fp2(A) -> "np.ndarray":
        A = np.asarray(A, dtype=np.float64)
        if A.size == 0:
            return A.astype(np.int64)
        nrm = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        denom = np.where(nrm == 0.0, 1.0, nrm)
        T = A / denom[:, None] * 1e6
        absd = np.abs(T)
        flo = np.floor(absd)
        out = np.sign(T) * np.floor(absd + 0.5)
        for r, c in zip(*np.nonzero(np.abs(absd - flo - 0.5) < 1e-9)):
            out[r, c] = float(Decimal(repr(float(T[r, c])))
                              .quantize(Decimal("1"),
                                        rounding=ROUND_HALF_UP))
        return out.astype(np.int64)

    return fp2


def pq_encode_codes_fn(cb, n_sub: int, sub: int):
    """Batched PQ encoder shared by the scan-path score UDF and the
    persisted index's encode: (B, dim) int64 fixed-point rows →
    (B, n_sub) 0-BASED codes.  argmin's first-minimum rule on exact
    int64 subspace L2 replays the struct(dist, code) lexicographic
    min, so codes are bit-identical to the per-row fold.  Chunked so
    the (chunk, n_codes, sub) distance tensor stays bounded for
    256-code production codebooks."""
    import numpy as np

    cbm = np.asarray(cb, dtype=np.int64)

    def encode(A) -> "np.ndarray":
        n = len(A)
        codes = np.empty((n, n_sub), dtype=np.int64)
        for m in range(n_sub):
            Cm = cbm[:, m * sub:(m + 1) * sub]
            for s in range(0, n, 4096):
                e = min(s + 4096, n)
                d = A[s:e, None, m * sub:(m + 1) * sub] - Cm[None, :, :]
                codes[s:e, m] = (d * d).sum(axis=2).argmin(axis=1)
        return codes

    return encode


def make_opq_fixed_point_udf(dim: int):
    """FUSED Arrow OPQ preprocessing: raw float vector → fixed-point
    normalize (np_fixed_point_2d_fn) → integer WHT rotation, in ONE
    pandas UDF.  Exists because composing the rotate UDF OVER the
    bound-form normalize EXPRESSION trips the Spark 4.1
    Python-UDF-extraction bug (see pq_fixed_point); fusing removes
    the UDF-over-HOF composition and saves an Arrow round trip.
    One batched normalize + one int64 matmul per Arrow batch (row r
    of A @ S ≡ the per-row dot — integer sums are associative, no
    rounding anywhere)."""
    import numpy as np

    S = np.array(wht_signs(dim), dtype=np.int64)
    fp2 = np_fixed_point_2d_fn()

    @F.pandas_udf("array<long>")
    def opq_fp_udf(vecs):
        import pandas as _pd
        n = len(vecs)
        out = [None] * n
        idx = [i for i in range(n) if vecs.iloc[i] is not None]
        if idx:
            A = np.stack([np.asarray(vecs.iloc[i], dtype=np.float64)
                          for i in idx])
            R = fp2(A) @ S
            for j, i in enumerate(idx):
                out[i] = [int(x) for x in R[j]]
        return _pd.Series(out)

    return opq_fp_udf


def opq_fixed_point(vec, dim: int, use_udf: bool = True):
    """The OPQ-family preprocessing: fixed-point normalize, then rotate
    by the Walsh–Hadamard isometry — OPQ (Ge et al., CVPR 2013) with
    the rotation R fixed to the structured WHT (the FJLT / random-
    rotation lineage, Ailon & Chazelle 2006; Ge et al.'s "RR" baseline
    made deterministic).  The rotation spreads each vector's energy
    evenly across dimensions, so PQ's per-subspace codebooks stop
    wasting codes on unbalanced subspace norms — measured on this
    corpus it lifts recall@10 0.28 → 0.34 (opq_recall), where the
    TRAINED variance-balancing permutation measured 0.22–0.28 and was
    rejected.  Entirely in the integer domain (rotated units are
    dim⁻¹·1e-6): signed int64 sums, nothing rounds, the oracle replays
    it relationally via bit_count parity.

    The Arrow path runs normalize + rotate FUSED in one UDF
    (make_opq_fixed_point_udf — the Spark 4.1 extraction-bug
    workaround and one fewer Arrow hop); the expression path stays
    the compositional twin the equality test pins it against."""
    if use_udf:
        return make_opq_fixed_point_udf(dim)(vec)
    return wht_rotate_expr(pq_fixed_point(vec, dim), dim)


def make_pq_score_udf(cb: list[list[int]], lut: dict, n_sub: int, sub: int):
    """Arrow-batched PQ encode+score, BIT-IDENTICAL to the expression path:
    fixed-point int64 subspace distances, np.argmin's first-min tie-break
    equals the struct (dist, code) lexicographic min, and ADC sums are
    integer.  One vectorized pass replaces ~n_sub*n_codes*sub codegen'd
    multiply-adds per row (the expression tree compiles slowly and runs
    interpreted-fold speed); returns array<long> of per-query iscores in
    sorted-query-id order.  Takes the RAW vector and replays the
    fixed-point in numpy (np_fixed_point_fn) — an expression-form v6
    input would collapse into the UDF argument and trip the Spark 4.1
    extraction bug (see pq_fixed_point)."""
    import numpy as np

    qids = sorted(lut)
    # (Q, n_sub, C) lookup of integer dots
    lutm = np.array([lut[q] for q in qids], dtype=np.int64)
    fp2 = np_fixed_point_2d_fn()
    encode = pq_encode_codes_fn(cb, n_sub, sub)

    @F.pandas_udf("array<long>")
    def score_udf(vs):
        import pandas as _pd
        n = len(vs)
        if n == 0:
            return _pd.Series([], dtype=object)
        A = fp2(np.stack([np.asarray(vs.iloc[i], dtype=np.float64)
                          for i in range(n)]))
        codes = encode(A)
        # (Q, B): Σ_m lut[q, m, codes[:, m]] — same integer gather-sum
        # as the per-row form, one vectorized pass per subspace
        isc = np.zeros((len(qids), n), dtype=np.int64)
        for m in range(n_sub):
            isc += lutm[:, m, codes[:, m]]
        return _pd.Series([[int(x) for x in isc[:, i]] for i in range(n)])

    return score_udf


def pq_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
           n_codes: int = 16, n_sub: int = 8, dim: int = 64,
           id_col: str = "vec_id", vec_col: str = "embedding",
           qid_col: str = "query_id", qvec_col: str = "query_vec",
           use_udf: bool = True, fp=None, cb_iters: int = 2,
           cb: list[list[int]] | None = None) -> DataFrame:
    """Product-quantization ANN: split `dim` into `n_sub` subspaces, encode
    every corpus vector as `n_sub` codes (argmin integer L2 to the
    codebook's subvectors), score queries by asymmetric-distance lookup —
    sum of per-subspace query×codeword integer dots.  4-bit-per-subspace
    compression (16 codes): the 100 TB story is that the scan reads
    n_sub small codes per vector instead of `dim` floats.

    Plan shape: corpus side is MAP-ONLY — the codebook and the per-query
    lookup tables are literals baked into one projection (encode = array_min
    over struct(dist, code), score = element_at per subspace).  Ranking
    is ``row_number() <= k`` per query, and Spark's optimizer inserts a
    partial WindowGroupLimit below the window's exchange that cuts each
    partition to <= k rows per query under the window's own total order
    (score desc, vec_id) — lossless, in the JVM — so the only shuffle
    moves k * n_partitions * n_queries skinny rows, never the scored
    corpus.  (The ``use_udf`` path also cuts each Arrow batch inside its
    fused scorer.)  Spark inserts the partial limit only for k below
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000): above it
    results stay correct, but every scored row reaches the exchange.
    When the codebook is trained here (``use_udf`` with no ``cb``), the
    scoring scan runs before the function returns, over the cached
    fixed-point corpus that training used, and that cache is released;
    the returned rank window reads the scorer's cut rows.
    Recall < 1 by design; scores are exact integers scaled once at the
    end."""
    sub = dim // n_sub
    fp = fp or (lambda c: pq_fixed_point(c, dim))
    corpus = _live_vectors(corpus, vec_col)
    v6df = None
    if cb is None and use_udf:
        # ONE fixed-point corpus pass serves seed cut, Lloyd training
        # AND the scoring scan (previously the fp transform ran once
        # into the training cache and AGAIN for scoring — §1.2).  The
        # seed rows are the same n_codes smallest-md5 rows; fp is
        # per-row deterministic, so transforming before the cut is
        # value-identical, and the cut runs over materialized rows (no
        # Arrow UDF inside TakeOrderedAndProject — the round-13
        # constraint that motivated the seed-first order).
        v6df = (corpus.select(
                    F.col(id_col).alias("vec_id"),
                    md5_long(F.col(id_col).cast("string")).alias("__h"),
                    fp(F.col(vec_col)).alias("v6"))
                .localCheckpoint(eager=True))
        seeds = (v6df.orderBy("__h", "vec_id").limit(n_codes)
                 .select("v6").collect())
        cb = [list(r["v6"]) for r in seeds]
        if cb and cb_iters > 0 and n_sub:
            cb = _pq_lloyd(v6df.select("v6"), cb, n_sub, sub, cb_iters)
    elif cb is None:
        cb = pq_codebook(corpus, n_codes, dim, id_col, vec_col, fp=fp,
                         n_sub=n_sub, iters=cb_iters)
    q_rows = (_live_vectors(queries, qvec_col)
              .select(F.col(qid_col).alias("query_id"),
                      fp(F.col(qvec_col)).alias("q6"))
              .collect())
    # per-query per-subspace LUT: integer dot of query subvector with each
    # codeword subvector (plain Python ints — exact)
    lut = {r["query_id"]: [[sum(r["q6"][m * sub + i] * cw[m * sub + i]
                                for i in range(sub))
                            for cw in cb]
                           for m in range(n_sub)]
           for r in q_rows}

    df = (v6df.select("vec_id", "v6") if v6df is not None
          else corpus.select(F.col(id_col).alias("vec_id"),
                             fp(F.col(vec_col)).alias("v6")))
    if use_udf:
        # fused Arrow encode + ADC score + map-side partial top-k: ONE
        # mapInPandas stage emits <= k rows per (batch, query), so the
        # rank window's exchange never sees the scored corpus (the
        # round-4 `weak` fix) and there is no posexplode blow-up either.
        import numpy as np

        from document_vector_pipeline_spark.functions.vectors import (
            py_round6_np,
        )

        cbm = np.array(cb, dtype=np.int64)              # (C, dim)
        qids = sorted(lut)
        lutm = np.array([lut[q] for q in qids], dtype=np.int64)
        id_type = corpus.schema[id_col].dataType.simpleString()
        schema = f"query_id long, vec_id {id_type}, score double"

        def run(batches):
            import pandas as pd
            msub = np.arange(n_sub)
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.array(list(pdf["v6"]), dtype=np.int64)   # (n, dim)
                ids = pdf["vec_id"].to_numpy()
                codes = np.empty((len(V), n_sub), dtype=np.int64)
                for m in range(n_sub):
                    d = (V[:, None, m * sub:(m + 1) * sub]
                         - cbm[None, :, m * sub:(m + 1) * sub])
                    # first-min tie-break == struct(dist, code) min
                    codes[:, m] = (d * d).sum(axis=2).argmin(axis=1)
                outs = []
                for qi, qid in enumerate(qids):
                    iscore = lutm[qi, msub[None, :], codes].sum(axis=1)
                    # replay round(i / 1e12, 6): exact long->double
                    # (|i| < 2^53), correctly-rounded divide, HALF_UP
                    score = py_round6_np(iscore / 1e12)
                    out = pd.DataFrame({"query_id": qid, "vec_id": ids,
                                        "score": score})
                    outs.append(out.sort_values(
                        ["score", "vec_id"], ascending=[False, True],
                        kind="mergesort").head(k))
                yield pd.concat(outs, ignore_index=True)

        scored = df.mapInPandas(run, schema)
        if v6df is not None:
            # score now, while the fixed-point corpus is cached, then
            # release it: the rank window reads only the <= k rows per
            # (batch, query) the scorer kept
            scored = scored.localCheckpoint(eager=True)
            release_checkpoint(v6df)
        return _ranked(scored, k)
    code_cols = []
    for m in range(n_sub):
        s_m = F.slice(F.col("v6"), m * sub + 1, sub)
        cands = []
        for code, cw in enumerate(cb, start=1):
            cw_m = F.array(*[F.lit(c) for c in cw[m * sub:(m + 1) * sub]])
            d = F.aggregate(
                F.zip_with(s_m, cw_m, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            cands.append(F.struct(d.alias("d"), F.lit(code).alias("c")))
        code_cols.append(F.array_min(F.array(*cands))["c"].alias(f"c{m}"))
    df = df.select("vec_id", *code_cols)

    per_q = [
        F.struct(
            F.lit(qid).cast("long").alias("query_id"),
            sum((F.element_at(F.array(*[F.lit(v) for v in lut[qid][m]]),
                              F.col(f"c{m}"))
                 for m in range(n_sub)), F.lit(0).cast("long")).alias("i"))
        for qid in sorted(lut)]
    scored = (df.select("vec_id", F.explode(F.array(*per_q)).alias("qs"))
              .select("vec_id", F.col("qs.query_id").alias("query_id"),
                      F.round(F.col("qs.i") / F.lit(1e12), 6).alias("score")))
    return _ranked(scored, k)


def ivf_probes(q: DataFrame, cents: DataFrame,
               nprobe: int) -> DataFrame:
    """(query_id, centroid_id) probe list shared VERBATIM by ivfpq_ann
    and nsw_ann (round-12 review: three hand-copied blocks had to stay
    bit-identical for the exact-twin contracts — now one function):
    max rounded cosine per query, ties to the lowest centroid_id.
    ``q`` is (query_id, q)."""
    qc = (q.join(F.broadcast(cents))
          .withColumn("cscore",
                      F.round(cosine_similarity("q", "centroid"), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cscore"),
                                               F.col("centroid_id"))
    return (qc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= nprobe)
            .select("query_id", "centroid_id"))


def ivfpq_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
              n_centroids: int = 8, nprobe: int = 2,
              n_codes: int = 16, n_sub: int = 8, dim: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              qid_col: str = "query_id",
              qvec_col: str = "query_vec",
              cb_iters: int = 2) -> DataFrame:
    """IVF+PQ composed index — the FAISS ``IVFADC`` shape (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011): a
    coarse quantizer prunes the corpus to the ``nprobe`` probed cells
    per query, and PQ asymmetric-distance lookup scores ONLY the
    surviving rows.  This is the 100 TB serving plan: the scan touches
    nprobe/n_centroids of the data AND reads n_sub codes per row
    instead of ``dim`` floats — both prunings compose.

    Plan shape: centroid assignment and PQ fixed-point encode are
    MAP-ONLY (centroids and codebook are plan metadata, as in
    ``ivf_assign`` / ``pq_ann``); the probed-cell cut is a broadcast
    semi-filter on centroid_id BEFORE any scoring, ADC runs in one
    Arrow pass over the surviving rows, the probe join is broadcast,
    and the only shuffle is the final per-query top-k window.  Scores
    are exact integers (same 1e-6 fixed-point domain as ``pq_ann``),
    so results are bit-identical across engines and plan shapes."""
    sub = dim // n_sub
    queries = _live_vectors(queries, qvec_col)
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("q"))
    probes = ivf_probes(q, cents, nprobe)

    cb = pq_codebook(corpus, n_codes, dim, id_col, vec_col,
                     n_sub=n_sub, iters=cb_iters)
    q_rows = (queries
              .select(F.col(qid_col).alias("query_id"),
                      pq_fixed_point(F.col(qvec_col), dim).alias("q6"))
              .collect())
    lut = {r["query_id"]: [[sum(r["q6"][m * sub + i] * cw[m * sub + i]
                                for i in range(sub))
                            for cw in cb]
                           for m in range(n_sub)]
           for r in q_rows}
    score_udf = make_pq_score_udf(cb, lut, n_sub, sub)
    qid_arr = F.array(*[F.lit(qid).cast("long") for qid in sorted(lut)])

    cells = probes.select("centroid_id").distinct()
    cand = assigned.join(F.broadcast(cells), "centroid_id")
    scored_all = (cand
                  .select("vec_id", "centroid_id",
                          F.posexplode(score_udf(F.col("v")))
                          .alias("pos", "i"))
                  .select("vec_id", "centroid_id",
                          F.element_at(qid_arr, F.col("pos") + 1)
                           .alias("query_id"),
                          F.round(F.col("i") / F.lit(1e12), 6)
                           .alias("score")))
    scored = scored_all.join(F.broadcast(probes),
                             ["query_id", "centroid_id"])
    return _ranked(scored.select("query_id", "vec_id", "score"), k)


def refine_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
               refine_factor: int = 3, n_centroids: int = 8, nprobe: int = 2,
               n_codes: int = 16, n_sub: int = 8, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Two-stage compressed-then-exact ANN — the FAISS ``IndexRefineFlat``
    shape (Jégou et al. TPAMI 2011 §V.C, and every production IVFADC
    deployment): the IVF+PQ ladder (``ivfpq_ann``) retrieves
    ``k * refine_factor`` candidates per query from the probed cells'
    PQ codes, then ONLY those candidates' full-precision vectors are
    fetched and rescored with the exact cosine, and the top ``k`` of the
    exact scores is returned.  Quantization error from the PQ stage
    can reorder or drop true neighbors; refine restores exact ordering
    WITHIN the candidate set, so recall is bounded by the candidate
    stage while precision of the returned scores is exact — the
    standard cheap-recall / exact-precision trade.

    Plan (the 100 TB story): the candidate list is (n_queries × k·rf)
    rows — metadata-sized by construction — so the exact-rescore fetch
    is a BROADCAST join pruning the corpus scan to candidate rows only;
    the query vectors ride in as a second broadcast.  The expensive
    full-vector read happens for k·rf rows per query, never the corpus:
    at 1000 executors the ADC stage scans codes (n_sub bytes/row in the
    probed cells) and the refine stage reads a few hundred full
    vectors, which is exactly why FAISS ships this composition.  The
    final window is candidate-sized (no partial cut needed).  Exact
    scores reuse the ``round(cosine, 6)`` contract of
    ``brute_force_topk``, so the refined ranking is engine-portable."""
    cand = ivfpq_ann(corpus, queries, k=k * refine_factor,
                     n_centroids=n_centroids, nprobe=nprobe,
                     n_codes=n_codes, n_sub=n_sub, dim=dim,
                     id_col=id_col, vec_col=vec_col,
                     qid_col=qid_col, qvec_col=qvec_col)
    pairs = cand.select("query_id", "vec_id")
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("q"))
    exact = (corpus.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("v"))
             .join(F.broadcast(pairs), "vec_id")
             .join(F.broadcast(q), "query_id")
             .withColumn("score", F.round(cosine_similarity("v", "q"), 6)))
    return _ranked(exact.select("query_id", "vec_id", "score"), k)


def mmr_rerank(corpus: DataFrame, queries: DataFrame, k: int = 5,
               n: int = 20, lam_ppm: int = 700000,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec",
               candidates: DataFrame | None = None) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell & Goldstein
    SIGIR 1998 — the standard RAG result-diversifier, e.g. LangChain's
    ``search_type="mmr"``): take the exact cosine top-``n`` candidates
    per query, then greedily select ``k`` of them, each step maximizing

        lam * relevance  -  (1 - lam) * max_sim_to_already_selected

    so near-duplicate passages don't crowd the context window.  Returns
    (query_id, vec_id, rel_micro, mmr_micro, sel_order): ``sel_order``
    is the greedy pick position, ``mmr_micro`` the winning objective at
    selection time (ppm·micro fixed point).

    Determinism: relevance and pairwise similarities are fixed-pointed
    with the shared floor(round6(cos)·1e6 + 0.5) contract, the
    objective is pure int64 arithmetic with ties broken by vec_id —
    the oracle replays the greedy loop as k unrolled CTE steps.

    Plan shape (100 TB): the expensive part is the candidate stage —
    brute-force scan by default, or ANY ladder stage passed as
    ``candidates`` ((query_id, vec_id, score) with score the round6
    cosine: refine_ann's rescored output, ivfpq_topk, lsh — the
    serving path feeds IVF/ADC candidates here instead of a corpus
    scan); everything after is per-query work over n<=20 rows,
    grouped applyInPandas with the candidate vectors fetched by ONE
    broadcast-pruned join (mirrors refine_ann's fetch).  The O(k·n)
    greedy loop and the n×n similarity matrix live entirely inside a
    query's group — no shuffle grows with the corpus."""
    import numpy as np

    from document_vector_pipeline_spark.functions.vectors import py_round6_np

    cand = (candidates.select("query_id", "vec_id", "score")
            if candidates is not None
            else brute_force_topk(corpus, queries, k=n, id_col=id_col,
                                  vec_col=vec_col, qid_col=qid_col,
                                  qvec_col=qvec_col))
    cv = (corpus.select(F.col(id_col).alias("vec_id"),
                        F.col(vec_col).alias("v"))
          .join(F.broadcast(cand.select("query_id", "vec_id", "score")),
                "vec_id"))
    qid_type = cand.schema["query_id"].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    schema = (f"query_id {qid_type}, vec_id {id_type}, rel_micro long, "
              "mmr_micro long, sel_order int")
    lam2 = 1000000 - lam_ppm

    def pick(pdf):
        import pandas as pd
        V = np.array(list(pdf["v"]), dtype=np.float64)
        nrm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        rel = np.floor(pdf["score"].to_numpy() * 1e6 + 0.5).astype(np.int64)
        ids = pdf["vec_id"].to_numpy()
        qid = pdf["query_id"].iloc[0]
        # pairwise round6 cosines in the exact left-fold shape of the
        # expression path (cumsum last element == sequential sum)
        dots = np.cumsum(V[:, None, :] * V[None, :, :], axis=2)[:, :, -1]
        denom = nrm[:, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom == 0.0, 0.0, dots / denom)
        simm = np.floor(py_round6_np(sim) * 1e6 + 0.5).astype(np.int64)
        maxsim = np.zeros(len(ids), dtype=np.int64)
        remaining = list(range(len(ids)))
        out = []
        for step in range(1, min(k, len(ids)) + 1):
            mmr = lam_ppm * rel - lam2 * maxsim
            bi = min(remaining, key=lambda i: (-int(mmr[i]), ids[i]))
            out.append((qid, ids[bi], int(rel[bi]), int(mmr[bi]), step))
            remaining.remove(bi)
            maxsim = np.maximum(maxsim, simm[:, bi])
        return pd.DataFrame(out, columns=["query_id", "vec_id", "rel_micro",
                                          "mmr_micro", "sel_order"])

    return cv.groupBy("query_id").applyInPandas(pick, schema)


def range_search(corpus: DataFrame, queries: DataFrame,
                 threshold: float = 0.3,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id", qvec_col: str = "query_vec",
                 use_udf: bool = True) -> DataFrame:
    """Radius search: EVERY (query, corpus) pair with cosine >=
    ``threshold`` — the distance-threshold query shape Cosmos's
    ``VectorDistance`` filter supports, and the right primitive when
    "all matches" matters more than "top k" (e.g. recall-first
    retrieval audits).

    ZERO-shuffle plan: queries broadcast, scoring + band cut map-side
    (one Arrow pass with ``use_udf=True``; broadcast-join +
    interpreted fold as the oracle-facing twin) — no window, no
    exchange: output rows stream straight from the scan, so the
    operator scales with executors alone."""
    if use_udf:
        return _score_topk_np(corpus, queries, None, id_col, vec_col,
                              qid_col, qvec_col, lo=threshold)
    scored = (corpus.select(F.col(id_col).alias("vec_id"),
                            F.col(vec_col).alias("v"))
              .join(F.broadcast(queries.select(
                  F.col(qid_col).alias("query_id"),
                  F.col(qvec_col).alias("q"))))
              .withColumn("score", F.round(cosine_similarity("v", "q"), 6)))
    return (scored.filter(F.col("score") >= threshold)
            .select("query_id", "vec_id", "score"))


def _sign_words(vec, dim: int):
    """Two int64 words holding the sign bits of ``vec`` (bit i of word w
    = 1 iff vec[32w+i] > 0).  32 bits per word keeps every value
    positive and engine-portable; normalization never changes signs, so
    this IS the 1-bit quantization of the normalized vector."""
    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    words = []
    for wi in range((dim + 31) // 32):
        lo = wi * 32
        n = min(32, dim - lo)
        word = F.aggregate(
            F.sequence(F.lit(1), F.lit(n)),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.when(
                F.element_at(vec, (i + F.lit(lo)).cast("int")) > 0,
                F.element_at(pow2, i.cast("int"))).otherwise(
                    F.lit(0).cast("long")))
        words.append(word)
    return words


def binary_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
               dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Binary-quantization ANN: 1-bit sign quantization (dim bits per
    vector — 32× smaller than float32) scored by Hamming similarity
    ``dim - popcount(xor)``.  The coarsest point on the float32 → int8
    (vector_quantized) → PQ (ann_pq) compression ladder, and the one
    modern vector stores ship as the first-pass filter because XOR +
    POPCNT is the cheapest possible distance.

    Plan: corpus encode is MAP-ONLY (two int64 words per row — the scan
    reads 16 bytes instead of dim floats once the words are persisted),
    queries broadcast, Hamming is whole-stage-codegen bit arithmetic,
    then the ``row_number() <= k`` rank window, below whose exchange
    Spark's partial WindowGroupLimit trims each partition to <= k rows
    per query (same total order, lossless, in the JVM), so the exchange
    carries k * n_partitions * n_queries rows, never the whole scored
    corpus — for k below ``spark.sql.optimizer.
    windowGroupLimitThreshold`` (1000); above it every scored row
    reaches the exchange, with the same result.  All integers —
    bit-identical across engines."""
    cw = _sign_words(F.col(vec_col), dim)
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      *[w.alias(f"w{i}") for i, w in enumerate(cw)])
    qw = _sign_words(F.col(qvec_col), dim)
    q = queries.select(F.col(qid_col).alias("query_id"),
                       *[w.alias(f"qw{i}") for i, w in enumerate(qw)])
    ham = None
    for i in range(len(cw)):
        h = F.bit_count(F.col(f"w{i}").bitwiseXOR(F.col(f"qw{i}")))
        ham = h if ham is None else ham + h
    scored = (c.join(F.broadcast(q))
              .select("query_id", "vec_id",
                      (F.lit(dim) - ham).cast("int").alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "score", "rank"))


def mrl_recall(corpus: DataFrame, queries: DataFrame, k: int = 10,
               dims: tuple = (8, 16, 32), full_dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Matryoshka truncation recall: recall@k of exact cosine over the
    FIRST ``d`` dimensions against the full-dim ranking, for each d in
    ``dims`` — (dims, query_id, n_hits, recall).  The acceptance curve
    for MRL-style embeddings (Kusupati et al. 2022): how much ranking
    quality each prefix truncation keeps, measured, not assumed.

    The full-dim exact top-k is materialized once (n_queries × k rows)
    and reused; each truncated side is the same broadcast-scan
    brute-force plan on sliced vectors.  Deterministic both sides, so
    the metric is oracle-exact."""
    exact = (brute_force_topk(corpus, queries, k=k,
                              id_col=id_col, vec_col=vec_col,
                              qid_col=qid_col, qvec_col=qvec_col)
             .localCheckpoint(eager=True))
    out = None
    for d in dims:
        tc = corpus.select(F.col(id_col),
                           F.slice(F.col(vec_col), 1, d).alias(vec_col))
        tq = queries.select(F.col(qid_col),
                            F.slice(F.col(qvec_col), 1, d).alias(qvec_col))
        approx = brute_force_topk(tc, tq, k=k, id_col=id_col,
                                  vec_col=vec_col, qid_col=qid_col,
                                  qvec_col=qvec_col)
        hits = exact.alias("e").join(
            approx.alias("a"),
            (F.col("e.query_id") == F.col("a.query_id"))
            & (F.col("e.vec_id") == F.col("a.vec_id")), "left")
        r = (hits.groupBy(F.col("e.query_id").alias("query_id"))
             .agg(F.count(F.col("a.vec_id")).cast("long").alias("n_hits"))
             .select(F.lit(d).cast("int").alias("dims"), "query_id",
                     "n_hits",
                     F.round(F.col("n_hits") / k, 6).alias("recall")))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("dims", "query_id")


def label_centroids(emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid in long form: (label, dim, n, centroid) — the
    reduce step of k-means / the class-prototype builder for
    embedding-space analyses.

    Components are summed as exact 10^-6-unit integers (floats scale to
    int64 losslessly at embedding magnitudes), so the result is invariant
    to partitioning and bit-identical across engines; the division back to
    double happens once per (label, dim).  posexplode keeps the whole
    pivot map-side: one shuffle on (label, dim) — at 100 TB that is
    n_labels × dim groups, trivially parallel and skew-free."""
    v6 = F.round(F.col("c").cast("double") * 1e6, 0).cast("long")
    return (emb.select(F.col(label_col).alias("label"),
                       F.posexplode(F.col(vec_col)).alias("pos", "c"))
            .select("label", (F.col("pos") + 1).alias("dim"), v6.alias("v6"))
            .groupBy("label", "dim")
            .agg(F.count("*").alias("n"), F.sum("v6").alias("s6"))
            .select("label", "dim", "n",
                    F.round(F.col("s6") / (F.col("n") * 1e6), 6)
                     .alias("centroid"))
            .orderBy("label", "dim"))


def ann_recall_multi(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     dim: int = 64, planes: int = 8, tables: int = 4,
                     n_centroids: int = 8, nprobe: int = 2,
                     n_codes: int = 16, n_sub: int = 8) -> DataFrame:
    """Measured recall@k of EVERY shipped approximate index (ivf, lsh, pq)
    against the exact cosine ranking: (index, query_id, n_hits, recall).
    The acceptance dashboard an ANN subsystem ships with — one number per
    (index, query) pair, so index choices are data-driven, not vibes.

    The exact top-k (n_queries × k rows — tiny) is materialized once via
    localCheckpoint and reused across the three comparisons; each approx
    side is the same plan the standalone ann_* queries run.  Both sides
    are deterministic, so the metric itself is oracle-exact."""
    exact = (brute_force_topk(corpus, queries, k=k)
             .localCheckpoint(eager=True))
    out = None
    for name, approx in [
        ("ivf", ivf_ann(corpus, queries, k=k,
                        n_centroids=n_centroids, nprobe=nprobe)),
        ("lsh", lsh_ann(corpus, queries, k=k,
                        planes=planes, tables=tables, dim=dim)),
        ("pq", pq_ann(corpus, queries, k=k,
                      n_codes=n_codes, n_sub=n_sub, dim=dim)),
    ]:
        hits = exact.alias("e").join(
            approx.alias("a"),
            (F.col("e.query_id") == F.col("a.query_id"))
            & (F.col("e.vec_id") == F.col("a.vec_id")), "left")
        r = (hits.groupBy(F.col("e.query_id").alias("query_id"))
             .agg(F.count(F.col("a.vec_id")).cast("long").alias("n_hits"))
             .select(F.lit(name).alias("index"), "query_id", "n_hits",
                     F.round(F.col("n_hits") / k, 6).alias("recall")))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("index", "query_id")


def ivf_tuning(corpus: DataFrame, queries: DataFrame, k: int = 10,
               nprobe_list: tuple = (1, 2, 4, 8),
               n_centroids: int = 8) -> DataFrame:
    """The nprobe tuning curve for IVF: measured recall@k per probe
    count against the exact cosine ranking — (nprobe, query_id,
    n_hits, recall).  The IVF counterpart of dedup_lsh_tuning: more
    probes ⇒ more cells scanned ⇒ recall up / scan-fraction up; this
    query turns the tradeoff into a measurement on YOUR corpus before
    committing an nprobe at 100 TB (where each probe step is
    1/n_centroids of the data re-admitted to the scan).

    The exact top-k is materialized once (eager checkpoint, n_queries×k
    rows) and every sweep entry is the same plan the standalone
    ann_ivf runs; recall at nprobe = n_centroids is 1.0 by
    construction — a built-in sanity row."""
    exact = (brute_force_topk(corpus, queries, k=k)
             .localCheckpoint(eager=True))
    # centroids and the full-corpus assignment are nprobe-independent:
    # materialize each ONCE and share across the sweep (previously every
    # entry re-ran the assignment scan — the dominant cost)
    cents = (ivf_centroids(corpus, n_centroids)
             .localCheckpoint(eager=True))
    assigned = (ivf_assign(corpus, cents)
                .localCheckpoint(eager=True))
    out = None
    for np_ in nprobe_list:
        approx = ivf_ann(corpus, queries, k=k,
                         n_centroids=n_centroids, nprobe=np_,
                         cents=cents, assigned=assigned)
        hits = exact.alias("e").join(
            approx.alias("a"),
            (F.col("e.query_id") == F.col("a.query_id"))
            & (F.col("e.vec_id") == F.col("a.vec_id")), "left")
        r = (hits.groupBy(F.col("e.query_id").alias("query_id"))
             .agg(F.count(F.col("a.vec_id")).cast("long")
                  .alias("n_hits"))
             .select(F.lit(np_).cast("int").alias("nprobe"), "query_id",
                     "n_hits",
                     F.round(F.col("n_hits") / k, 6).alias("recall")))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("nprobe", "query_id")


def ivf_filtered_tuning(corpus: DataFrame, queries: DataFrame,
                        id_filter, k: int = 10,
                        nprobe_list: tuple = (1, 2, 4, 8),
                        n_centroids: int = 8) -> DataFrame:
    """The nprobe recall curve for FILTERED IVF — (nprobe, query_id,
    n_hits, recall) with ground truth = brute force over the ALLOWED
    subset.  Filtered ANN has a failure mode the unfiltered curve
    cannot see: a selective predicate can empty the probed cells of
    matching rows (the allowed ids may cluster elsewhere), so recall
    at a given nprobe is typically LOWER than unfiltered — FAISS's
    IDSelector + nprobe interaction.  This measures it on YOUR corpus
    and predicate before committing a serving nprobe; recall at
    nprobe = n_centroids is 1.0 by construction.  Centroids stay
    full-corpus (the filter changes candidacy, never assignment) —
    same semantics as IVFIndex.search_many(id_filter=...)."""
    allowed = corpus.filter(id_filter)
    exact = (brute_force_topk(allowed, queries, k=k)
             .localCheckpoint(eager=True))
    # centroids stay full-corpus; the filtered assignment is
    # nprobe-independent — materialize both ONCE for the sweep
    cents = (ivf_centroids(corpus, n_centroids)
             .localCheckpoint(eager=True))
    assigned = (ivf_assign(corpus, cents).filter(id_filter)
                .localCheckpoint(eager=True))
    out = None
    for np_ in nprobe_list:
        approx = ivf_ann(corpus, queries, k=k,
                         n_centroids=n_centroids, nprobe=np_,
                         id_filter=id_filter,
                         cents=cents, assigned=assigned)
        hits = exact.alias("e").join(
            approx.alias("a"),
            (F.col("e.query_id") == F.col("a.query_id"))
            & (F.col("e.vec_id") == F.col("a.vec_id")), "left")
        r = (hits.groupBy(F.col("e.query_id").alias("query_id"))
             .agg(F.count(F.col("a.vec_id")).cast("long")
                  .alias("n_hits"))
             .select(F.lit(np_).cast("int").alias("nprobe"), "query_id",
                     "n_hits",
                     F.round(F.col("n_hits") / k, 6).alias("recall")))
        out = r if out is None else out.unionByName(r)
    return out.orderBy("nprobe", "query_id")


def ann_recall(corpus: DataFrame, queries: DataFrame, k: int = 10,
               **lsh_kwargs) -> DataFrame:
    """Measured recall@k of the LSH index against the exact ranking:
    per query, how many of the true cosine top-k the bucketed search
    returned.  This is the acceptance metric an approximate index ships
    with — recall is a property you measure, not assume.  Both sides are
    deterministic, so the metric itself is oracle-exact."""
    exact = brute_force_topk(corpus, queries, k=k).alias("e")
    approx = lsh_ann(corpus, queries, k=k, **lsh_kwargs).alias("a")
    hits = exact.join(
        approx,
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.vec_id") == F.col("a.vec_id")), "left")
    return (hits.groupBy(F.col("e.query_id").alias("query_id"))
            .agg(F.count(F.col("a.vec_id")).cast("long").alias("n_hits"))
            .select("query_id", "n_hits",
                    F.round(F.col("n_hits") / k, 6).alias("recall"))
            .orderBy("query_id"))


def opq_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
            n_codes: int = 16, n_sub: int = 8, dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "query_id", qvec_col: str = "query_vec",
            use_udf: bool = True, cb_iters: int = 2,
            cb: list[list[int]] | None = None) -> DataFrame:
    """PQ in the Walsh–Hadamard-rotated space (see opq_fixed_point) —
    identical plan shape to ``pq_ann`` (the rotation is one extra
    map-only integer pass; codebook and query LUTs are built in the
    rotated domain by the same injection), scores exact integers in
    the rotated units.  Rank order is what matters downstream; the
    measured accuracy contract is ``opq_recall``."""
    return pq_ann(corpus, queries, k=k, n_codes=n_codes, n_sub=n_sub,
                  dim=dim, id_col=id_col, vec_col=vec_col,
                  qid_col=qid_col, qvec_col=qvec_col, use_udf=use_udf,
                  fp=lambda c: opq_fixed_point(c, dim, use_udf=use_udf),
                  cb_iters=cb_iters, cb=cb)


def opq_recall(corpus: DataFrame, queries: DataFrame, k: int = 10,
               n_codes: int = 16, n_sub: int = 8, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Measured recall@k of plain PQ vs rotated (OPQ-family) PQ against
    the exact cosine top-k, side by side per query — (query_id,
    n_hits_pq, n_hits_opq, recall_pq, recall_opq): the ann_recall
    acceptance discipline applied to the quantizer-preprocessing
    choice, so the rotation's uplift is a measurement on YOUR corpus,
    not a paper citation.  All three rankings are deterministic
    (exact-integer ADC both ladders, 6-dp exact cosine truth), so the
    metric itself is oracle-exact."""
    exact = brute_force_topk(corpus, queries, k=k,
                             id_col=id_col, vec_col=vec_col,
                             qid_col=qid_col, qvec_col=qvec_col).alias("e")
    kw = dict(k=k, n_codes=n_codes, n_sub=n_sub, dim=dim, id_col=id_col,
              vec_col=vec_col, qid_col=qid_col, qvec_col=qvec_col)
    out = exact.select("query_id", "vec_id")
    for name, approx in (("pq", pq_ann(corpus, queries, **kw)),
                         ("opq", opq_ann(corpus, queries, **kw))):
        a = approx.select(F.col("query_id").alias("aq"),
                          F.col("vec_id").alias("av"),
                          F.lit(1).alias(f"hit_{name}"))
        out = (out.join(a, (F.col("query_id") == F.col("aq"))
                        & (F.col("vec_id") == F.col("av")), "left")
               .drop("aq", "av"))
    return (out.groupBy("query_id")
            .agg(F.count("hit_pq").cast("long").alias("n_hits_pq"),
                 F.count("hit_opq").cast("long").alias("n_hits_opq"))
            .select("query_id", "n_hits_pq", "n_hits_opq",
                    F.round(F.col("n_hits_pq") / k, 6).alias("recall_pq"),
                    F.round(F.col("n_hits_opq") / k, 6).alias("recall_opq"))
            .orderBy("query_id"))


def _div_half_away(s: int, n: int) -> int:
    """Exact integer division rounded half away from zero (matches SQL
    round() semantics without touching floats)."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((-2 * s + n) // (2 * n))


def _kmeans_base(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, v6): the corpus in the 1e-6 fixed-point integer domain.
    Null vectors are dropped at ingress (_live_vectors) — they can
    neither seed nor be assigned."""
    return _live_vectors(corpus, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") * 1e6, 0)
                               .cast("long")).alias("v6"))


def _kmeans_cands(cents: list[list[int]]):
    """Array of struct(d, c) over the centroid literals — exact int64
    squared distance per centroid; struct field order makes array_min/
    array_sort break distance ties on the lowest cluster id.

    An EMPTY centroid list only ever happens when the corpus itself is
    empty (seeds are sampled from it), so the consuming frame has zero
    rows; return a typed null-struct sentinel so the expression still
    ANALYZES (array_min over a literal empty array is VOID and fails
    resolution) — it can never reach a real row."""
    if not cents:
        return F.array(F.struct(F.lit(None).cast("long").alias("d"),
                                F.lit(None).cast("int").alias("c")))
    cands = []
    for ci, c6 in enumerate(cents, start=1):
        carr = F.array(*[F.lit(x) for x in c6])
        d = F.aggregate(
            F.zip_with(F.col("v6"), carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        cands.append(F.struct(d.alias("d"), F.lit(ci).alias("c")))
    return F.array(*cands)


def _kmeans_best_expr(cents: list[list[int]]):
    """Map-only argmin over the centroid literals: struct(d, c) of the
    nearest centroid (exact int64 squared distance, ties on cluster id)."""
    return F.array_min(_kmeans_cands(cents))


def _kmeans_assign_np(base: DataFrame, cents: list[list[int]],
                      out: str = "assign") -> DataFrame:
    """Arrow twin of the _kmeans_best_expr argmin — consumes the SAME
    Spark-quantized v6 column, so every operation is exact int64 (no
    float anywhere to diverge).  np.argmin's first-minimum rule replays
    array_min(struct(d, c))'s tie-break on the lowest cluster id.

    out='assign'   → (vec_id, cluster): one row per vector.
    out='partials' → (cluster, pos, s, n): per-Arrow-batch component sums
                     of the Lloyd update (the posexplode+groupBy twin,
                     reduced k·dim·n_batches-fold before any exchange).
    out='stats'    → (cluster, n, sd): per-batch count + inertia partials.
    """
    import numpy as np

    id_type = base.schema["vec_id"].dataType.simpleString()
    schema = {"assign": f"vec_id {id_type}, cluster int, d long",
              "partials": "cluster int, pos int, s long, n long",
              "stats": "cluster int, n long, sd long"}[out]
    if not cents:
        # empty corpus → no centroids trained; typed-empty result
        return base.sparkSession.createDataFrame([], schema)
    C = np.array(cents, dtype=np.int64)
    k, dim = C.shape

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(list(pdf["v6"]), dtype=np.int64)
            best = np.empty(len(V), dtype=np.int64)
            dmin = np.empty(len(V), dtype=np.int64)
            for s in range(0, len(V), 4096):
                e = min(s + 4096, len(V))
                D = ((V[s:e, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                best[s:e] = D.argmin(axis=1)
                dmin[s:e] = D.min(axis=1)
            if out == "assign":
                yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                    "cluster": (best + 1).astype("int32"),
                                    "d": dmin})
                continue
            if out == "stats":
                rows = [(int(c) + 1, int((best == c).sum()),
                         int(dmin[best == c].sum()))
                        for c in np.unique(best)]
                yield pd.DataFrame(rows, columns=["cluster", "n", "sd"])
                continue
            recs = []
            for c in np.unique(best):
                m = best == c
                s_vec = V[m].sum(axis=0)
                n = int(m.sum())
                recs.extend((int(c) + 1, p, int(s_vec[p]), n)
                            for p in range(dim))
            yield pd.DataFrame(recs, columns=["cluster", "pos", "s", "n"])

    cols = ["vec_id", "v6"] if out == "assign" else ["v6"]
    return base.select(*cols).mapInPandas(run, schema)


def _lloyd_loop_frame(base: DataFrame,
                      rows_per_task: int = 50_000):
    """Cache + right-size the Lloyd loop input.  The loop drives iters+1
    driver-synchronized jobs; on a small corpus their cost is per-task
    scheduling + Arrow setup, not compute, so coalesce the cached frame
    to ~rows_per_task rows per task (measured 3.4× on a 2000-row corpus:
    32 × 62-row tasks → 1).  On a 100 TB corpus rows/rows_per_task
    exceeds the partition count and this is a no-op — full scan
    parallelism is exactly right there.  Returns (frame, release)."""
    # NOTE (r13): sizing before caching looks cheaper (one cache build)
    # but regresses — coalesce(target) pulls the whole fixed-point
    # transform into `target` tasks (serial compute), while the
    # two-step form computes it cache-wide at full parallelism and only
    # re-lays-out the cached bytes.  Measured: emb_kmeans 1.7 s (this
    # form) vs 2.9 s (count-then-coalesce).  The re-layout itself is
    # LAZY (coalesce over the cached scan — a narrow merge of cached
    # blocks per round) rather than a second persist+count: one fewer
    # materialization job and no duplicate cache copy per call.
    cached = base.persist()
    n = cached.count()
    parts = cached.rdd.getNumPartitions()
    target = max(1, min(parts, -(-n // rows_per_task)))
    if target < parts:
        return cached.coalesce(target), cached.unpersist
    return cached, cached.unpersist


def _lloyd_centroids(base: DataFrame, n_clusters: int, iters: int,
                     dim: int, use_udf: bool = True) -> list[list[int]]:
    """Run `iters` exact-integer Lloyd rounds over (vec_id, v6) and return
    the final centroid table as plan metadata (n_clusters × dim longs).
    Seeds = smallest (md5(vec_id), vec_id); empty clusters keep their
    previous centroid; updates are half-away-from-zero integer division
    of exact component sums.  Shared by kmeans_fixed (reporting) and
    dedup.semantic_dedup (SemDeDup clustering).

    ``use_udf=True`` (default) runs assignment + update partials in one
    Arrow pass per round (pure int64 numpy on the Spark-quantized v6 —
    bit-identical by construction, equivalence-tested);
    ``use_udf=False`` keeps the interpreted argmin-fold + posexplode
    plan as the oracle-facing twin."""
    seeds = (base
             .select("v6", md5_long(F.col("vec_id").cast("string")).alias("h"),
                     "vec_id")
             .orderBy("h", "vec_id").limit(n_clusters)
             .select("v6").collect())
    cents = [[int(x) for x in r["v6"]] for r in seeds]
    if not cents:
        return []
    for _ in range(iters):
        if use_udf:
            upd = (_kmeans_assign_np(base, cents, out="partials")
                   .groupBy("cluster", "pos")
                   .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                   .collect())
        else:
            assigned = (base.withColumn("best", _kmeans_best_expr(cents))
                        .select(F.col("best.c").alias("cluster"), "v6"))
            upd = (assigned
                   .select("cluster", F.posexplode("v6").alias("pos", "x"))
                   .groupBy("cluster", "pos")
                   .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
                   .collect())
        sums: dict[int, dict[int, tuple[int, int]]] = {}
        for r in upd:
            sums.setdefault(r["cluster"], {})[r["pos"]] = (r["s"], r["n"])
        # range over len(cents), not n_clusters: a corpus smaller than
        # n_clusters seeds fewer centroids (empty corpus seeds none and
        # skips the loop entirely — the callers' typed-empty paths)
        cents = [
            [_div_half_away(*sums[ci][p]) for p in range(dim)]
            if ci in sums else cents[ci - 1]
            for ci in range(1, len(cents) + 1)]
    return cents


def kmeans_fixed(corpus: DataFrame, n_clusters: int = 8, iters: int = 3,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 use_udf: bool = True) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding column, EXACT
    integer arithmetic end to end: (cluster, n, inertia, dim, centroid),
    one row per (cluster, dimension), ordered.

    Everything that could diverge across engines/partitionings is pinned:
    - vectors live in 1e-6 fixed point (long), distances are exact int64
      sums of squared component deltas;
    - seeds are the n_clusters rows with smallest (md5(vec_id), vec_id) —
      the same uniform pseudo-random sample as ivf_centroids;
    - argmin ties break on cluster id (array_min over struct(d, c));
    - centroid updates are integer half-away-from-zero division of exact
      component sums (no float round anywhere); empty clusters keep their
      previous centroid;
    - after `iters` assign+update cycles, a final assignment against the
      final centroids yields per-cluster n and inertia.

    Plan shape per iteration (MLlib's shape, exact-integer edition): the
    centroids are PLAN METADATA — n_clusters × dim longs broadcast as
    literals — so assignment is MAP-ONLY (argmin over n_clusters codegen'd
    integer folds, no join); the update is one groupBy(cluster, dim)
    shuffle of (n_clusters × dim)-group partial sums, collected back as
    the next iteration's literals (a few KB).  iters+1 corpus passes
    total; at 100 TB you cache `base` once and the passes are scan-bound.
    """
    spark = corpus.sparkSession
    base, release = _lloyd_loop_frame(_kmeans_base(corpus, id_col, vec_col))
    cents = _lloyd_centroids(base, n_clusters, iters, dim, use_udf=use_udf)

    if use_udf:
        stats = (_kmeans_assign_np(base, cents, out="stats")
                 .groupBy("cluster")
                 .agg(F.sum("n").alias("n"), F.sum("sd").alias("sd")))
    else:
        final = (base.withColumn("best", _kmeans_best_expr(cents))
                 .select(F.col("best.c").alias("cluster"),
                         F.col("best.d").alias("d")))
        stats = final.groupBy("cluster").agg(F.count("*").alias("n"),
                                             F.sum("d").alias("sd"))
    # materialize the k-row stats while the loop cache is alive, then
    # release it — the returned plan depends only on local frames
    stats_rows = [(int(r["cluster"]), int(r["n"]), int(r["sd"]))
                  for r in stats.collect()]
    release()
    stats = local_df(spark, stats_rows, "cluster int, n long, sd long")
    cent_rows = [(ci, p + 1, c6[p])
                 for ci, c6 in enumerate(cents, start=1)
                 for p in range(dim)]
    cdf = local_df(spark, cent_rows, "cluster int, dim int, c6 long")
    return (cdf.join(F.broadcast(stats), "cluster", "left")
            .select(F.col("cluster"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                    F.round(F.coalesce(F.col("sd"), F.lit(0)) / 1e12, 6)
                     .alias("inertia"),
                    F.col("dim"),
                    F.round(F.col("c6") / 1e6, 6).alias("centroid"))
            .orderBy("cluster", "dim"))


def cluster_silhouette(emb: DataFrame, n_clusters: int = 8,
                       iters: int = 3, dim: int = 64,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       use_udf: bool = True) -> DataFrame:
    """Simplified silhouette of the k-means assignment — per cluster
    (cluster, n, mean_sil_micro): s(i) = (b − a)/b with a = Euclidean
    distance to the OWN (nearest) centroid and b = distance to the
    nearest OTHER centroid.  This is the O(n·k) centroid variant
    (Vendramin et al.'s simplified silhouette), not the O(n²) pairwise
    original — which is what makes the metric computable at corpus
    scale: distances stay the map-only fold over centroid literals the
    assignment already uses, and the only shuffle is the k-group mean.

    Exactness: squared distances are the assignment's exact int64s;
    the single float step (int64→double, two sqrt, one subtract, one
    divide — all correctly-rounded IEEE in a pinned expression shape)
    is rounded to integer micro-units PER POINT, so the per-cluster
    mean is an order-free integer sum ÷ count.  b ≥ a by construction,
    so s ∈ [0, 1]; b = 0 (point equal to two centroids) scores 0.
    Pairs with cluster_purity: purity scores agreement with labels,
    silhouette scores geometric separation without needing any."""
    if n_clusters < 2:
        raise ValueError(
            f"silhouette is undefined for n_clusters={n_clusters}: "
            "there is no 'nearest OTHER centroid' with fewer than 2")
    base = _kmeans_base(emb, id_col, vec_col)
    loop_base, release = _lloyd_loop_frame(base)
    cents = _lloyd_centroids(loop_base, n_clusters, iters, dim,
                             use_udf=use_udf)
    release()
    two = F.slice(F.array_sort(_kmeans_cands(cents)), 1, 2)
    pp = base.select(
        two[0]["c"].alias("cluster"),
        two[0]["d"].cast("double").alias("d1"),
        two[1]["d"].cast("double").alias("d2"))
    sa, sb = F.sqrt(F.col("d1")), F.sqrt(F.col("d2"))
    s_micro = (F.when(sb == F.lit(0.0), F.lit(0).cast("long"))
               .otherwise(F.round(((sb - sa) / sb) * F.lit(1000000.0))
                          .cast("long")))
    return (pp.select(F.col("cluster"), s_micro.alias("s"))
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("s").alias("ss"))
            .select(F.col("cluster").cast("int").alias("cluster"), "n",
                    F.expr("ss div n").cast("long")
                     .alias("mean_sil_micro"))
            .orderBy("cluster"))


def cluster_purity(emb: DataFrame, label_col: str = "label",
                   n_clusters: int = 8, iters: int = 3, dim: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   use_udf: bool = True) -> DataFrame:
    """Cluster-quality evaluation against ground-truth labels: per
    k-means cluster, its size, majority label, and purity in exact ppm
    — (cluster, n, top_label, top_n, purity_ppm).  The unsupervised-
    vs-labels scorecard (purity is the standard external clustering
    metric); pairs with emb_kmeans the way ann_recall pairs with
    ann_lsh: the quality number ships WITH the operator.

    Reuses the exact-integer Lloyd rounds (centroids as plan metadata,
    assignment map-only — no corpus join); the label cross-tab is one
    bounded-key shuffle (clusters × labels), the majority pick a window
    over that tiny table.  All integers → oracle-exact."""
    base = _kmeans_base(emb, id_col, vec_col)
    loop_base, release = _lloyd_loop_frame(base)
    cents = _lloyd_centroids(loop_base, n_clusters, iters, dim,
                             use_udf=use_udf)
    release()
    if use_udf:
        assigned = _kmeans_assign_np(base, cents, out="assign")
    else:
        assigned = (base.withColumn("best", _kmeans_best_expr(cents))
                    .select("vec_id", F.col("best.c").alias("cluster")))
    lab = emb.select(F.col(id_col).alias("vec_id"),
                     F.col(label_col).alias("lab"))
    cnt = (assigned.join(lab, "vec_id")
           .groupBy("cluster", "lab")
           .agg(F.count("*").cast("long").alias("n")))
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), "lab")
    top = (cnt.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("cluster", F.col("lab").alias("top_label"),
                   F.col("n").alias("top_n")))
    sz = cnt.groupBy("cluster").agg(F.sum("n").cast("long").alias("n"))
    return (sz.join(top, "cluster")
            .select(F.col("cluster").cast("int").alias("cluster"), "n",
                    "top_label", "top_n",
                    F.expr("(1000000 * top_n) div n").alias("purity_ppm"))
            .orderBy("cluster"))


def _gram_moments(emb: DataFrame, id_col: str, vec_col: str,
                  dim: int, use_udf: bool) -> DataFrame:
    """Shared second-moment pass: returns the eagerly-checkpointed
    (dim_i, dim_j, v) moment table — upper-triangle Σqᵢqⱼ cells, the
    (i, 0) component sums, and the (0, 0) row count — where q is the
    10⁻⁶-quantized embedding.  See embedding_covariance for the scale
    shape and the int64 bound.  Null vectors drop at ingress — a moment
    over nothing contributes nothing (and would poison np.stack)."""
    emb = _live_vectors(emb, vec_col)
    if use_udf:
        def part(batches):
            import numpy as np
            import pandas as pd

            G = np.zeros((dim, dim), dtype=np.int64)
            s = np.zeros(dim, dtype=np.int64)
            n = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                # round half away from zero, matching Spark/DuckDB round()
                Q = (np.sign(X) * np.floor(np.abs(X) * 1e6 + 0.5)
                     ).astype(np.int64)
                G += Q.T @ Q
                s += Q.sum(axis=0)
                n += len(pdf)
            if not n:
                return
            iu, ju = np.triu_indices(dim)
            out = pd.DataFrame({
                "dim_i": np.concatenate([iu + 1, np.arange(1, dim + 1),
                                         [0]]).astype("int32"),
                "dim_j": np.concatenate([ju + 1, np.zeros(dim, int),
                                         [0]]).astype("int32"),
                "v": np.concatenate([G[iu, ju], s, [n]]),
            })
            yield out

        parts = emb.select(vec_col).mapInPandas(
            part, "dim_i int, dim_j int, v long")
    else:
        x = (emb.select(F.col(id_col).alias("__id"),
                        F.posexplode(F.col(vec_col)).alias("pos", "c"))
             .select("__id", (F.col("pos") + 1).alias("pos"),
                     F.round(F.col("c").cast("double") * 1e6, 0)
                      .cast("long").alias("q")))
        moms = (x.alias("a")
                .join(x.alias("b"),
                      (F.col("a.__id") == F.col("b.__id"))
                      & (F.col("b.pos") >= F.col("a.pos")))
                .select(F.col("a.pos").alias("dim_i"),
                        F.col("b.pos").alias("dim_j"),
                        (F.col("a.q") * F.col("b.q")).alias("v")))
        sums = x.select(F.col("pos").alias("dim_i"),
                        F.lit(0).alias("dim_j"), F.col("q").alias("v"))
        cnt = emb.select(F.lit(0).alias("dim_i"), F.lit(0).alias("dim_j"),
                         F.lit(1).cast("long").alias("v"))
        parts = moms.unionByName(sums).unionByName(cnt)

    agg = (parts.groupBy("dim_i", "dim_j")
           .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v")))
    # the moment table is tiny (d² + d + 1 rows) but feeds several
    # subplans — materialize it once so the corpus-wide Gram pass runs
    # once, not once per branch (measured: 8 exchanges → 2 without this)
    return agg.localCheckpoint(eager=True)


def embedding_covariance(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", dim: int = 64,
                         use_udf: bool = True) -> DataFrame:
    """Exact population covariance matrix of the embedding corpus in long
    form (dim_i ≤ dim_j, cov) — the second-moment reduce that feeds PCA /
    whitening / drift monitoring over a 100 TB embedding table.

    Scale shape: each partition computes ONE integer Gram block Qᵀ·Q
    (components quantized to exact 10⁻⁶-unit int64, one BLAS call per
    Arrow batch) plus the component sums — d(d+1)/2 + d + 1 skinny rows
    per partition, so the only shuffle is a ~d² -row aggregation no matter
    how many rows the corpus has.  Covariance is assembled from the exact
    integer moments (css = n·Σxy − Σx·Σy in decimal, overflow-free), and
    the single double division happens once per cell — bit-identical
    across engines and partitionings.

    ``use_udf=False`` is the built-in-expression twin (posexplode
    self-join; one corpus-sized shuffle) used for equivalence testing and
    as the no-Python audit path.

    Per-partition int64 bound: |q| ≤ 10⁶ ⇒ each Gram term ≤ 10¹², safe
    for ≤ ~9·10⁶ rows per partition; size partitions accordingly (the
    default 128 MB parquet split holds ~10⁵ 64-dim rows)."""
    agg = _gram_moments(emb, id_col, vec_col, dim, use_udf)
    n_row = (agg.filter((F.col("dim_i") == 0) & (F.col("dim_j") == 0))
             .select(F.col("v").alias("n")))
    s_tab = (agg.filter((F.col("dim_i") > 0) & (F.col("dim_j") == 0))
             .select(F.col("dim_i").alias("sdim"), F.col("v").alias("s")))
    m_tab = agg.filter(F.col("dim_j") > 0)
    joined = (m_tab
              .join(F.broadcast(s_tab.withColumnRenamed("sdim", "dim_i")
                                .withColumnRenamed("s", "s_i")), "dim_i")
              .join(F.broadcast(s_tab.withColumnRenamed("sdim", "dim_j")
                                .withColumnRenamed("s", "s_j")), "dim_j")
              .crossJoin(F.broadcast(n_row)))
    css = (F.col("n") * F.col("v") - F.col("s_i") * F.col("s_j"))
    denom = (F.col("n").cast("double") * F.col("n").cast("double")
             * F.lit(1e12))
    return (joined.select(
        "dim_i", "dim_j",
        F.round(css.cast("double") / denom, 9).alias("cov"))
        .orderBy("dim_i", "dim_j"))


def embedding_drift(ref: DataFrame, cand: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = 64, use_udf: bool = True) -> DataFrame:
    """Per-dimension distribution drift between a REFERENCE embedding
    population and a CANDIDATE one — the gate a 100 TB embedding
    refresh runs before swapping in a re-embedded corpus (a changed
    model/preprocessing shows up as mean shift or variance collapse on
    specific dimensions long before retrieval metrics move).

    Returns one row per dimension: (dim, n_ref, n_cand, mean_ref,
    mean_cand, var_ref, var_cand, std_shift) where std_shift is the
    pooled-variance standardized mean shift
    (mean_cand − mean_ref)/√((var_ref+var_cand)/2) — 0.0 when both
    variances vanish.  All moments are exact integer sums of the
    10⁻⁶-quantized components (the ``_gram_moments`` pass shared with
    covariance/PCA), so every surfaced float is ONE division chain on
    exact integers — bit-identical across engines and partitionings.

    Scale shape: one moment pass per side (d²-row partials per
    partition, corpus never shuffled), then all arithmetic happens on
    two d-row tables joined broadcast-size."""
    def side(df, tag):
        agg = _gram_moments(df, id_col, vec_col, dim, use_udf)
        n = (agg.filter((F.col("dim_i") == 0) & (F.col("dim_j") == 0))
             .select(F.col("v").alias(f"n_{tag}")))
        s = (agg.filter((F.col("dim_i") > 0) & (F.col("dim_j") == 0))
             .select(F.col("dim_i").alias("dim"),
                     F.col("v").alias(f"s_{tag}")))
        m2 = (agg.filter((F.col("dim_i") > 0)
                         & (F.col("dim_i") == F.col("dim_j")))
              .select(F.col("dim_i").alias("dim"),
                      F.col("v").alias(f"m2_{tag}")))
        return s.join(m2, "dim").crossJoin(F.broadcast(n))

    j = side(ref, "ref").join(side(cand, "cand"), "dim")

    def stats(tag):
        n_d = F.col(f"n_{tag}").cast("double")
        mean = ((F.col(f"s_{tag}").cast("double") / n_d) / F.lit(1e6))
        css = (F.col(f"n_{tag}") * F.col(f"m2_{tag}")
               - F.col(f"s_{tag}") * F.col(f"s_{tag}"))
        var = css.cast("double") / (n_d * n_d * F.lit(1e12))
        return mean, var

    mean_r, var_r = stats("ref")
    mean_c, var_c = stats("cand")
    pool = (var_r + var_c) / F.lit(2.0)
    std_shift = F.when(pool == 0, F.lit(0.0)).otherwise(
        F.round((mean_c - mean_r) / F.sqrt(pool), 6))
    return (j.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cand").cast("long").alias("n_cand"),
        F.round(mean_r, 9).alias("mean_ref"),
        F.round(mean_c, 9).alias("mean_cand"),
        F.round(var_r, 9).alias("var_ref"),
        F.round(var_c, 9).alias("var_cand"),
        std_shift.alias("std_shift"))
        .orderBy("dim"))


def pca_project(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", dim: int = 64,
                iters: int = 4, use_udf: bool = True) -> DataFrame:
    """Project every embedding onto the corpus's dominant principal
    component, computed EXACTLY: integer power iteration on the integer
    scatter matrix C = n·ΣQQᵀ − (ΣQ)(ΣQ)ᵀ (1e-6-quantized components).

    Scale shape: the corpus contributes one distributed Gram pass (the
    same d²-row reduce as embedding_covariance); the d×d power iteration
    runs on the driver over plan-metadata-sized moments (4 k cells for
    d=64 — bloom-bitmap scale), in arbitrary-precision Python ints so
    nothing rounds; the projection is a map-only pass with the component
    as a literal vector.  Every step is deterministic and the oracle
    replays it bit-for-bit (unrolled per-iteration CTEs, hugeint math):
    - rescale each round to 1e6 units via the offset trick
      ((w+m)·1e6 div m − 1e6, m = max|w|) so the integer division is on
      non-negatives, where floor and truncate agree across engines;
    - canonical sign: flip so the largest-|x| component (first index on
      ties) is positive.
    Output: (id, proj) with proj = Σ qᵢ·vᵢ exact in 1e-12 units."""
    agg = _gram_moments(emb, id_col, vec_col, dim, use_udf)
    n = 0
    s = [0] * (dim + 1)
    m2 = [[0] * (dim + 1) for _ in range(dim + 1)]
    for r in agg.collect():
        i, j, v = r["dim_i"], r["dim_j"], int(r["v"])
        if i == 0 and j == 0:
            n = v
        elif j == 0:
            s[i] = v
        else:
            m2[i][j] = v
            m2[j][i] = v
    if n == 0:
        return emb.select(F.col(id_col),
                          F.lit(0).cast("long").alias("proj")).limit(0)
    C = [[n * m2[i][j] - s[i] * s[j] for j in range(1, dim + 1)]
         for i in range(1, dim + 1)]
    v = [10 ** 6] + [0] * (dim - 1)
    for _ in range(iters):
        w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [((x + m) * 10 ** 6) // m - 10 ** 6 for x in w]
    k = min(range(dim), key=lambda i: (-abs(v[i]), i))
    if v[k] < 0:
        v = [-x for x in v]
    vec = F.array(*[F.lit(x).cast("long") for x in v])
    q = F.transform(F.col(vec_col),
                    lambda c: F.round(c.cast("double") * 1e6, 0)
                    .cast("long"))
    proj = F.aggregate(F.zip_with(q, vec, lambda a, b: a * b),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (emb.select(F.col(id_col), proj.alias("proj"))
            .orderBy(id_col))


def norm_histogram(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distribution of squared embedding norms in power-of-two buckets of
    the exact integer Σq² (q = 10⁻⁶-quantized components) — the embedding
    QA profile that catches zero vectors, un-normalized batches, and
    scale drift after a model migration before they poison cosine search
    (a zero vector scores 0 against everything; a 10× norm outlier
    dominates any dot-product ranking).

    Map-only fold per row + a ≤64-bucket aggregate; bucket 0 collects
    exact zero vectors."""
    q = F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") * 1e6, 0)
                    .cast("long"))
    ss = F.aggregate(q, F.lit(0).cast("long"),
                     lambda acc, v: acc + v * v)
    bucket = (F.when(ss == 0, F.lit(0))
              .otherwise(F.length(F.bin(ss)))).cast("int").alias("bucket")
    return (emb.select(bucket, ss.alias("ss"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_vectors"),
                 F.min("ss").alias("min_ss"), F.max("ss").alias("max_ss"))
            .orderBy("bucket"))


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   lo: float = 0.05, hi: float = 0.5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   qid_col: str = "query_id",
                   qvec_col: str = "query_vec",
                   use_udf: bool = True) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    query, the k candidates with the HIGHEST cosine inside [lo, hi) —
    similar enough to be confusable, below the positive band (the standard
    in-batch-negatives upgrade; e.g. DPR, Karpukhin et al. 2020).

    Same scale shape as brute_force_topk: queries broadcast, scoring is a
    map-side fold over one corpus scan, the band filter drops most rows
    BEFORE the per-query rank window.  Self-matches are excluded by id.
    At 100 TB swap the scan for lsh_ann/ivf_ann candidates feeding the
    same band filter + rank (identical output wherever the candidate set
    covers the band).

    ``use_udf=True`` (default) scores + band-filters + partial-cuts in
    one Arrow pass (bit-identical, see _score_topk_np); the expression
    plan stays as the oracle twin.
    """
    if use_udf:
        return _ranked(_score_topk_np(corpus, queries, k, id_col, vec_col,
                                      qid_col, qvec_col, lo=lo, hi=hi,
                                      exclude_self=True), k)
    scored = (corpus.select(F.col(id_col).alias("vec_id"),
                            F.col(vec_col).alias("v"))
              .join(F.broadcast(queries.select(
                  F.col(qid_col).alias("query_id"),
                  F.col(qvec_col).alias("q"))))
              .filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("score", F.round(cosine_similarity("v", "q"), 6))
              .filter((F.col("score") >= lo) & (F.col("score") < hi)))
    return _ranked(scored, k)


def embedding_outliers(emb: DataFrame, n_clusters: int = 8, iters: int = 3,
                       dim: int = 64, pct: int = 90,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       use_udf: bool = True) -> DataFrame:
    """Embedding-space outlier flags: cluster with the shared exact-int
    Lloyd rounds, then flag every vector whose squared distance to its
    centroid ranks above the per-cluster pct-th order statistic — the
    garbage-embedding filter a training-data pipeline runs before
    contrastive sampling (far-from-every-centroid rows are decode errors,
    empty docs, or adversarial junk).

    Exact and order-independent: distances are int64, the cutoff is a
    rank comparison (10·rank > pct·n/10-free integer form), ties break on
    vec_id.  One assignment pass (map-only, centroids as plan metadata) +
    one window shuffle on the bounded cluster key.
    Output: (vec_id, cluster, dist, outlier) with dist = d/1e12 at 6 dp.
    """
    from pyspark.sql import Window

    base = _kmeans_base(emb, id_col, vec_col)
    loop_base, release = _lloyd_loop_frame(base)
    cents = _lloyd_centroids(loop_base, n_clusters, iters, dim,
                             use_udf=use_udf)
    release()
    if use_udf:
        assigned = _kmeans_assign_np(base, cents, out="assign")
    else:
        assigned = (base.withColumn("best", _kmeans_best_expr(cents))
                    .select("vec_id", F.col("best.c").alias("cluster"),
                            F.col("best.d").alias("d")))
    w = Window.partitionBy("cluster").orderBy("d", "vec_id")
    wc = Window.partitionBy("cluster")
    return (assigned
            .withColumn("rn", F.row_number().over(w))
            .withColumn("n_c", F.count("*").over(wc))
            .select("vec_id", F.col("cluster").cast("int").alias("cluster"),
                    F.round(F.col("d") / 1e12, 6).alias("dist"),
                    (F.lit(100) * F.col("rn") > F.lit(pct) * F.col("n_c"))
                    .alias("outlier")))


def nsw_greedy_search(adj, V, ids, entry, qv, beam):
    """Greedy best-first walk over an NSW adjacency (shared by the
    one-shot ``nsw_ann`` and the persisted ``store/nsw_index`` — the
    exact-twin contract requires ONE walker): exact int64 L2, ties on
    vec_id; returns the best ``beam`` visited nodes as sorted
    (dist, vec_id, idx) tuples, entered at node ``entry``.

    Per-task CPU shape (§4.2): a popped node's unvisited neighbors are
    distanced in ONE vectorized numpy gather instead of one call per
    neighbor, and the bounded best list is maintained by bisect.insort
    instead of a full sort per insertion — the visited set, heap
    contents and returned tuples are identical (exact int64 values,
    unique (dist, vec_id) keys)."""
    import heapq
    from bisect import insort

    d0 = int(((V[entry] - qv) ** 2).sum())
    cand = [(d0, ids[entry], entry)]
    visited = {entry}
    best = [(d0, ids[entry], entry)]
    while cand:
        d, _tie, i = heapq.heappop(cand)
        if len(best) >= beam and d > best[-1][0]:
            break
        fresh = [j for j in adj[i]
                 if j not in visited and not visited.add(j)]
        if not fresh:
            continue
        D = V[fresh] - qv
        ds = (D * D).sum(axis=1)
        for t, j in enumerate(fresh):
            tup = (int(ds[t]), ids[j], j)
            heapq.heappush(cand, tup)
            insort(best, tup)
            if len(best) > beam:
                best.pop()
    return best


def nsw_build_adjacency(V, ids, m_links, ef, adj=None, start=None):
    """The NSW insert-by-search build loop (Malkov et al. 2014),
    shared by ``nsw_ann`` and the persisted index: each node from
    ``start`` (default 1 — node 0 is the entry) is inserted by
    SEARCHING the partial graph (beam ``ef``) and linking
    bidirectionally to its ``m_links`` nearest visited nodes.
    ``adj`` continues an EXISTING adjacency (the persisted index's
    O(batch) insert path); rows ``>= start`` are the new nodes.
    O(n·ef·m) per cell, never O(n²)."""
    n = len(ids)
    if adj is None:
        adj = [[] for _ in range(n)]
        start = 1
    else:
        adj = [list(a) for a in adj] + [[] for _ in range(n - len(adj))]
    for i in range(start, n):
        found = nsw_greedy_search(adj, V, ids, 0, V[i], ef)
        for _d, _vid, j in found[:m_links]:
            if j == i:
                continue
            adj[i].append(j)
            adj[j].append(i)
    return adj


def nsw_ann(corpus: DataFrame, queries: DataFrame, k: int = 10,
            n_centroids: int = 8, nprobe: int = 2,
            m_links: int = 6, ef: int = 24, dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "query_id",
            qvec_col: str = "query_vec",
            cents: DataFrame | None = None) -> DataFrame:
    """Graph-ANN rung (round-12 stretch): a navigable-small-world graph
    (Malkov et al., "Approximate nearest neighbor algorithm based on
    navigable small world graphs", Inf. Systems 2014 — the single-layer
    core HNSW stacks) built PER IVF CELL, searched with a greedy
    best-first beam.  The Spark-feasible shape the verdict names: IVF
    routes queries to ``nprobe`` cells (the distributed decision),
    each cell's graph is built and walked SEQUENTIALLY inside one
    ``applyInPandas`` group (graph walks don't parallelize across a
    shuffle; cells bound the memory), entry points and probe lists
    ride in as broadcast-sized closure literals.  At 100 TB the cell
    count scales out while per-cell cost stays bounded — exactly how
    partitioned HNSW serving (e.g. per-shard graphs) deploys.

    Deterministic end to end, like every rung: vectors live in the
    1e-6 fixed-point integer domain, distances are exact int64 L2
    (monotone-equivalent to cosine on normalized vectors), ties break
    on vec_id, insertion order is (md5(vec_id), vec_id), the entry
    point is the first-inserted node.  Build inserts each node by
    SEARCHING the partial graph (beam ef) and linking bidirectionally
    to its ``m_links`` nearest visited nodes — the real NSW insert, so
    build cost is O(n·ef·m) per cell, never O(n²).

    Approximate by design (beam can miss across weakly-linked
    regions): ``nsw_recall`` measures it against the exact ranking —
    the acceptance discipline every ANN rung here ships with.  Scores
    are exact integer dots scaled once (round(i/1e12, 6)), so results
    are engine-portable; the graph walk itself is not SQL-expressible,
    which is why the contract key is rows-only with ann_ivf (same
    probed cells, exhaustive scoring) as the oracle-green exact twin."""
    import numpy as np

    queries = _live_vectors(queries, qvec_col)
    if cents is None:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("q"))
    probes = ivf_probes(q, cents, nprobe)
    # metadata-sized: which queries probe which cell, and the queries'
    # fixed-point vectors — closure literals for the per-cell walker
    probe_rows = probes.collect()
    cell_queries: dict = {}
    for r in probe_rows:
        cell_queries.setdefault(r["centroid_id"], []).append(r["query_id"])
    q_rows = (queries.select(F.col(qid_col).alias("query_id"),
                             pq_fixed_point(F.col(qvec_col), dim)
                             .alias("q6")).collect())
    q6 = {r["query_id"]: np.array(r["q6"], dtype=np.int64) for r in q_rows}

    cells = assigned.filter(
        F.col("centroid_id").isin(list(cell_queries)) if cell_queries
        else F.lit(False))
    base = cells.select(
        "centroid_id", "vec_id",
        pq_fixed_point(F.col("v"), dim).alias("v6"),
        md5_long(F.col("vec_id").cast("string")).alias("h"))
    id_type = assigned.schema["vec_id"].dataType.simpleString()

    def per_cell(pdf):
        import pandas as pd
        cell = pdf["centroid_id"].iloc[0]
        qids = cell_queries.get(cell, [])
        if not qids or pdf.empty:
            return pd.DataFrame(columns=["query_id", "vec_id"])
        pdf = pdf.sort_values(["h", "vec_id"], kind="mergesort")
        V = np.array(list(pdf["v6"]), dtype=np.int64)
        ids = list(pdf["vec_id"])
        adj = nsw_build_adjacency(V, ids, m_links, ef)
        rows = []
        for qid in sorted(qids):
            qv = q6[qid]
            for _d, vid, _j in nsw_greedy_search(adj, V, ids, 0, qv,
                                                 max(ef, k)):
                rows.append((qid, vid))
        return pd.DataFrame(rows, columns=["query_id", "vec_id"])

    # the walk NOMINATES candidates (integer-domain beam); the final
    # scores are the SAME round(cosine, 6) expression ivf_ann ranks by
    # — so with beam >= cell size the output is bit-identical to
    # ivf_ann (the exact-twin contract), and at small beams the
    # returned scores stay exact, only recall drops (the refine_ann
    # composition applied to the graph rung)
    cand = base.groupBy("centroid_id").applyInPandas(
        per_cell, f"query_id long, vec_id {id_type}")
    exact = (assigned.select("vec_id", "v")
             .join(F.broadcast(cand), "vec_id")
             .join(F.broadcast(q), "query_id")
             .withColumn("score",
                         F.round(cosine_similarity("v", "q"), 6)))
    return _ranked(exact.select("query_id", "vec_id", "score"), k)


def nsw_recall(corpus: DataFrame, queries: DataFrame, k: int = 10,
               n_centroids: int = 8, nprobe: int = 2,
               m_links: int = 6, ef: int = 24, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Measured recall@k of the per-cell NSW graph walk against BOTH
    the exact cosine ranking (absolute quality) and the same-probes
    exhaustive IVF ranking (the graph's own ceiling — what the walk
    can lose ON TOP of the cell routing): (query_id, n_hits_exact,
    recall_exact, n_hits_ivf, recall_vs_ivf).  The ann_recall
    acceptance discipline for the graph rung."""
    exact = (brute_force_topk(corpus, queries, k=k, id_col=id_col,
                              vec_col=vec_col, qid_col=qid_col,
                              qvec_col=qvec_col)
             .select("query_id", "vec_id").localCheckpoint(eager=True))
    # ONE centroid table for both rungs (round-12 review): the shared
    # probes are the point of recall_vs_ivf — and the sample is only
    # collected once
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    ivf = ivf_ann(corpus, queries, k=k, n_centroids=n_centroids,
                  nprobe=nprobe, id_col=id_col, vec_col=vec_col,
                  qid_col=qid_col, qvec_col=qvec_col, cents=cents).select(
        F.col("query_id").alias("iq"), F.col("vec_id").alias("iv"))
    nsw = nsw_ann(corpus, queries, k=k, n_centroids=n_centroids,
                  nprobe=nprobe, m_links=m_links, ef=ef, dim=dim,
                  id_col=id_col, vec_col=vec_col, qid_col=qid_col,
                  qvec_col=qvec_col, cents=cents).select(
        F.col("query_id").alias("nq"), F.col("vec_id").alias("nv"),
        F.lit(1).alias("hit"))
    vs_exact = (exact.join(nsw, (F.col("query_id") == F.col("nq"))
                           & (F.col("vec_id") == F.col("nv")), "left")
                .groupBy("query_id")
                .agg(F.count("hit").cast("long").alias("n_hits_exact")))
    vs_ivf = (ivf.join(nsw, (F.col("iq") == F.col("nq"))
                       & (F.col("iv") == F.col("nv")), "left")
              .groupBy(F.col("iq").alias("query_id"))
              .agg(F.count("hit").cast("long").alias("n_hits_ivf")))
    return (vs_exact.join(vs_ivf, "query_id", "full_outer")
            .select("query_id",
                    F.coalesce("n_hits_exact", F.lit(0)).alias(
                        "n_hits_exact"),
                    F.round(F.coalesce("n_hits_exact", F.lit(0)) / k, 6)
                     .alias("recall_exact"),
                    F.coalesce("n_hits_ivf", F.lit(0)).alias("n_hits_ivf"),
                    F.round(F.coalesce("n_hits_ivf", F.lit(0)) / k, 6)
                     .alias("recall_vs_ivf"))
            .orderBy("query_id"))
