"""Persisted inverted index for BM25 keyword retrieval — the keyword twin
of store/ivf_index.IVFIndex, with Lucene-style segment maintenance under a
MANIFEST-COMMIT protocol.

The scan path (operators/retrieval.bm25_scores) recomputes tokenization +
tf + df from a full corpus scan on EVERY query batch; at 100 TB that is a
full scan per batch.  This index is build-once / probe-pruned / maintained
incrementally (the reference maintains its index on every write —
CosmosDBClientWrapper.cs:117-146; this is that contract for the keyword
leg).

Why segments: term-hash-partitioned postings make SEARCH prune perfectly
(a term's complete posting list lives in one bucket), but updates scatter
— any multi-document batch touches essentially every term bucket (common
words), so rewrite-in-place maintenance degenerates to a full posting
rewrite per batch.  The classic fix (Lucene, Elasticsearch) is
IMMUTABLE SEGMENTS + TOMBSTONES:

    <path>/segments/seg=N/tbucket=M/   postings (term, doc_id, tf, dl),
                                       term-hash-bucketed WITHIN each
                                       immutable segment
    <path>/doclens/seg=N/dbucket=M/    (doc_id, dl) per segment, every
                                       document INCLUDING empty ones
    <path>/tombstones/t{V}/            (doc_id, seq): doc_id is dead in
                                       all segments < seq; one immutable
                                       dir per committing version
    <path>/_log/v{V}.json              MANIFEST: live segment list, live
                                       tombstone dirs, exact corpus stats
                                       (n_docs, total_len) and tombstone
                                       row count

Commit protocol (mirrors store/versioned.VersionedTable): every
maintenance op first writes only NEW immutable files, then publishes them
in ONE manifest write — the last step.  Readers resolve segments and
tombstones exclusively through the latest manifest, so a crash between
the data writes and the manifest leaves orphan files that no reader ever
sees (duplicated postings / doubled df are impossible); compaction's
post-commit garbage collection is best-effort and sweeps orphans of
earlier crashes too.  Corpus statistics live IN the manifest (two ints),
so they commit atomically with the file set and stats reads are
driver-side metadata.  Writers are single-writer (one driver owns the
log), the same assumption the reference's one-function-per-blob design
makes.

- ``build``: one tokenize pass → segment 0, manifest v0.
- ``upsert``: the batch becomes a NEW segment; only ids that actually
  have live rows in older segments are tombstoned (a brand-new document
  writes no tombstone — the tombstone set tracks replaced/deleted ids,
  not ingest volume) — O(batch) writes, no old bucket touched.
- ``delete``: tombstone the ids' live rows — O(batch); ids with nothing
  live are a no-op (no commit, no empty tombstone files).
- ``search``: read the query terms' tbuckets across live segments
  (partition pruning on tbucket; seg is just another partition level),
  drop tombstoned rows, score with the exact integer BM25 core shared
  verbatim with the scan path (retrieval.score_tf) — bit-identical to
  ``bm25_topk`` over the live corpus.  The tombstone join broadcasts
  while the manifest's exact row count stays under
  ``broadcast_tombstone_rows`` and falls back to a shuffle join above it
  (a GDPR-purge-sized tombstone set must not ride the driver).
- ``compact``: fold all live rows into a single fresh segment and clear
  tombstones — bounds segment count and tombstone volume; search results
  unchanged.  ``maybe_compact`` triggers on segment count OR tombstone
  volume (dir count / exact row count from the manifest — a delete-only
  retention sweep compacts even though it never adds a segment).
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_vector_pipeline_spark.functions.localrel import (
    local_df,
    release_checkpoint,
)
from document_vector_pipeline_spark.functions.par import run_parallel
from document_vector_pipeline_spark.operators import retrieval

POSTING_SCHEMA = ("term string, doc_id long, tf bigint, dl int, "
                  "pos array<int>, seg int, tbucket int")
DOCLENS_SCHEMA = "doc_id long, dl int, seg int, dbucket int"
TOMBSTONE_SCHEMA = "doc_id long, seq int"
DICT_SCHEMA = ("term string, df bigint, max_tf bigint, min_dl int, "
               "seg int")
TVEC_SCHEMA = "doc_id long, term string, tf bigint, dl int, seg int, vbucket int"


class _TermBatch(NamedTuple):
    """A query batch bound once (TextIndex._bind_terms): ``frame`` the
    set-normalized (query_id, term) rows and ``terms`` their distinct
    terms, both JVM local relations; ``tb`` the sorted term buckets and
    ``rows`` the (query_id, term) pairs as driver values."""
    frame: DataFrame
    terms: DataFrame
    tb: list
    rows: list


class TextIndex:
    def __init__(self, spark: SparkSession, path: str,
                 n_term_buckets: int = 64, n_doc_buckets: int = 16,
                 broadcast_tombstone_rows: int = 1_000_000,
                 term_vectors: bool = False):
        self.spark = spark
        self.path = path
        self.n_term_buckets = n_term_buckets
        self.n_doc_buckets = n_doc_buckets
        self.broadcast_tombstone_rows = broadcast_tombstone_rows
        # opt-in (Lucene term vectors are opt-in too): a doc-bucketed
        # copy of each segment's tf rows, so doc-keyed lookups
        # (more_like_this) prune by DBUCKET instead of scanning every
        # term bucket; costs one extra write per segment when on
        self.term_vectors = term_vectors
        # latest manifest cached driver-side (single-writer assumption,
        # like VersionedTable): searches and the maybe_compact policy
        # read zero files
        self._m_cache: dict | None = None

    # -- layout -------------------------------------------------------------

    @property
    def _segments(self) -> str:
        return os.path.join(self.path, "segments")

    @property
    def _doclens(self) -> str:
        return os.path.join(self.path, "doclens")

    @property
    def _tombstones(self) -> str:
        return os.path.join(self.path, "tombstones")

    @property
    def _dicts(self) -> str:
        return os.path.join(self.path, "dict")

    @property
    def _tvecs(self) -> str:
        return os.path.join(self.path, "tvecs")

    @property
    def _log(self) -> str:
        return os.path.join(self.path, "_log")

    # -- Hadoop-FS helpers (object-store-safe, mirrors IVFIndex) ------------

    def _jpath(self, p: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, jp):
        return jp.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _fs_exists(self, p: str) -> bool:
        jp = self._jpath(p)
        return self._fs(jp).exists(jp)

    def _fs_delete(self, p: str) -> None:
        jp = self._jpath(p)
        self._fs(jp).delete(jp, True)

    def _write_text(self, p: str, text: str) -> None:
        jp = self._jpath(p)
        out = self._fs(jp).create(jp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _read_text(self, p: str) -> str:
        jp = self._jpath(p)
        inp = self._fs(jp).open(jp)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                inp, "UTF-8")
        finally:
            inp.close()

    def _fs_children(self, p: str, prefix: str) -> list[str]:
        jp = self._jpath(p)
        fs = self._fs(jp)
        if not fs.exists(jp):
            return []
        out = []
        for st in fs.listStatus(jp):
            name = st.getPath().getName()
            if name.startswith(prefix):
                out.append(name)
        return sorted(out)

    # -- manifest log -------------------------------------------------------

    def _manifest(self) -> dict | None:
        if self._m_cache is not None:
            return self._m_cache
        names = [n for n in self._fs_children(self._log, "v")
                 if n.endswith(".json")]
        if not names:
            return None
        self._m_cache = json.loads(
            self._read_text(os.path.join(self._log, names[-1])))
        return self._m_cache

    def _manifest_required(self) -> dict:
        m = self._manifest()
        if m is None:
            raise ValueError(f"no text index committed at {self.path}")
        return m

    def _commit(self, v: int, op: str, segments: list[int],
                tombstones: list[str], n_tombstone_rows: int,
                n_docs: int, total_len: int) -> None:
        """Publish a new index state in ONE manifest write — the last
        step of every maintenance op (data files first, manifest last),
        so a crash mid-op can never surface a torn state."""
        m = {"version": int(v), "op": op, "segments": sorted(segments),
             "tombstones": list(tombstones),
             "n_tombstone_rows": int(n_tombstone_rows),
             "n_docs": int(n_docs), "total_len": int(total_len)}
        self._write_text(os.path.join(self._log, f"v{v:012d}.json"),
                         json.dumps(m))
        self._m_cache = m

    def _seg_list(self) -> list[int]:
        m = self._manifest()
        return list(m["segments"]) if m else []

    # -- manifest-resolved reads --------------------------------------------

    def _postings(self, segs: list[int] | None = None) -> DataFrame:
        """Manifest-resolved posting read; ``segs`` restricts to a
        subset of the live segments (wand_search's survivor set) —
        pruning whole segment directories before the scan plans."""
        if segs is None:
            segs = self._manifest_required()["segments"]
        dirs = [os.path.join(self._segments, f"seg={s}") for s in segs]
        return (self.spark.read.schema(POSTING_SCHEMA)
                .option("basePath", self._segments).parquet(*dirs))

    def _doclens_df(self) -> DataFrame:
        segs = self._manifest_required()["segments"]
        dirs = [os.path.join(self._doclens, f"seg={s}") for s in segs]
        return (self.spark.read.schema(DOCLENS_SCHEMA)
                .option("basePath", self._doclens).parquet(*dirs))

    def _tombstone_df(self) -> DataFrame:
        m = self._manifest_required()
        if not m["tombstones"]:
            return self.spark.createDataFrame([], TOMBSTONE_SCHEMA)
        dirs = [os.path.join(self._tombstones, t) for t in m["tombstones"]]
        return (self.spark.read.schema(TOMBSTONE_SCHEMA)
                .option("basePath", self._tombstones).parquet(*dirs))

    # -- bucket expressions -------------------------------------------------

    def _tbucket(self, term_col):
        return (F.pmod(F.xxhash64(term_col), F.lit(self.n_term_buckets))
                .cast("int"))

    def _dbucket(self, doc_col):
        return (F.pmod(F.xxhash64(doc_col.cast("string")),
                       F.lit(self.n_doc_buckets)).cast("int"))

    # -- derivation shared by build/upsert ----------------------------------

    def _tf_of(self, docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        # positions ride along (sorted 0-based token offsets) — the
        # standard Lucene tradeoff: ~2x posting bytes for exact
        # phrase/proximity queries; BM25 search never reads the column
        # (parquet column pruning)
        # token array staged in its own projection so dl and the
        # posexplode consume ONE computed array — inlining size(...)
        # next to posexplode(...) re-runs the regex tokenize per
        # exploded token (retrieval.bm25_scores has the measurement)
        toks = retrieval._tokens(F.col(text_col))
        tok = (docs.select(F.col(id_col).cast("long").alias("doc_id"),
                           toks.alias("__toks"))
               .select("doc_id",
                       F.size(F.col("__toks")).cast("int").alias("dl"),
                       F.posexplode(F.col("__toks")).alias("pos", "term")))
        return (tok.groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).alias("tf"),
                     F.first("dl").alias("dl"),
                     F.sort_array(F.collect_list(F.col("pos").cast("int")))
                     .alias("pos")))

    def _doclens_from_tf(self, docs: DataFrame, id_col: str,
                         tf: DataFrame) -> DataFrame:
        """Doc lengths WITHOUT a second tokenize pass: dl rides in the
        (already materialized) tf relation; an id-only column-pruned
        scan of ``docs`` supplies membership so EMPTY documents still
        get a dl=0 row (they carry n_docs weight in the statistics)."""
        per_doc = tf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
        return (ids.join(per_doc, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("dl", F.lit(0)).cast("int").alias("dl"),
                        self._dbucket(F.col("doc_id")).alias("dbucket")))

    def _write_segment(self, tf: DataFrame, dl: DataFrame, seg: int) -> None:
        # the 3-4 sidecar writes of a segment (postings, doclens, term
        # dictionary, optional term vectors) target DISTINCT immutable
        # directories and read from checkpoint-materialized inputs —
        # submit them concurrently (§2.6) so one segment commit pays
        # one wall, not the sum of four
        writes = []
        writes.append(lambda: (
            tf.withColumn("tbucket", self._tbucket(F.col("term")))
            .repartition("tbucket")
            .write.partitionBy("tbucket").mode("overwrite")
            .parquet(os.path.join(self._segments, f"seg={seg}"))))
        writes.append(lambda: (
            dl.repartition("dbucket")
            .write.partitionBy("dbucket").mode("overwrite")
            .parquet(os.path.join(self._doclens, f"seg={seg}"))))
        # per-segment term dictionary (Lucene's term dict, minus the
        # FST): VOCAB-sized, one file — the sidecar multi-term queries
        # (prefix/wildcard) expand against, so term DISCOVERY never
        # scans postings.  df is the segment's raw document frequency
        # (plain search recomputes live df from the pruned posting
        # read; wand_search derives the SAME live df as raw-sum minus
        # an exact tombstone correction).  max_tf / min_dl are the
        # block-max sidecar (Lucene BMW impacts at segment granularity):
        # BM25's per-term contribution is increasing in tf and
        # decreasing in dl, so contrib(max_tf, min_dl) upper-bounds
        # every live doc's contribution in the segment — tombstones
        # only remove docs, which can never raise the true max, so the
        # raw bound stays sound without maintenance
        writes.append(lambda: (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.max("tf").cast("long").alias("max_tf"),
                 F.min("dl").cast("int").alias("min_dl"))
            .coalesce(1).write.mode("overwrite")
            .parquet(os.path.join(self._dicts, f"seg={seg}"))))
        if self.term_vectors:
            writes.append(lambda: (
                tf.select("doc_id", "term", "tf", "dl")
                .withColumn("vbucket", self._dbucket(F.col("doc_id")))
                .repartition("vbucket")
                .write.partitionBy("vbucket").mode("overwrite")
                .parquet(os.path.join(self._tvecs, f"seg={seg}"))))
        run_parallel(*writes)

    def _tvecs_df(self) -> DataFrame:
        if not self.term_vectors:
            raise ValueError(
                "this index was not built with term_vectors=True")
        segs = self._manifest_required()["segments"]
        dirs = [os.path.join(self._tvecs, f"seg={s}") for s in segs]
        return (self.spark.read.schema(TVEC_SCHEMA)
                .option("basePath", self._tvecs).parquet(*dirs))

    def _dict_df(self) -> DataFrame:
        segs = self._manifest_required()["segments"]
        dirs = [os.path.join(self._dicts, f"seg={s}") for s in segs]
        return (self.spark.read.schema(DICT_SCHEMA)
                .option("basePath", self._dicts).parquet(*dirs))

    # -- tombstones ---------------------------------------------------------

    def _live(self, df: DataFrame) -> DataFrame:
        """Drop rows whose doc_id carries a tombstone with seq > seg.
        No-tombstone states skip the join entirely; a metadata-sized
        tombstone set (replaced/deleted ids only) broadcasts; a set
        larger than ``broadcast_tombstone_rows`` (known EXACTLY from the
        manifest, zero jobs) falls back to a shuffle join — a
        delete-heavy pre-compaction state must not ride the driver."""
        m = self._manifest_required()
        if not m["tombstones"]:
            return df
        ts = (self._tombstone_df()
              .groupBy("doc_id").agg(F.max("seq").alias("__ts_seq")))
        if m["n_tombstone_rows"] <= self.broadcast_tombstone_rows:
            ts = F.broadcast(ts)
        return (df.join(ts, "doc_id", "left")
                .filter(F.col("__ts_seq").isNull()
                        | (F.col("seg") >= F.col("__ts_seq")))
                .drop("__ts_seq"))

    def _old_live(self, victims: DataFrame,
                  dbkts: list[int]) -> DataFrame:
        """The victims' LIVE (doc_id, dl) rows in the current manifest's
        segments — the doclens read is pruned to the victims' dbuckets
        ``dbkts`` and semi-joined on the (batch-sized, broadcast) victim
        set.
        Checkpointed: it feeds both the stats delta and the tombstone
        write without re-scanning."""
        m = self._manifest()
        empty = self.spark.createDataFrame([], "doc_id long, dl int")
        if m is None or not m["segments"]:
            return empty
        if not dbkts:
            return empty
        old = (self._doclens_df()
               .filter(F.col("dbucket").isin(dbkts))
               .join(F.broadcast(victims), "doc_id", "left_semi"))
        return (self._live(old).select("doc_id", "dl")
                .localCheckpoint(eager=True))

    @staticmethod
    def _count_len(df: DataFrame) -> tuple[int, int]:
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.coalesce(F.sum(F.col("dl").cast("long")), F.lit(0))
                   .alias("t")).collect()[0]
        return int(r["n"]), int(r["t"])

    def _write_tombstones(self, ids: DataFrame, seq: int, v: int) -> str:
        name = f"t{v:012d}"
        (ids.select("doc_id", F.lit(seq).cast("int").alias("seq"))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(self._tombstones, name)))
        return name

    # -- operations ---------------------------------------------------------

    def build(self, docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> None:
        """One tokenize pass → segment 0 + manifest v0 (a rebuild drops
        all segments, tombstones, and the log through the FS and starts
        over).  Ids must be unique (one row per document)."""
        for sub in (self._segments, self._doclens, self._tombstones,
                    self._log):
            self._fs_delete(sub)
        self._m_cache = None
        # ONE tokenize pass materialized, feeding postings AND doclens
        # (dl is derived from tf plus an id-only membership scan — no
        # second corpus tokenize at any scale)
        tf = self._tf_of(docs, id_col, text_col).localCheckpoint(eager=True)
        dl = self._doclens_from_tf(docs, id_col, tf)\
            .localCheckpoint(eager=True)
        # segment writes and the stats count read the same checkpointed
        # frames — overlap them (§2.6); the manifest commit stays last
        _, (n, t) = run_parallel(
            lambda: self._write_segment(tf, dl, 0),
            lambda: self._count_len(dl))
        self._commit(0, "build", [0], [], 0, n, t)

    def stats(self) -> DataFrame:
        """One-row (n_docs, total_len) — read from the manifest: the
        statistics commit atomically with the file set and cost zero
        jobs."""
        m = self._manifest_required()
        return local_df(
            self.spark,
            [(m["n_docs"], m["total_len"])], "n_docs long, total_len long")

    def search(self, query_terms: DataFrame, k: int = 10,
               checkpoint: bool = True, doc_filter=None) -> DataFrame:
        """BM25 top-k per query reading ONLY the query terms' posting
        buckets — (query_id, doc_id, n_terms, score_micro, rank),
        bit-identical to retrieval.bm25_topk over the live corpus.

        The bucket list is a query-batch-sized driver collect (the
        keyword analogue of IVF's probed-cell list); everything after it
        is candidate-sized.  ``checkpoint`` materializes the pruned tf
        relation once for its two consumers (df aggregation + scoring
        join); pass False to keep full lineage (plan inspection).

        ``doc_filter`` (a Column predicate over ``doc_id``) restricts
        the RESULT set — Lucene filtered-query semantics: idf/corpus
        statistics stay corpus-level, the filter drops candidates after
        scoring (the keyword twin of the store's filtered vector
        search).

        Query terms are SET-normalized first (``.distinct()``): a term
        repeated in one query scores once — the same multiset the
        wand_search bounds are computed over, so the exactness contract
        (wand_search ≡ search) holds on duplicate-term input too.
        Normalization is over the CONTRACT columns (query_id, term)
        explicitly, so extra caller columns (weights, source tags)
        cannot survive the distinct and double-score a term
        (round-13 ADVICE fix).

        The batch is collected ONCE (``_bind_terms``) and every later
        job reads its JVM-local copy, so the caller's plan — a Python
        RDD when built with ``createDataFrame(list)`` — runs once per
        call."""
        return self._search_bound(self._bind_terms(query_terms), k,
                                  checkpoint, doc_filter)

    def _bind_terms(self, query_terms: DataFrame) -> _TermBatch:
        """Collect the caller's (query_id, term) batch ONCE — a query
        batch is metadata-sized — together with each term's bucket, and
        rebuild it as a JVM local relation: the set-normalized batch,
        its distinct terms and the tbucket list all come from these
        driver rows, so no later job re-runs the caller's plan.  The
        distinct is driver-side over the contract columns."""
        qt = query_terms.select("query_id", "term")
        rows = list(dict.fromkeys(
            tuple(r) for r in
            qt.select("query_id", "term",
                      self._tbucket(F.col("term"))).collect()))
        terms = list(dict.fromkeys(t for _, t, _ in rows))
        return _TermBatch(
            local_df(self.spark, [(q, t) for q, t, _ in rows], qt.schema),
            local_df(self.spark, [(t,) for t in terms], "term string"),
            sorted({b for _, _, b in rows}),
            [(q, t) for q, t, _ in rows])

    def _search_bound(self, batch: _TermBatch, k: int,
                      checkpoint: bool = True,
                      doc_filter=None) -> DataFrame:
        post = self._postings().filter(F.col("tbucket").isin(batch.tb))
        tf = (self._live(
                post.join(F.broadcast(batch.terms), "term", "left_semi"))
              .select("doc_id", "term", "tf", "dl"))
        if checkpoint:
            tf = tf.localCheckpoint(eager=True)
        scored = retrieval.score_tf(tf, batch.frame, self.stats())
        if doc_filter is not None:
            scored = scored.filter(doc_filter)
        return retrieval.rank_topk(scored, k)

    def search_count(self, query_terms: DataFrame,
                     doc_filter=None) -> DataFrame:
        """Total-hits count per query (Lucene totalHits — what a
        pagination UI shows next to page 1): the number of live
        documents matching ANY of the query's terms, from the same
        tbucket-pruned posting read as ``search`` but with NO scoring,
        no top-k, and no per-document work beyond a distinct count —
        (query_id, total_hits).  ``doc_filter`` restricts the counted
        set with ``search``'s filtered-query semantics.  At 100 TB the
        count is a query-terms-pruned aggregation, never a corpus
        scan."""
        tb = [r[0] for r in query_terms
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        post = self._postings().filter(F.col("tbucket").isin(tb))
        tf = (self._live(
                post.join(F.broadcast(query_terms.select("term").distinct()),
                          "term", "left_semi"))
              .select("doc_id", "term"))
        hits = tf.join(F.broadcast(query_terms.select("query_id", "term")
                                   .distinct()), "term")
        if doc_filter is not None:
            hits = hits.filter(doc_filter)
        return (hits.groupBy("query_id")
                .agg(F.countDistinct("doc_id").cast("long")
                     .alias("total_hits")))

    # -- block-max (WAND/MaxScore) serving ----------------------------------

    def _live_df_map(self, batch: _TermBatch) -> tuple[dict, dict]:
        """Exact live document frequency per query term WITHOUT the
        scoring read, plus the per-(term, seg) block-max rows.

        live_df(t) = Σ_seg dict.df(t, seg) − |dead posting rows of t|:
        every live doc owns rows in exactly ONE live segment (upsert
        tombstones the replaced copy), so the raw dictionary sum counts
        each live doc once plus each tombstoned row once, and the
        correction is exact.  The correction job reads only the query
        terms' tbuckets, only 3 narrow columns (term, doc_id, seg —
        never tf/dl/pos), and only runs when tombstones exist; its
        output is query-term-sized."""
        m = self._manifest_required()
        drows = (self._dict_df()
                 .join(F.broadcast(batch.terms), "term", "left_semi")
                 .collect())
        raw: dict[str, int] = {}
        blocks: dict[tuple, tuple] = {}
        for r in drows:
            raw[r["term"]] = raw.get(r["term"], 0) + int(r["df"])
            blocks[(r["term"], int(r["seg"]))] = (r["max_tf"], r["min_dl"])
        dead: dict[str, int] = {}
        if m["tombstones"] and drows:
            post = (self._postings()
                    .filter(F.col("tbucket").isin(batch.tb))
                    .join(F.broadcast(batch.terms), "term", "left_semi")
                    .select("term", "doc_id", "seg"))
            ts = (self._tombstone_df()
                  .groupBy("doc_id").agg(F.max("seq").alias("__ts_seq")))
            if m["n_tombstone_rows"] <= self.broadcast_tombstone_rows:
                ts = F.broadcast(ts)
            dead = {r["term"]: int(r["n"]) for r in
                    (post.join(ts, "doc_id")
                     .filter(F.col("seg") < F.col("__ts_seq"))
                     .groupBy("term")
                     .agg(F.count(F.lit(1)).alias("n"))).collect()}
        live = {t: raw[t] - dead.get(t, 0) for t in raw}
        return live, blocks

    def _wand_survivors(self, batch: _TermBatch, k: int = 10,
                        doc_filter=None):
        """The segment-skip plan: per-(query, segment) score upper
        bounds from the dictionary sidecar, a seed pass over each
        query's best-bound segment to establish θ (the kth score), and
        the survivor set {seg : ∃q bound(q, seg) ≥ θ_q}.  ``batch`` is
        the once-bound query batch (``_bind_terms``) whose tbucket list
        both passes prune with.  Returns (survivors, df_frame, seeds,
        seed_scored) — df_frame carries the exact live per-term df so
        BOTH passes score with identical idf.

        Soundness: bound(q, s) = Σ_t ⌈contrib(idf⁺, max_tf, min_dl)⌉+1
        over q's terms present in s — contrib is increasing in tf and
        decreasing in dl, idf⁺ = ⌊idf⌋+1 ≥ the engine's half-up
        rounding, and the +1 absorbs float-order differences between
        this Python mirror and the JVM expression, so the bound can
        only OVER-estimate.  θ_q comes from exactly-scored seed docs,
        hence θ_q ≤ the true kth score; a segment with bound < θ_q
        cannot hold a top-k doc.  A query with fewer than k seed hits
        gets no θ and skips nothing."""
        import math

        m = self._manifest_required()
        segs = list(m["segments"])
        n_docs, total_len = int(m["n_docs"]), int(m["total_len"])
        # one bind serves the df correction, the bounds AND both scoring
        # passes: the tbucket list and the (query_id, term) structure
        # are driver rows, the term frames JVM-local
        live_df, blocks = self._live_df_map(batch)
        df_frame = local_df(
            self.spark,
            [(t, n) for t, n in live_df.items()] or
            [("", 0)], "term string, df long").filter(F.col("term") != "")

        def idf_plus(dfv: int) -> float:
            x = math.log((2.0 * (n_docs - dfv) + 1.0)
                         / (2.0 * dfv + 1.0) + 1.0) * 1e6
            return math.floor(x) + 1.0

        bounds: dict = {}
        for qid, term in batch.rows:
            if term not in live_df:
                continue
            iplus = idf_plus(live_df[term])
            for s in segs:
                blk = blocks.get((term, s))
                if blk is None:
                    continue
                max_tf, min_dl = blk
                if max_tf is None or min_dl is None:
                    ub = math.inf          # pre-upgrade dict: never skip
                else:
                    ub = math.floor(
                        iplus * (22.0 * (float(max_tf) * total_len))
                        / ((10.0 * (total_len * float(max_tf)))
                           + (3.0 * total_len)
                           + (9.0 * (float(min_dl) * n_docs)))) + 1
                bounds.setdefault(qid, {})
                bounds[qid][s] = bounds[qid].get(s, 0) + ub
        seeds = set()
        for qid, per_seg in bounds.items():
            best = max(per_seg.items(), key=lambda kv: (kv[1], -kv[0]))
            seeds.add(best[0])
        if not seeds:
            return [], df_frame, set(), None
        # the seed pass is EXACT scoring of the seed segments — keep it
        # (checkpointed: the θ collect materializes it anyway) so the
        # final pass only scores the NON-seed survivors instead of
        # re-reading the hottest segments twice (round 12: the no-prune
        # worst case — uniform synthetic corpora — was paying 2×)
        seed_scored = self._score_segs(sorted(seeds), batch, df_frame)
        if doc_filter is not None:
            seed_scored = seed_scored.filter(doc_filter)
        seed_scored = seed_scored.localCheckpoint(eager=True)
        theta = {r["query_id"]: int(r["score_micro"]) for r in
                 retrieval.rank_topk(seed_scored, k)
                 .filter(F.col("rank") == k)
                 .select("query_id", "score_micro").collect()}
        survivors = set(seeds)
        for qid, per_seg in bounds.items():
            th = theta.get(qid)
            for s, b in per_seg.items():
                if th is None or b >= th:
                    survivors.add(s)
        return sorted(survivors), df_frame, seeds, seed_scored

    def _score_segs(self, segs: list[int], batch: _TermBatch,
                    df_frame: DataFrame,
                    checkpoint: bool = True) -> DataFrame:
        """search's pruned-read scoring restricted to a segment subset,
        with the live df supplied explicitly (a subset read no longer
        sees every posting row, so df must not be recomputed from it).
        A doc's rows live in exactly one segment, so every doc the
        subset DOES contain is scored completely.  ``batch`` is the
        once-bound query batch — wand_search scores two segment subsets
        of the SAME query terms."""
        post = self._postings(segs).filter(F.col("tbucket").isin(batch.tb))
        tf = (self._live(
                post.join(F.broadcast(batch.terms), "term", "left_semi"))
              .select("doc_id", "term", "tf", "dl"))
        if checkpoint:
            tf = tf.localCheckpoint(eager=True)
        return retrieval.score_tf(tf, batch.frame, self.stats(),
                                  df=F.broadcast(df_frame))

    def wand_search(self, query_terms: DataFrame, k: int = 10,
                    doc_filter=None) -> DataFrame:
        """Top-k BM25 with block-max segment skipping (the WAND /
        MaxScore top-k cut — Broder et al. CIKM 2003, Ding & Suel
        SIGIR 2011 — at Spark's natural skip granularity, the
        segment): BIT-IDENTICAL to ``search`` (it is exact — the bound
        only discards segments that provably cannot reach the running
        kth score), but a common-term query stops being
        posting-length-bound: segments whose per-(term, segment) score
        ceilings (max_tf, min_dl in the dictionary sidecar) sum below
        θ are never read — at 100 TB, a hot term's cold segments drop
        out of the scan entirely, turning the read k-bound.

        Two passes: seed (each query's best-bound segment, exactly
        scored, establishing θ = its kth score) and final (surviving
        segments only, scored with the SAME explicit live-df map so
        idf is identical in both).  Worst case — bounds too loose to
        cut anything — it degrades to ``search`` plus one vocab-sized
        dictionary read and one seed pass.

        Query terms are SET-normalized up front (``.distinct()``), the
        same normalization ``search`` applies: bounds, θ and the final
        scoring all see one row per (query_id, term), so duplicate-term
        input cannot under-bound a segment (round-12 ADVICE fix); the
        distinct is over the contract columns (query_id, term) so
        caller-side extra columns cannot defeat it (round-13).  The
        batch is collected once (``_bind_terms``), as in ``search``."""
        batch = self._bind_terms(query_terms)
        m = self._manifest_required()
        if len(m["segments"]) <= 1:
            return self._search_bound(batch, k, doc_filter=doc_filter)
        survivors, df_frame, seeds, seed_scored = \
            self._wand_survivors(batch, k, doc_filter)
        if not survivors:
            qt = batch.frame.schema["query_id"].dataType.simpleString()
            return local_df(
                self.spark, [], f"query_id {qt}, doc_id long, "
                                f"n_terms bigint, score_micro bigint, "
                                f"rank int")
        # seed segments are already exactly scored (and doc-filtered,
        # and checkpointed) by the seed pass; a live doc's rows live in
        # exactly ONE segment, so the union is disjoint by construction
        rest = [seg for seg in survivors if seg not in seeds]
        scored = seed_scored
        if rest:
            extra = self._score_segs(rest, batch, df_frame)
            if doc_filter is not None:
                extra = extra.filter(doc_filter)
            scored = scored.unionByName(extra)
        return retrieval.rank_topk(scored, k)

    def search_after(self, query_terms: DataFrame, cursors: DataFrame,
                     k: int = 10, checkpoint: bool = True,
                     doc_filter=None) -> DataFrame:
        """Keyset pagination over the persisted index (Elasticsearch
        ``search_after`` / Lucene ``searchAfter``): ``cursors`` is one
        row per query — (query_id, after_score_micro, after_doc_id,
        rank_offset), the LAST hit of the previous page in the total
        order (score_micro desc, doc_id asc) plus that page's absolute
        depth — and the result is the next ``k`` hits per query with
        ABSOLUTE ranks (rank_offset + page position), bit-identical to
        rows rank_offset+1 .. rank_offset+k of ``search`` run with a
        larger k.

        Why keyset and not OFFSET: an offset-p page must still rank
        p+k candidates per query through the top-k machinery, so page
        depth grows the reducer input without bound; the cursor
        predicate instead drops every candidate at-or-above the cursor
        BEFORE the partial top-k cut, keeping each page's ranking work
        constant no matter how deep the client scrolls — the only
        pagination that survives a common-term query against a 100 TB
        posting list.  The posting read itself is the same
        tbucket-pruned scan as ``search``.

        A query absent from ``cursors`` is dropped (its pagination is
        exhausted — the previous page came back short).  ``doc_filter``
        keeps ``search``'s filtered-query semantics: corpus-level
        statistics, candidates dropped after scoring."""
        cur = cursors.select("query_id", "after_score_micro",
                             "after_doc_id", "rank_offset")
        tb = [r[0] for r in query_terms
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        post = self._postings().filter(F.col("tbucket").isin(tb))
        tf = (self._live(
                post.join(F.broadcast(query_terms.select("term").distinct()),
                          "term", "left_semi"))
              .select("doc_id", "term", "tf", "dl"))
        if checkpoint:
            tf = tf.localCheckpoint(eager=True)
        scored = retrieval.score_tf(tf, query_terms, self.stats())
        if doc_filter is not None:
            scored = scored.filter(doc_filter)
        after = (scored.join(F.broadcast(cur), "query_id")
                 .filter((F.col("score_micro") < F.col("after_score_micro"))
                         | ((F.col("score_micro")
                             == F.col("after_score_micro"))
                            & (F.col("doc_id") > F.col("after_doc_id"))))
                 .drop("after_score_micro", "after_doc_id", "rank_offset"))
        page = retrieval.rank_topk(after, k)
        return (page.join(F.broadcast(cur.select("query_id", "rank_offset")),
                          "query_id")
                .withColumn("rank", (F.col("rank")
                                     + F.col("rank_offset")).cast("int"))
                .select("query_id", "doc_id", "n_terms", "score_micro",
                        "rank"))

    def boolean_search(self, clauses: DataFrame, k: int = 10,
                       checkpoint: bool = True) -> DataFrame:
        """Lucene-style BooleanQuery over the persisted index —
        ``clauses`` is (query_id, term, clause) with clause in
        {'must', 'should', 'must_not'}; a term appears in ONE clause
        per query.  A document qualifies when it contains EVERY must
        term of its query (or, for a query with no must clauses, at
        least one should term) and NO must_not term; qualifying
        documents are BM25-ranked over their must+should matches
        (must_not never contributes to the score) — (query_id,
        doc_id, n_terms, score_micro, rank).

        Plan: ONE pruned posting read covers all three clause roles
        (the tbucket list spans every clause term — a must_not term's
        postings are needed to exclude its documents); qualification
        is candidate-sized groupBys against broadcast clause metadata;
        scoring shares retrieval.score_tf verbatim, so a query with
        only must/should clauses ranks bit-identically to ``search``
        over the same terms.  At 100 TB nothing beyond the clause
        terms' posting buckets is read, and every post-read join is
        bounded by candidates x clause terms."""
        clauses = clauses.select("query_id", "term", "clause").distinct()
        tb = [r[0] for r in clauses
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        post = self._postings().filter(F.col("tbucket").isin(tb))
        tf = (self._live(
                post.join(F.broadcast(clauses.select("term").distinct()),
                          "term", "left_semi"))
              .select("doc_id", "term", "tf", "dl"))
        if checkpoint:
            tf = tf.localCheckpoint(eager=True)
        # live tf is unique per (doc_id, term), so the counts below are
        # exact term-presence counts
        # ONE grouped aggregate answers every clause question per
        # (query, doc) — distinct must terms hit (hits is unique per
        # (query, doc, term), so a plain conditional count is exact),
        # any should hit, any must_not hit — replacing the per-clause
        # aggregates + union + anti-join of the previous form with a
        # single exchange (§2.4).  Candidate set provably identical.
        hits = (tf.join(F.broadcast(clauses), "term")
                .select("query_id", "doc_id", "clause"))
        qual = (hits.groupBy("query_id", "doc_id")
                .agg(F.count(F.when(F.col("clause") == "must", 1))
                     .alias("n_hit"),
                     F.max(F.when(F.col("clause") == "should", 1)
                           .otherwise(0)).alias("sh"),
                     F.max(F.when(F.col("clause") == "must_not", 1)
                           .otherwise(0)).alias("ex")))
        n_must = (clauses.groupBy("query_id")
                  .agg(F.countDistinct(
                      F.when(F.col("clause") == "must", F.col("term")))
                      .alias("n_must")))
        cand = (qual.join(F.broadcast(n_must), "query_id")
                .filter((F.col("ex") == 0)
                        & (F.when(F.col("n_must") > 0,
                                  F.col("n_hit") == F.col("n_must"))
                           .otherwise(F.col("sh") == 1)))
                .select("query_id", "doc_id"))
        scoring = (clauses.filter(F.col("clause") != "must_not")
                   .select("query_id", "term").distinct())
        scored = (retrieval.score_tf(tf, scoring, self.stats())
                  .join(cand, ["query_id", "doc_id"], "left_semi"))
        return retrieval.rank_topk(scored, k)

    def query_tree(self, subqueries: DataFrame, k: int = 10,
                   max_edits: int = 1, prefix_len: int = 1,
                   checkpoint: bool = True) -> DataFrame:
        """Composable BOOLEAN TREE over typed sub-queries (round 13 —
        Lucene's BooleanQuery over arbitrary sub-queries, the
        composition layer the separate phrase/fuzzy/prefix entry
        points lacked): ``subqueries`` is (query_id, sub_id, clause,
        qtype, value) with clause in {'must', 'should', 'must_not'}
        and qtype in {'term', 'phrase', 'fuzzy', 'prefix'} — a
        two-level tree whose root is the boolean over sub-queries and
        whose leaves are the sub-query matchers:

        - 'term'    value = one term; matches docs containing it;
        - 'phrase'  value = space-joined terms; matches docs holding
          them CONSECUTIVELY (the phrase_search position algebra);
        - 'fuzzy'   value = a term; Lucene FuzzyQuery rewrite — docs
          containing ANY indexed term within ``max_edits`` sharing
          the first ``prefix_len`` chars;
        - 'prefix'  value = a prefix; docs containing any indexed
          term starting with it.

        A doc qualifies when it matches EVERY must sub-query (or ≥ 1
        should sub-query for a query with no must clauses) and NO
        must_not sub-query; qualifying docs are BM25-ranked over the
        DISTINCT expanded terms of the must+should sub-queries (a
        phrase contributes its constituent terms; must_not never
        scores) — the boolean_search scoring discipline, so output is
        (query_id, doc_id, n_terms, score_micro, rank).

        Plan: fuzzy/prefix rewrite reads only the vocab-sized term
        dictionaries against the broadcast sub-query batch; then ONE
        tbucket-pruned posting read (positions included) serves every
        leaf — qualification is candidate-sized boolean algebra at
        sub_id granularity, scoring shares retrieval.score_tf
        verbatim.  At 100 TB nothing beyond the expanded terms'
        posting buckets is read."""
        sq = (subqueries.select("query_id", "sub_id", "clause",
                                "qtype", "value").distinct()
              .localCheckpoint(eager=True))
        struct = sq.collect()           # a query batch: metadata-sized
        bad = {r["qtype"] for r in struct} \
            - {"term", "phrase", "fuzzy", "prefix"}
        if bad:
            raise ValueError(f"unknown sub-query qtype(s): {sorted(bad)}")
        clause_of = {(r["query_id"], r["sub_id"]): r["clause"]
                     for r in struct}
        # direct members: term + phrase leaves expand driver-side
        direct = []
        for r in struct:
            if r["qtype"] == "term":
                direct.append((r["query_id"], r["sub_id"],
                               r["value"], None))
            elif r["qtype"] == "phrase":
                for o, t in enumerate(r["value"].split()):
                    direct.append((r["query_id"], r["sub_id"], t, o))
        members = local_df(
            self.spark,
            direct, "query_id long, sub_id long, term string, offset int")
        # dictionary rewrites: fuzzy (Levenshtein on vocab) and prefix
        vocab = self._dict_df().select("term").distinct()
        # leaf-type presence is known from the collected batch — no
        # Spark probe jobs (three take(1) actions saved per call)
        qtypes = {r["qtype"] for r in struct}
        fz = sq.filter(F.col("qtype") == "fuzzy").select(
            "query_id", "sub_id", F.col("value").alias("qterm"))
        if "fuzzy" in qtypes:
            cond = (F.levenshtein(F.col("term"), F.col("qterm"))
                    <= F.lit(max_edits))
            if prefix_len > 0:
                cond = cond & (
                    F.substring(F.col("term"), 1, prefix_len)
                    == F.substring(F.col("qterm"), 1, prefix_len))
            members = members.unionByName(
                vocab.join(F.broadcast(fz), cond)
                .select("query_id", "sub_id", "term",
                        F.lit(None).cast("int").alias("offset")))
        px = sq.filter(F.col("qtype") == "prefix").select(
            "query_id", "sub_id", F.col("value").alias("pfx"))
        if "prefix" in qtypes:
            members = members.unionByName(
                vocab.join(F.broadcast(px),
                           F.col("term").startswith(F.col("pfx")))
                .select("query_id", "sub_id", "term",
                        F.lit(None).cast("int").alias("offset")))
        members = members.distinct().localCheckpoint(eager=True)
        # ONE pruned posting read serves every leaf (tf+dl for
        # scoring, positions for the phrase algebra)
        tb = [r[0] for r in members
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        live = self._live(
            self._postings().filter(F.col("tbucket").isin(tb))
            .join(F.broadcast(members.select("term").distinct()),
                  "term", "left_semi")
            .select("doc_id", "term", "tf", "dl", "pos", "seg"))
        if checkpoint:
            live = live.localCheckpoint(eager=True)
        # per-sub-query qualification -> (query_id, sub_id, doc_id).
        # NO distinct here: the boolean algebra below reduces with
        # countDistinct/max, which are duplicate-insensitive, so the
        # dedup exchanges the previous form paid (hits distinct,
        # phrase-hits distinct, three per-clause aggregates + a union
        # + an anti-join) collapse into ONE grouped aggregate (§2.4).
        mem_np = members.filter(F.col("offset").isNull()) \
            .select("query_id", "sub_id", "term")
        hits = (live.join(F.broadcast(mem_np), "term")
                .select("query_id", "sub_id", "doc_id"))
        ph = members.filter(F.col("offset").isNotNull())
        if "phrase" in qtypes:
            need = (ph.groupBy("query_id", "sub_id")
                    .agg(F.countDistinct("offset").alias("n_off")))
            aligned = (live.select("doc_id", "term",
                                   F.explode("pos").alias("p"))
                       .join(F.broadcast(ph), "term")
                       .select("query_id", "sub_id", "doc_id", "offset",
                               (F.col("p") - F.col("offset"))
                               .alias("base"))
                       .filter(F.col("base") >= 0))
            ph_hits = (aligned
                       .groupBy("query_id", "sub_id", "doc_id", "base")
                       .agg(F.countDistinct("offset").alias("n"))
                       .join(F.broadcast(need), ["query_id", "sub_id"])
                       .filter(F.col("n") == F.col("n_off"))
                       .select("query_id", "sub_id", "doc_id"))
            hits = hits.unionByName(ph_hits)
        # one aggregate answers every clause question per (query, doc):
        # distinct must sub-queries hit, any should hit, any must_not
        # hit — provably the same candidate set as the per-clause
        # frames (must: n_hit == n_must; no-must queries: >= 1 should;
        # must_not excludes in all cases)
        h = hits.join(F.broadcast(sq.select("query_id", "sub_id",
                                            "clause")),
                      ["query_id", "sub_id"])
        qual = (h.groupBy("query_id", "doc_id")
                .agg(F.countDistinct(
                        F.when(F.col("clause") == "must",
                               F.col("sub_id"))).alias("n_hit"),
                     F.max(F.when(F.col("clause") == "should", 1)
                           .otherwise(0)).alias("sh"),
                     F.max(F.when(F.col("clause") == "must_not", 1)
                           .otherwise(0)).alias("ex")))
        n_must = (sq.groupBy("query_id")
                  .agg(F.countDistinct(
                      F.when(F.col("clause") == "must",
                             F.col("sub_id"))).alias("n_must")))
        cand = (qual.join(F.broadcast(n_must), "query_id")
                .filter((F.col("ex") == 0)
                        & (F.when(F.col("n_must") > 0,
                                  F.col("n_hit") == F.col("n_must"))
                           .otherwise(F.col("sh") == 1)))
                .select("query_id", "doc_id"))
        scoring = local_df(
            self.spark,
            [(q, s) for (q, s), c in clause_of.items()
             if c != "must_not"], "query_id long, sub_id long")
        score_terms = (members.join(F.broadcast(scoring),
                                    ["query_id", "sub_id"])
                       .select("query_id", "term").distinct())
        scored = (retrieval.score_tf(
                     live.select("doc_id", "term", "tf", "dl"),
                     score_terms, self.stats())
                  .join(cand, ["query_id", "doc_id"], "left_semi"))
        return retrieval.rank_topk(scored, k)

    def prf_search(self, query_terms: DataFrame, k: int = 10,
                   k_fb: int = 3, m: int = 5,
                   checkpoint: bool = True) -> DataFrame:
        """RM3 pseudo-relevance feedback served ENTIRELY off the
        persisted index — bit-identical to the scan path
        (retrieval.bm25_prf) over the live corpus, the way a 100 TB
        serving tier must run it (re-tokenizing the corpus per query
        batch is not an option; reference analogue: the always-indexed
        serving of CosmosDBClientWrapper.cs:117-146).  Requires
        ``term_vectors=True``: the feedback docs' vocabularies come
        from the doc-bucketed term-vector sidecar, the same read
        more_like_this does.

        Plan: pass 1 = ``search`` (tbucket-pruned posting read);
        feedback tfs = vbucket-pruned term-vector read against the
        BROADCAST k_fb-rows-per-query feedback list (Σ tf ≡ the scan
        path's occurrence count); then ONE tbucket-pruned posting read
        over (original ∪ candidate) terms serves BOTH the expansion
        weights' df and the final scoring — the same
        selection-and-scoring-agree-by-construction discipline as
        more_like_this.  Total index reads: pass-1 postings + feedback
        tvecs + one combined pass-2 postings — independent of m, all
        candidate-bounded."""
        qt = query_terms.select("query_id", "term")
        fb = (self.search(qt, k=k_fb, checkpoint=checkpoint)
              .select("query_id", "doc_id")
              .localCheckpoint(eager=True))
        vb = [r[0] for r in fb.select(
            self._dbucket(F.col("doc_id")).alias("b")).distinct().collect()]
        fb_tf = (self._live(self._tvecs_df()
                            .filter(F.col("vbucket").isin(vb)))
                 .join(F.broadcast(fb), "doc_id")
                 .groupBy("query_id", "term")
                 .agg(F.sum("tf").alias("tf_fb")))
        if checkpoint:
            fb_tf = fb_tf.localCheckpoint(eager=True)
        all_terms = (qt.select("term")
                     .union(fb_tf.select("term")).distinct())
        tb = [r[0] for r in all_terms
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        tf2 = (self._live(
                 self._postings().filter(F.col("tbucket").isin(tb))
                 .join(F.broadcast(all_terms), "term", "left_semi"))
               .select("doc_id", "term", "tf", "dl"))
        if checkpoint:
            tf2 = tf2.localCheckpoint(eager=True)
        df2 = tf2.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        idf_micro = F.round(
            F.log((((F.lit(2.0) * (F.col("n_docs") - F.col("df")))
                    + F.lit(1.0))
                   / ((F.lit(2.0) * F.col("df")) + F.lit(1.0)))
                  + F.lit(1.0)) * F.lit(1000000.0)).cast("long")
        wts = (fb_tf.join(F.broadcast(df2), "term")
               .crossJoin(F.broadcast(self.stats()))
               .withColumn("w", F.col("tf_fb") * idf_micro)
               .join(qt, ["query_id", "term"], "left_anti"))
        we = Window.partitionBy("query_id").orderBy(
            F.desc("w"), F.col("term"))
        expansion = (wts.withColumn("__rn", F.row_number().over(we))
                     .filter(F.col("__rn") <= m)
                     .select("query_id", "term"))
        qt2 = qt.union(expansion)
        return retrieval.rank_topk(
            retrieval.score_tf(tf2, qt2, self.stats()), k)

    def prefix_search(self, prefixes: DataFrame, k: int = 10,
                      checkpoint: bool = True) -> DataFrame:
        """Prefix (multi-term) query — ``prefixes`` is (query_id,
        prefix); each query expands to every indexed term starting
        with its prefix, then runs as a scoring-boolean disjunction
        (Lucene's PrefixQuery under the SCORING_BOOLEAN rewrite — BM25
        sum over matched terms, NOT constant-score) — (query_id,
        doc_id, n_terms, score_micro, rank).

        Plan: expansion reads ONLY the per-segment term dictionaries
        (vocab-sized sidecars, never postings) against the broadcast
        prefix batch; the expanded term set then takes the ordinary
        pruned-search path, so postings IO is bounded by the matched
        terms' tbuckets.  A dictionary entry whose term has no live
        posting left (all its docs tombstoned) expands but contributes
        nothing — live df is recomputed from the pruned posting read,
        so staleness costs a probe, never correctness."""
        prefixes = prefixes.select("query_id", "prefix").distinct()
        exp = (self._dict_df().select("term").distinct()
               .join(F.broadcast(prefixes),
                     F.col("term").startswith(F.col("prefix")))
               .select("query_id", "term").distinct())
        if checkpoint:
            # the expansion feeds two consumers inside search() (bucket
            # collect + scoring join) — materialize the vocab-bounded
            # set once
            exp = exp.localCheckpoint(eager=True)
        return self.search(exp, k=k, checkpoint=checkpoint)

    def fuzzy_search(self, query_terms: DataFrame, k: int = 10,
                     max_edits: int = 1, prefix_len: int = 1,
                     checkpoint: bool = True) -> DataFrame:
        """Fuzzy query (Lucene FuzzyQuery): each (query_id, term)
        expands to every indexed term within ``max_edits`` Levenshtein
        edits that shares the first ``prefix_len`` characters (Lucene's
        required-prefix optimization — typos rarely hit the first
        letter, and the prefix turns the dictionary scan's candidate
        set from vocab to a prefix slice), then runs as a scoring
        disjunction over the expanded set — (query_id, doc_id,
        n_terms, score_micro, rank).  The exact term, when indexed,
        is its own 0-edit expansion.

        Plan: expansion reads only the vocab-sized term dictionaries
        against the broadcast query batch (Levenshtein on the
        dictionary, never on postings or documents); the expanded set
        then takes the ordinary tbucket-pruned BM25 path.  Like
        prefix_search, a stale dictionary entry with no live postings
        expands but contributes nothing."""
        qt = query_terms.select(
            "query_id", F.col("term").alias("qterm")).distinct()
        cond = (F.levenshtein(F.col("term"), F.col("qterm"))
                <= F.lit(max_edits))
        if prefix_len > 0:
            cond = cond & (F.substring(F.col("term"), 1, prefix_len)
                           == F.substring(F.col("qterm"), 1, prefix_len))
        exp = (self._dict_df().select("term").distinct()
               .join(F.broadcast(qt), cond)
               .select("query_id", "term").distinct())
        if checkpoint:
            exp = exp.localCheckpoint(eager=True)
        return self.search(exp, k=k, checkpoint=checkpoint)

    def more_like_this(self, doc_ids, m: int = 5, k: int = 10,
                       checkpoint: bool = True) -> DataFrame:
        """Lucene MoreLikeThis: for each SOURCE document, pick its
        top-``m`` terms by exact-integer tf·idf (idf_micro over LIVE
        corpus df; ties lowest term), run them as a BM25 disjunction,
        and return the top-k OTHER documents — (query_id = source
        doc_id, doc_id, n_terms, score_micro, rank).  Requires
        ``term_vectors=True`` (the doc-bucketed sidecar, opt-in like
        Lucene's).

        Plan: the sources' own terms come from the term-vector sidecar
        pruned to their vbuckets (never a term-bucket scan); one
        tbucket-pruned LIVE posting read over just those terms then
        serves BOTH the df for term selection and the final scoring
        (score_tf recomputes per-term df from the same relation, so
        selection and scoring agree by construction); everything
        between is bounded by sources x their vocabulary."""
        src, vb = self._id_frame(doc_ids)
        stf = (self._live(self._tvecs_df()
                          .filter(F.col("vbucket").isin(vb))
                          .join(F.broadcast(src), "doc_id", "left_semi"))
               .select("doc_id", "term", "tf"))
        if checkpoint:
            stf = stf.localCheckpoint(eager=True)
        tb = [r[0] for r in stf
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        tf_rel = (self._live(
                    self._postings().filter(F.col("tbucket").isin(tb))
                    .join(F.broadcast(stf.select("term").distinct()),
                          "term", "left_semi"))
                  .select("doc_id", "term", "tf", "dl"))
        if checkpoint:
            tf_rel = tf_rel.localCheckpoint(eager=True)
        df_ = tf_rel.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        idf_micro = F.round(
            F.log((((F.lit(2.0) * (F.col("n_docs") - F.col("df")))
                    + F.lit(1.0))
                   / ((F.lit(2.0) * F.col("df")) + F.lit(1.0)))
                  + F.lit(1.0)) * F.lit(1000000.0)).cast("long")
        sel = (stf.join(F.broadcast(df_), "term")
               .crossJoin(F.broadcast(self.stats()))
               .withColumn("sel_score", idf_micro * F.col("tf")))
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("sel_score"), F.col("term"))
        qt = (sel.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= m)
              .select(F.col("doc_id").alias("query_id"), "term"))
        scored = (retrieval.score_tf(tf_rel, qt, self.stats())
                  .filter(F.col("doc_id") != F.col("query_id")))
        return retrieval.rank_topk(scored, k)

    def suggest(self, query_terms: DataFrame, max_edits: int = 2,
                prefix_len: int = 1) -> DataFrame:
        """Did-you-mean spelling suggestions (Lucene
        DirectSpellChecker): for each (query_id, term), every indexed
        term within ``max_edits`` Levenshtein edits sharing the first
        ``prefix_len`` characters, ranked by (edit distance asc, LIVE
        document frequency desc, term asc) — (query_id, term,
        suggestion, edits, df, rank).  A term that is itself indexed
        still gets suggestions (rank 1 = itself at 0 edits, ranked
        ahead by distance), so the caller decides the replace policy.

        Plan: candidate discovery is the vocab-sized dictionary scan
        against the broadcast query batch (same shape as
        fuzzy_search); ranking df is LIVE — one tbucket-pruned posting
        read over just the candidate terms — so a fully-deleted term
        can never be suggested (df 0 rows drop in the inner join)."""
        qt = query_terms.select(
            "query_id", F.col("term").alias("qterm")).distinct()
        cond = (F.levenshtein(F.col("term"), F.col("qterm"))
                <= F.lit(max_edits))
        if prefix_len > 0:
            cond = cond & (F.substring(F.col("term"), 1, prefix_len)
                           == F.substring(F.col("qterm"), 1, prefix_len))
        cand = (self._dict_df().select("term").distinct()
                .join(F.broadcast(qt), cond)
                .select("query_id", "qterm", "term",
                        F.levenshtein(F.col("term"), F.col("qterm"))
                        .cast("int").alias("edits"))
                .localCheckpoint(eager=True))
        tb = [r[0] for r in cand
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        if not tb:
            return self.spark.createDataFrame(
                [], "query_id long, term string, suggestion string, "
                    "edits int, df long, rank int")
        live_df = (self._live(
                     self._postings().filter(F.col("tbucket").isin(tb))
                     .join(F.broadcast(cand.select("term").distinct()),
                           "term", "left_semi"))
                   .groupBy("term")
                   .agg(F.count(F.lit(1)).cast("long").alias("df")))
        w = Window.partitionBy("query_id", "qterm").orderBy(
            "edits", F.desc("df"), "term")
        return (cand.join(live_df, "term")
                .withColumn("rank", F.row_number().over(w).cast("int"))
                .select("query_id", F.col("qterm").alias("term"),
                        F.col("term").alias("suggestion"), "edits",
                        "df", "rank"))

    def facet_counts(self, query_terms: DataFrame, attrs: DataFrame,
                     facet_col: str) -> DataFrame:
        """Search-result faceting (Elasticsearch's terms aggregation):
        per (query_id, facet value) count of LIVE documents matching
        >= 1 of the query's terms — over the FULL match set, not the
        top page, which is what makes facets useful as navigation.
        ``attrs`` is a (doc_id, <facet_col>) relation (e.g. a
        column-pruned read of the corpus table); returns (query_id,
        ``facet_col``, n_docs).

        Plan: the match set comes from the same tbucket-pruned posting
        read as search (only the query terms' buckets are opened; BM25
        columns pruned away), distinct-ed to (query_id, doc_id), then
        shuffle-joined to ``attrs`` on doc_id — candidate-bounded on
        the left, column-pruned on the right; the facet aggregation is
        map-side-combinable.  No scoring work is done."""
        tb = [r[0] for r in query_terms
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        post = self._postings().filter(F.col("tbucket").isin(tb))
        hits = self._live(
            post.join(F.broadcast(query_terms.select("term").distinct()),
                      "term", "left_semi")).select("doc_id", "term")
        match = (hits.join(F.broadcast(
                    query_terms.select("query_id", "term").distinct()),
                    "term")
                 .select("query_id", "doc_id").distinct())
        return (match
                .join(attrs.select(F.col(attrs.columns[0]).cast("long")
                                   .alias("doc_id"), facet_col), "doc_id")
                .groupBy("query_id", facet_col)
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))

    def _id_frame(self, doc_ids) -> tuple[DataFrame, list[int]]:
        """Distinct ``doc_id long`` frame of an id list or a one-column
        DataFrame, and the sorted dbuckets its ids hash into.  A list
        becomes a JVM local relation (no Python RDD, nothing to
        checkpoint) whose buckets are deduplicated driver-side, so no
        job runs; a DataFrame is checkpointed once, since every later
        job reads it, and one job collects its distinct buckets."""
        if isinstance(doc_ids, DataFrame):
            ids = (doc_ids.select(F.col(doc_ids.columns[0]).cast("long")
                                  .alias("doc_id")).distinct()
                   .localCheckpoint(eager=True))
            bkts = ids.select(self._dbucket(F.col("doc_id"))).distinct()
        else:
            ids = local_df(self.spark, [(i,) for i in
                                        sorted({int(i) for i in doc_ids})],
                           "doc_id long")
            bkts = ids.select(self._dbucket(F.col("doc_id")))
        return ids, sorted({r[0] for r in bkts.collect()})

    def upsert(self, docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> None:
        """Per-document replace, O(batch): the batch becomes a NEW
        immutable segment; ids that have live rows in older segments are
        tombstoned at the new sequence (brand-new documents write NO
        tombstone — the tombstone set tracks replacements, not ingest
        volume); corpus statistics move by the exact (old live out, new
        in) delta inside the same manifest commit.  No existing segment
        file is touched; the manifest write is the last step.  Every
        checkpoint the method makes is released when it returns or
        raises."""
        m = self._manifest_required()
        seg = m["segments"][-1] + 1
        made: list = []

        def ck(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint(eager=True)
            made.append(df)
            return df

        try:
            new_tf = ck(self._tf_of(docs, id_col, text_col))
            new_dl = ck(self._doclens_from_tf(docs, id_col, new_tf))
            # new_dl has one row per batch row, so ONE aggregate over it
            # answers the duplicate-id check, the new side of the stats
            # delta and the dbuckets the old-side doclens read prunes to.
            # A duplicated id would write two live posting sets for one
            # document (df/stats double-counted, dl nondeterministic via
            # F.first) — refused here, before anything is WRITTEN.
            # countDistinct skips nulls; two null ids are the same
            # ambiguity as two equal ids.
            a = new_dl.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc_id").alias("n_ids"),
                F.max(F.col("doc_id").isNull().cast("int")).alias("nulls"),
                F.coalesce(F.sum(F.col("dl").cast("long")),
                           F.lit(0)).alias("t"),
                F.collect_set("dbucket").alias("dbkts")).collect()[0]
            if a["n"] != a["n_ids"] + (a["nulls"] or 0):
                raise ValueError("upsert batch contains duplicate id rows")
            old = self._old_live(new_dl.select("doc_id"), sorted(a["dbkts"]))
            made.append(old)
            # the old-side count and the new segment's writes read only
            # checkpointed frames — overlap them (§2.6); tombstones
            # (conditional on the delta) and the commit stay sequential
            (o_n, o_t), _ = run_parallel(
                lambda: self._count_len(old),
                lambda: self._write_segment(new_tf, new_dl, seg))
            v = m["version"] + 1
            tombs, ts_rows = list(m["tombstones"]), m["n_tombstone_rows"]
            if o_n:
                tombs.append(self._write_tombstones(
                    old.select("doc_id").distinct(), seg, v))
                ts_rows += o_n
            self._commit(v, "upsert", m["segments"] + [seg], tombs,
                         ts_rows, m["n_docs"] - o_n + a["n"],
                         m["total_len"] - o_t + a["t"])
        finally:
            for df in made:
                release_checkpoint(df)

    def delete(self, doc_ids) -> None:
        """Tombstone documents, O(batch): no segment is read or
        rewritten; stats move by the victims' live (count, dl) sum.
        Ids with nothing live (never ingested, or already deleted) are
        a complete no-op — no commit, no empty tombstone file."""
        victims, dbkts = self._id_frame(doc_ids)
        m = self._manifest_required()
        old = self._old_live(victims, dbkts)
        try:
            o_n, o_t = self._count_len(old)
            if o_n == 0:
                return
            seq = m["segments"][-1] + 1      # dead in every live segment
            v = m["version"] + 1
            name = self._write_tombstones(old.select("doc_id").distinct(),
                                          seq, v)
            self._commit(v, "delete", m["segments"],
                         m["tombstones"] + [name],
                         m["n_tombstone_rows"] + o_n,
                         m["n_docs"] - o_n, m["total_len"] - o_t)
        finally:
            release_checkpoint(old)
            release_checkpoint(victims)

    def phrase_search(self, phrases: DataFrame, k: int = 10) -> DataFrame:
        """Exact phrase search over the positional postings —
        (query_id, doc_id, n_occ, rank): documents containing the
        phrase as consecutive tokens, ranked by occurrence count
        (overlapping occurrences counted — position algebra, not
        string replace).  ``phrases`` is (query_id, term, offset) with
        offset = the term's 0-based position in the phrase (repeated
        terms appear once per offset).

        Plan: pruned posting read (only the phrase terms' tbuckets),
        positions exploded and re-based (pos − offset), a phrase
        occurrence is a (doc, base) where ALL offsets align — one
        candidate-sized aggregation; the rank window's partial
        WindowGroupLimit cuts map-side.  The classic positional-index
        query (Lucene match_phrase) as one declarative plan."""
        tb = [r[0] for r in phrases
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        need = (phrases.groupBy("query_id")
                .agg(F.countDistinct("offset").alias("n_terms")))
        post = self._postings().filter(F.col("tbucket").isin(tb))
        live = self._live(
            post.join(F.broadcast(phrases.select("term").distinct()),
                      "term", "left_semi")
            .select("doc_id", "term", "pos", "seg"))
        aligned = (live.join(F.broadcast(phrases), "term")
                   .select("query_id", "doc_id", "offset",
                           F.explode("pos").alias("p"))
                   .select("query_id", "doc_id", "offset",
                           (F.col("p") - F.col("offset")).alias("base"))
                   .filter(F.col("base") >= 0))
        occ = (aligned
               .groupBy("query_id", "doc_id", "base")
               .agg(F.countDistinct("offset").alias("n_off"))
               .join(F.broadcast(need), "query_id")
               .filter(F.col("n_off") == F.col("n_terms"))
               .groupBy("query_id", "doc_id")
               .agg(F.count(F.lit(1)).alias("n_occ")))
        from pyspark.sql import Window
        w = Window.partitionBy("query_id").orderBy(F.desc("n_occ"),
                                                   F.col("doc_id"))
        return (occ
                .withColumn("rank", F.row_number().over(w).cast("int"))
                .filter(F.col("rank") <= k)
                .select("query_id", "doc_id", "n_occ", "rank"))

    def near_search(self, query_terms: DataFrame, w: int = 5,
                    k: int = 10) -> DataFrame:
        """Proximity search over the positional postings — (query_id,
        doc_id, n_windows, rank): documents where ALL the query's terms
        co-occur inside a sliding token window of width ``w``, ranked
        by the number of window start positions that qualify (a base b
        qualifies iff every term has a position in [b, b+w)).  The
        unordered companion of ``phrase_search`` (Lucene span_near).

        Plan: pruned posting read; each position fans out to at most
        ``w`` candidate bases (sequence + explode — bounded blowup),
        distinct (term, base) pairs aggregate to qualifying bases —
        candidate-sized throughout; rank window with a partial
        WindowGroupLimit."""
        if w < 1:
            # F.sequence(p-w+1, p) would DESCEND for w < 1 and emit
            # phantom bases — refuse instead of silently mis-counting
            raise ValueError("near_search window w must be >= 1")
        terms = query_terms.select("query_id", "term").distinct()
        tb = [r[0] for r in terms
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        need = (terms.groupBy("query_id")
                .agg(F.countDistinct("term").alias("n_terms")))
        post = self._postings().filter(F.col("tbucket").isin(tb))
        live = self._live(
            post.join(F.broadcast(terms.select("term").distinct()),
                      "term", "left_semi")
            .select("doc_id", "term", "pos", "seg"))
        bases = (live.join(F.broadcast(terms), "term")
                 .select("query_id", "doc_id", "term",
                         F.explode("pos").alias("p"))
                 .select("query_id", "doc_id", "term",
                         F.explode(F.sequence(
                             F.greatest(F.col("p") - F.lit(w - 1),
                                        F.lit(0)),
                             F.col("p"))).alias("base"))
                 .distinct())
        occ = (bases
               .groupBy("query_id", "doc_id", "base")
               .agg(F.countDistinct("term").alias("n_t"))
               .join(F.broadcast(need), "query_id")
               .filter(F.col("n_t") == F.col("n_terms"))
               .groupBy("query_id", "doc_id")
               .agg(F.count(F.lit(1)).alias("n_windows")))
        from pyspark.sql import Window
        wd = Window.partitionBy("query_id").orderBy(F.desc("n_windows"),
                                                    F.col("doc_id"))
        return (occ
                .withColumn("rank", F.row_number().over(wd).cast("int"))
                .filter(F.col("rank") <= k)
                .select("query_id", "doc_id", "n_windows", "rank"))

    def span_search(self, phrases: DataFrame, w: int = 8,
                    k: int = 10, checkpoint: bool = True) -> DataFrame:
        """ORDERED proximity search over the positional postings —
        (query_id, doc_id, n_spans, rank): the in-order companion of
        ``near_search`` (Lucene span_near with in_order=true).
        ``phrases`` is (query_id, term, offset) like ``phrase_search``;
        a match is an increasing position tuple p_0 < p_1 < … <
        p_{n-1} — the offset-i term found at p_i — whose span
        p_{n-1} − p_0 < ``w``; documents rank by the exact tuple
        count.  ("table … hash" within 6 tokens matches; "hash …
        table" does not — the distinction near_search cannot make.)

        Plan: pruned posting read; the query batch's offset structure
        is collected driver-side (metadata-sized, like the tbucket
        list) and queries fold by LENGTH GROUP — each extra offset is
        one candidate-sized join constrained by the previous position
        and the span bound, so intermediate tuples stay
        window-bounded; rank window with a partial WindowGroupLimit.
        Tuple counts are exact (a term repeated inside one window
        multiplies tuples — the same combinatorics Lucene spans
        expose)."""
        if w < 1:
            raise ValueError("span window w must be >= 1")
        struct = sorted({(r["query_id"], int(r["offset"]), r["term"])
                         for r in phrases.collect()})
        by_q: dict = {}
        for qid, off, term in struct:
            by_q.setdefault(qid, {})[off] = term
        for qid, offs in by_q.items():
            if sorted(offs) != list(range(len(offs))):
                raise ValueError(
                    f"query {qid}: offsets must be 0..n-1, one term each")
        tb = [r[0] for r in phrases
              .select(self._tbucket(F.col("term"))).distinct().collect()]
        post = self._postings().filter(F.col("tbucket").isin(tb))
        live = self._live(
            post.join(F.broadcast(phrases.select("term").distinct()),
                      "term", "left_semi")
            .select("doc_id", "term", "pos", "seg"))
        pos = (live.join(F.broadcast(phrases), "term")
               .select("query_id", "doc_id", "offset",
                       F.explode("pos").alias("p")))
        if checkpoint:
            # one materialization feeds every per-offset consumer (each
            # offset filter re-reads it); False keeps full lineage for
            # plan inspection
            pos = pos.localCheckpoint(eager=True)
        by_len: dict = {}
        for qid, offs in by_q.items():
            by_len.setdefault(len(offs), []).append(qid)
        out = None
        for n, qids in sorted(by_len.items()):
            cur = (pos.filter(F.col("query_id").isin(qids)
                              & (F.col("offset") == 0))
                   .select("query_id", "doc_id", F.col("p").alias("p0"))
                   .withColumn("prev", F.col("p0")))
            for i in range(1, n):
                nxt = (pos.filter(F.col("query_id").isin(qids)
                                  & (F.col("offset") == i))
                       .select("query_id", "doc_id",
                               F.col("p").alias("pi")))
                cur = (cur.join(nxt, ["query_id", "doc_id"])
                       .filter((F.col("pi") > F.col("prev"))
                               & (F.col("pi") - F.col("p0") < w))
                       .drop("prev")
                       .withColumnRenamed("pi", "prev"))
            g = (cur.groupBy("query_id", "doc_id")
                 .agg(F.count(F.lit(1)).alias("n_spans")))
            out = g if out is None else out.unionByName(g)
        from pyspark.sql import Window
        wd = Window.partitionBy("query_id").orderBy(F.desc("n_spans"),
                                                    F.col("doc_id"))
        return (out
                .withColumn("rank", F.row_number().over(wd).cast("int"))
                .filter(F.col("rank") <= k)
                .select("query_id", "doc_id", "n_spans", "rank"))

    def snippets(self, query_terms: DataFrame, docs: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 w: int = 8, k: int = 5) -> DataFrame:
        """Search-result highlighting — (query_id, doc_id, rank,
        best_base, density, snippet): BM25 top-k via the index, then for
        each hit the best ``w``-token window (max count of query-term
        POSITIONS inside it, tie → lowest start) extracted from the
        document's normalized tokens.

        Plan: ranking and window selection run entirely off the index
        (pruned postings; density bases fan out <= w per position); the
        only corpus touch is the final text fetch — ONE column-pruned
        scan of ``docs`` joined against the broadcast k-per-query hit
        list (at scale: the row-fetch any search serving layer does)."""
        if w < 1:
            raise ValueError("snippet window w must be >= 1")
        top = self.search(query_terms, k=k).select(
            "query_id", "doc_id", "rank")
        live = self._live(
            self._postings()
            .filter(F.col("tbucket").isin(
                [r[0] for r in query_terms
                 .select(self._tbucket(F.col("term"))).distinct()
                 .collect()]))
            .join(F.broadcast(query_terms.select("term").distinct()),
                  "term", "left_semi")
            .select("doc_id", "term", "pos", "seg"))
        hits = (live.join(F.broadcast(query_terms
                                      .select("query_id", "term")
                                      .distinct()), "term")
                .join(F.broadcast(top), ["query_id", "doc_id"], "left_semi"))
        dens = (hits.select("query_id", "doc_id",
                            F.explode("pos").alias("p"))
                .select("query_id", "doc_id",
                        F.explode(F.sequence(
                            F.greatest(F.col("p") - F.lit(w - 1), F.lit(0)),
                            F.col("p"))).alias("base"))
                .groupBy("query_id", "doc_id", "base")
                .agg(F.count(F.lit(1)).alias("density")))
        from pyspark.sql import Window
        wb = Window.partitionBy("query_id", "doc_id").orderBy(
            F.desc("density"), F.col("base"))
        best = (dens.withColumn("__r", F.row_number().over(wb))
                .filter(F.col("__r") == 1).drop("__r")
                .join(F.broadcast(top), ["query_id", "doc_id"]))
        toks = retrieval._tokens(F.col(text_col))
        text = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                           toks.alias("__toks"))
        return (text.join(F.broadcast(best), "doc_id")
                .select("query_id", "doc_id", "rank",
                        F.col("base").cast("int").alias("best_base"),
                        F.col("density").cast("long").alias("density"),
                        F.array_join(
                            F.slice(F.col("__toks"),
                                    F.col("base") + F.lit(1), w), " ")
                        .alias("snippet")))

    def df_topk(self, k: int = 50) -> DataFrame:
        """Top-k document-frequency terms from the LIVE posting lists —
        (term, df, rank): the vocabulary profile a tokenizer/stopword
        decision is made from, served from the index instead of a
        corpus re-tokenize (and an integrity check: df from postings ≡
        df from the raw corpus).  Column-pruned posting scan (doc_id,
        term), one count shuffle on uniform term keys, distributed
        take-ordered for the top-k — the rank window runs over k rows."""
        from pyspark.sql import Window

        live = self._live(self._postings().select("doc_id", "term", "seg"))
        df_ = live.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        top = df_.orderBy(F.desc("df"), "term").limit(k)
        w = Window.orderBy(F.desc("df"), "term")
        return (top.withColumn("rank", F.row_number().over(w).cast("int"))
                .select("term", "df", "rank"))

    def index_stats(self) -> DataFrame:
        """One-row index health report — (n_segments, n_tombstone_files,
        n_tombstone_rows, n_docs, total_len, live_postings, live_terms):
        the keyword twin of IVFIndex.cell_stats, and the metric the
        maybe_compact thresholds are tuned against.  Manifest fields are
        driver-side metadata (zero jobs); the posting census is ONE
        column-pruned scan (doc_id, term, seg) through the live filter —
        the same read df_topk does."""
        m = self._manifest_required()
        live = self._live(self._postings().select("doc_id", "term", "seg"))
        census = live.agg(
            F.count(F.lit(1)).cast("long").alias("live_postings"),
            F.countDistinct("term").cast("long").alias("live_terms"))
        return census.select(
            F.lit(len(m["segments"])).cast("int").alias("n_segments"),
            F.lit(len(m["tombstones"])).cast("int")
             .alias("n_tombstone_files"),
            F.lit(m["n_tombstone_rows"]).cast("long")
             .alias("n_tombstone_rows"),
            F.lit(m["n_docs"]).cast("long").alias("n_docs"),
            F.lit(m["total_len"]).cast("long").alias("total_len"),
            "live_postings", "live_terms")

    def maybe_compact(self, max_segments: int = 16,
                      max_tombstone_files: int = 16,
                      max_tombstone_rows: int = 1_000_000) -> bool:
        """Compact iff the segment count OR the tombstone volume crosses
        its threshold — the background-merge policy of a long-running
        ingest.  The tombstone triggers close the delete-only blind
        spot: a retention sweep / GDPR purge stream appends tombstones
        WITHOUT adding segments, and its accumulated set rides every
        search's tombstone join — so tombstone file count (one dir per
        delete/replace commit) and the manifest's exact row count both
        fire the merge.  All three signals come from the cached
        manifest: ZERO file listings or jobs below threshold.  Returns
        whether a compaction ran."""
        m = self._manifest()
        if m is None:
            return False
        if (len(m["segments"]) <= max_segments
                and len(m["tombstones"]) <= max_tombstone_files
                and m["n_tombstone_rows"] <= max_tombstone_rows):
            return False
        self.compact()
        return True

    def compact(self) -> None:
        """Fold every live posting/doclen row into one fresh segment and
        clear the tombstones — bounds segment count and tombstone volume
        after many upserts (call on the same cadence as
        VectorStore.compact).  Search results unchanged.

        Crash-safe: the merged segment is written first, then published
        in one manifest commit; only AFTER the commit are dead files
        garbage-collected (the sweep also removes orphans of earlier
        crashed maintenance ops — anything on disk the manifest doesn't
        name).  A crash at any point leaves a readable, uncorrupted
        index: before the commit readers still resolve the old state,
        after it the new one."""
        m = self._manifest_required()
        # the two live-survivor materializations read different
        # directories — overlap them (§2.6)
        live_tf, live_dl = run_parallel(
            lambda: self._live(
                self._postings()
                .select("doc_id", "term", "tf", "dl", "pos", "seg"))
            .drop("seg").localCheckpoint(eager=True),
            lambda: self._live(
                self._doclens_df()
                .select("doc_id", "dl", "dbucket", "seg"))
            .drop("seg").localCheckpoint(eager=True))
        seg = m["segments"][-1] + 1
        self._write_segment(live_tf, live_dl, seg)
        v = m["version"] + 1
        self._commit(v, "compact", [seg], [], 0,
                     m["n_docs"], m["total_len"])
        # post-commit GC: drop every segment dir the new manifest does
        # not name (dead + orphaned), all tombstones, and stale manifests
        for name in self._fs_children(self._segments, "seg="):
            if name != f"seg={seg}":
                self._fs_delete(os.path.join(self._segments, name))
        for name in self._fs_children(self._doclens, "seg="):
            if name != f"seg={seg}":
                self._fs_delete(os.path.join(self._doclens, name))
        for name in self._fs_children(self._dicts, "seg="):
            if name != f"seg={seg}":
                self._fs_delete(os.path.join(self._dicts, name))
        for name in self._fs_children(self._tvecs, "seg="):
            if name != f"seg={seg}":
                self._fs_delete(os.path.join(self._tvecs, name))
        self._fs_delete(self._tombstones)
        for name in self._fs_children(self._log, "v"):
            if name != f"v{v:012d}.json":
                self._fs_delete(os.path.join(self._log, name))
