"""The two workloads: ingest (writes and curation) and serve (reads).

Each workload is a class with

- ``setup()``: builds its inputs and initial state;
- ``request()``: one closed-loop request, returning its latency in ms;
- ``finish(window_s)``: correctness checks over what the requests
  produced, and the workload's figures (``throughput_per_s``,
  ``quality`` and workload-specific ones).

Every call into the package goes through ``Ctx.span`` so the traced run
can attribute Spark jobs to it; in the untraced run ``span`` does nothing
and ``mat`` leaves plans lazy, exactly as a caller of the package would.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_vector_pipeline_spark.config import PipelineConfig
from document_vector_pipeline_spark.operators import dedup, graph, retrieval
from document_vector_pipeline_spark.operators.embed import add_embeddings
from document_vector_pipeline_spark.operators.pipeline import (
    apply_blob_events,
    blobs_to_chunks,
)
from document_vector_pipeline_spark.sources import read_text_blobs
from document_vector_pipeline_spark.store.ivf_index import IVFIndex
from document_vector_pipeline_spark.store.text_index import TextIndex
from document_vector_pipeline_spark.store.vector_store import VectorStore

from perfbench import checks, gen
from perfbench.spans import SpanRecorder

K = 10
NPROBE = 4
# partition counts sized to corpora of a few thousand chunks: the
# package defaults (64 store buckets, 64 term buckets) target corpora
# orders of magnitude larger and would leave most partitions near-empty
CONFIG = PipelineConfig(store_buckets=8)
TEXT_BUCKETS = (8, 4)           # term buckets, doc buckets
IVF_CELLS, IVF_BUCKETS = 16, 4  # centroids, id-map buckets
EVENT_SCHEMA = "document_url string, op string, seq int, content string"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    rec: SpanRecorder
    problems: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    phases: dict[str, float] = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.rec.enabled

    def span(self, name: str):
        return self.rec.span(name)

    @contextmanager
    def phase(self, name: str):
        """Time a set-up or check phase for the run report."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t

    @contextmanager
    def untraced(self):
        """Run a block with spans and materialization off (warm-ups)."""
        was, self.rec.enabled = self.rec.enabled, False
        try:
            yield
        finally:
            self.rec.enabled = was

    def mat(self, df: DataFrame) -> DataFrame:
        """Materialize a layer boundary in the traced run only, so the
        jobs of a lazy plan are charged to the layer that built it."""
        return df.localCheckpoint(eager=True) if self.traced else df

    def fresh(self, name: str) -> str:
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def check(self, problems: list[str]) -> None:
        """Count one checked operation; a failed check is a failed one."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def with_doc_id(rows: DataFrame) -> DataFrame:
    """Index ids for store rows: document number x 1000 + chunk id, the
    document number read from the generated blob name."""
    num = F.regexp_extract("document_url", r"d(\d{7})\.[a-z]+$", 1)
    return rows.withColumn(
        "doc_id", num.cast("long") * 1000 + F.col("id").cast("long"))


class Corpus:
    """A store plus its keyword and IVF indexes, kept in step."""

    def __init__(self, ctx: Ctx, root: str):
        self.ctx = ctx
        sp = ctx.spark
        self.store = VectorStore(sp, os.path.join(root, "store"), CONFIG)
        self.text = TextIndex(sp, os.path.join(root, "text"),
                              n_term_buckets=TEXT_BUCKETS[0],
                              n_doc_buckets=TEXT_BUCKETS[1])
        self.ivf = IVFIndex(sp, os.path.join(root, "ivf"),
                            n_centroids=IVF_CELLS, n_buckets=IVF_BUCKETS)
        self.live: dict[str, set[int]] = {}   # url -> live chunk doc_ids
        self.root = root

    @property
    def url_prefix(self) -> str:
        """The blob directory URL the source reported, ending in '/'."""
        u = next(iter(self.live))
        return u[:u.rindex("/") + 1]

    def _rows(self, df: DataFrame) -> DataFrame:
        return (with_doc_id(df)
                .select("doc_id", "document_url", "chunk_text", "embedding")
                .localCheckpoint(eager=True))

    def _track(self, rows: DataFrame, urls) -> DataFrame:
        for u in urls:
            self.live.pop(u, None)
        for r in rows.select("document_url", "doc_id").collect():
            self.live.setdefault(r[0], set()).add(r[1])
        return rows

    def bulk_load(self, blob_dir: str) -> DataFrame:
        """Blobs on disk -> chunks -> embeddings -> store, then both
        indexes built from the stored rows.  Returns the blob frame."""
        c = self.ctx
        with c.span("sources.read_text_blobs"):
            blobs = c.mat(read_text_blobs(c.spark, blob_dir))
        with c.span("operators.pipeline.blobs_to_chunks"):
            chunks = c.mat(blobs_to_chunks(blobs))
        with c.span("operators.embed.add_embeddings"):
            emb = c.mat(add_embeddings(chunks))
        with c.span("store.vector_store.upsert"):
            self.store.upsert(emb)
        rows = self._track(self._rows(self.store.read()), [])
        with c.span("store.text_index.build"):
            self.text.build(rows, text_col="chunk_text")
        with c.span("store.ivf_index.build"):
            self.ivf.build(rows, id_col="doc_id")
        return blobs

    def apply(self, batch: gen.CdcBatch) -> int:
        """One CDC batch into the store, then both indexes; returns the
        number of chunk rows the batch wrote."""
        c, prefix = self.ctx, self.url_prefix
        events = c.spark.createDataFrame(
            [(prefix + n, op, seq, text) for n, op, seq, text in batch.events],
            EVENT_SCHEMA)
        urls = [prefix + n for n, _, _, _ in batch.events]
        old = set().union(*(self.live.get(u, set()) for u in urls))
        with c.span("operators.pipeline.apply_blob_events"):
            apply_blob_events(events, self.store)
        with c.span("ingest.read_back"):
            rows = self._track(self._rows(
                self.store.read().filter(F.col("document_url").isin(urls))),
                urls)
        new = set().union(*(self.live.get(u, set()) for u in urls))
        stale = sorted(old - new)
        with c.span("store.text_index.upsert"):
            self.text.upsert(rows, text_col="chunk_text")
        with c.span("store.text_index.delete"):
            self.text.delete(stale)
        with c.span("store.text_index.maybe_compact"):
            self.text.maybe_compact()
        with c.span("store.ivf_index.upsert"):
            self.ivf.upsert(rows, id_col="doc_id")
        with c.span("store.ivf_index.delete"):
            self.ivf.delete(stale)
        return len(new)

    def disk_bytes(self) -> int:
        return sum(dir_bytes(p) for p in
                   (self.store.path, self.text.path, self.ivf.path))

    def vectors(self):
        """(doc_id list, (document_url, id) keys, float32 matrix, norms)
        of every live chunk, collected for the numpy reference."""
        rows = with_doc_id(self.store.read()).select(
            "doc_id", "document_url", "id", "embedding").collect()
        ids = [r[0] for r in rows]
        keys = [(r[1], r[2]) for r in rows]
        mat = np.array([r[3] for r in rows], dtype=np.float32)
        return ids, keys, mat, checks.row_norms(mat)


def ivf_recall(corpus: Corpus, qvecs: list[list[float]],
               exact_ids: list[list[int]]) -> float:
    """Mean recall@10 of IVFIndex.search_many against exact top-10."""
    qdf = corpus.ctx.spark.createDataFrame(
        [(i, q) for i, q in enumerate(qvecs)],
        "query_id long, query_vec array<double>")
    got: dict[int, list[int]] = {}
    for r in corpus.ivf.search_many(qdf, k=K, nprobe=NPROBE).collect():
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    return float(np.mean([checks.recall_at_k(got.get(i, []), exact)
                          for i, exact in enumerate(exact_ids)]))


def curate(ctx: Ctx, docs: DataFrame):
    """Exact dedup, then MinHash-LSH near-dup dedup of (doc_id, text).
    Returns (exact survivors, near-dup survivors, candidate pairs).  The
    traced run calls neardup_dedup's own steps, one span each, checks
    that they agree with neardup_dedup, and returns the candidate pairs;
    the untraced run calls neardup_dedup and returns None for them."""
    with ctx.span("operators.dedup.exact_dedup_survivors"):
        exact = [r[0] for r in
                 dedup.exact_dedup_survivors(docs).select("doc_id").collect()]
    cand = None
    if ctx.traced:
        with ctx.span("operators.dedup.minhash_signatures"):
            sigs = ctx.mat(dedup.minhash_signatures(docs))
        with ctx.span("operators.dedup.minhash_lsh_pairs"):
            pairs = ctx.mat(dedup.minhash_lsh_pairs(docs, sigs=sigs))
        with ctx.span("operators.graph.connected_components"):
            comp = ctx.mat(graph.connected_components(pairs))
        losers = (comp.filter(F.col("id") != F.col("component"))
                  .select(F.col("id").alias("doc_id")))
        kept = docs.join(losers, "doc_id", "left_anti")
        cand = {tuple(r) for r in pairs.collect()}
        with ctx.untraced():
            whole = sorted(r[0] for r in dedup.neardup_dedup(docs)
                           .select("doc_id").collect())
    else:
        kept = dedup.neardup_dedup(docs)
    survivors = [r[0] for r in kept.select("doc_id").collect()]
    if cand is not None:
        ctx.check([] if sorted(survivors) == whole else
                  ["traced dedup steps disagree with neardup_dedup"])
    dedup.release_caches()
    return exact, survivors, cand


def embed_texts(spark, texts: list[str]) -> list[list[float]]:
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "qid long, chunk_text string")
    rows = add_embeddings(df).select("qid", "embedding").collect()
    by = {r[0]: [float(v) for v in r[1]] for r in rows}
    return [by[i] for i in range(len(texts))]


def terms_df(spark, qid: int, terms: list[str]) -> DataFrame:
    return spark.createDataFrame([(qid, t) for t in terms],
                                 "query_id long, term string")


def qvec_df(spark, qid: int, vec: list[float]) -> DataFrame:
    return spark.createDataFrame([(qid, vec)],
                                 "query_id long, query_vec array<double>")


# ---- ingest ---------------------------------------------------------------

class Ingest:
    """Writes.  Set-up bulk-loads a blob container with planted duplicates
    (cold, as a batch job runs) into the store and both indexes, curates
    it (exact and near-duplicate removal) and applies one small CDC batch
    to warm the update path.  A request is one CDC batch applied to the
    store and then to both indexes."""

    name = "ingest"
    CYCLE = 1
    N_BASE = 120                 # originals; 42 planted copies join them
    MEDIAN_WORDS = 500
    BATCH = 50
    WARM_BATCH = 5
    N_BATCHES = 8

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.applied = 0
        self.batch_rows: list[tuple[bool, int]] = []   # (traced, rows)

    def setup(self) -> None:
        c = self.ctx
        self.gen = corpus = gen.Corpus.make(c.seed)
        self.dc = gen.make_dup_corpus(corpus, self.N_BASE, self.MEDIAN_WORDS)
        blobs = self.dc.blobs
        blob_dir = c.fresh("ingest-blobs")
        self.blob_bytes = blobs.write(blob_dir)
        self.n_docs = len(blobs.contents)
        self.contents = dict(blobs.contents)
        live = dict(blobs.contents)
        self.batches = gen.make_cdc_batches(
            corpus, live, 1, self.WARM_BATCH, self.MEDIAN_WORDS,
            first_new=self.n_docs) + gen.make_cdc_batches(
            corpus, live, self.N_BATCHES, self.BATCH, self.MEDIAN_WORDS,
            first_new=self.n_docs + self.WARM_BATCH)
        self.corpus = Corpus(c, c.fresh("ingest-state"))
        with c.phase("bulk_load"):
            raw = self.corpus.bulk_load(blob_dir)
        docs = raw.select(F.regexp_extract("document_url", r"d(\d{7})\.", 1)
                          .cast("long").alias("doc_id"),
                          F.col("content").alias("text"))
        with c.phase("curate"):
            self.curated = curate(c, docs)
        with c.phase("warm_up"), c.untraced():
            self.request()

    def request(self) -> float | None:
        if self.applied >= len(self.batches):
            return None
        b = self.batches[self.applied]
        t = time.perf_counter()
        self.batch_rows.append((self.ctx.traced, self.corpus.apply(b)))
        ms = (time.perf_counter() - t) * 1000.0
        for name, op, _, text in b.events:
            if op == "delete":
                self.contents.pop(name, None)
            else:
                self.contents[name] = text
        self.applied += 1
        return ms

    def _check_curation(self) -> dict:
        c, dc = self.ctx, self.dc
        exact, survivors, cand = self.curated
        ids = {int(n[1:8]) for n in dc.blobs.contents}
        c.check(checks.check_survivors(ids, exact, dc.exact_groups))
        c.check(checks.check_survivors(ids, survivors, []))
        planted = dc.planted
        hit, n, phit, removed = checks.dup_counts(ids, set(survivors), planted)
        rec, prec = hit / max(1, n), (phit / removed if removed else 1.0)
        out = {"dup_recall": rec, "dup_precision": prec,
               "dup_f1": 2 * rec * prec / (rec + prec) if rec + prec else 0.0}
        if cand is not None:
            out["candidate_precision"] = (len(cand & planted) / len(cand)
                                          if cand else 0.0)
        return out

    def finish(self, window_s: float) -> dict:
        c, cor = self.ctx, self.corpus
        cur = self._check_curation()
        norm = F.sqrt(F.aggregate(
            F.transform("embedding", lambda v: v.cast("double") * v),
            F.lit(0.0), lambda a, v: a + v))
        stored = cor.store.read().select(
            "document_url", "id", "chunk_text",
            F.size("embedding").alias("dims"), norm.alias("norm")).collect()
        by_url: dict[str, list[tuple[int, str]]] = {}
        for r in stored:
            by_url.setdefault(r[0], []).append((int(r[1]), r[2]))
        live = {cor.url_prefix + n: t for n, t in self.contents.items()}
        c.check(checks.check_urls(set(by_url), set(live)))
        c.check(checks.check_chunks(
            by_url, {u: t for u, t in live.items()
                     if u.endswith((".txt", ".md"))}))
        c.check(checks.check_embeddings([r["dims"] for r in stored],
                                        [r["norm"] for r in stored]))
        # the maintained keyword index against a scan of the live corpus
        pool = gen.make_query_pool(self.gen, self.contents, 4)
        docs = with_doc_id(cor.store.read()).select(
            "doc_id", F.col("chunk_text").alias("text"))
        q = c.spark.createDataFrame(
            [(i, t) for i, ts in enumerate(pool.terms) for t in ts],
            "query_id long, term string")
        cols = ("query_id", "doc_id", "score_micro", "rank")
        got = [tuple(r) for r in cor.text.search(q, k=K).select(*cols).collect()]
        want = [tuple(r) for r in
                retrieval.bm25_topk(docs, q, k=K).select(*cols).collect()]
        c.check(checks.check_rows_equal(got, want, "TextIndex.search vs scan"))
        load_s = c.phases["bulk_load"] + c.phases["curate"]
        return {"throughput_per_s": self.n_docs / load_s,
                "quality": cur["dup_f1"],
                **cur,
                "store_bytes_per_input_byte":
                    cor.disk_bytes() / self.blob_bytes,
                "traced_batch_rows": sum(n for t, n in self.batch_rows if t)}


# ---- serve ----------------------------------------------------------------

CLASSES = ("vector", "filtered", "ann", "keyword", "hybrid")


class Serve:
    """Reads.  Set-up builds the store and both indexes from a generated
    blob container and embeds a query pool; a request is one query, the
    five classes in turn, queries drawn from the pool with Zipf
    popularity."""

    name = "serve"
    CYCLE = len(CLASSES)
    N_DOCS = 200
    MEDIAN_WORDS = 500
    POOL = 64
    RECALL_QUERIES = 32

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lat: dict[str, list[float]] = {k: [] for k in CLASSES}
        self.n = 0

    def setup(self) -> None:
        c = self.ctx
        corpus = gen.Corpus.make(c.seed)
        blobs = gen.make_blobs(corpus, self.N_DOCS, self.MEDIAN_WORDS)
        bdir = c.fresh("serve-blobs")
        blobs.write(bdir)
        self.corpus = Corpus(c, c.fresh("serve-state"))
        with c.phase("bulk_load"):
            self.corpus.bulk_load(bdir)
        with c.phase("query_pool"):
            self.pool = gen.make_query_pool(corpus, blobs.contents, self.POOL)
            self.qvecs = embed_texts(c.spark, self.pool.passages)
        self.filter_urls = [self.corpus.url_prefix + n
                            for n in self.pool.filter_names]
        # numpy reference top-10 per pool query: store order, the same
        # restricted to the filter URL, and IVF order (score, vec_id)
        with c.phase("reference"):
            ids, keys, mat, norms = self.corpus.vectors()
            urls = np.array([k[0] for k in keys])
            id_keys = [(i,) for i in ids]
            self.exact, self.exact_f, self.exact_ids = [], [], []
            for i, q in enumerate(self.qvecs):
                s = checks.cosine_scores(mat, norms, q)
                self.exact.append(checks.exact_topk(s, keys, K))
                m = np.nonzero(urls == self.filter_urls[i])[0]
                self.exact_f.append(checks.exact_topk(
                    s[m], [keys[j] for j in m], K))
                self.exact_ids.append(
                    [k[0] for _, k in checks.exact_topk(s, id_keys, K)])
        self.order = self.pool.stream(np.random.default_rng(c.seed + 1),
                                      100_000)
        # warm-up: one query of each class, untimed and untraced
        with c.phase("warm_up"), c.untraced():
            for _ in CLASSES:
                self.request()
        self.lat = {k: [] for k in CLASSES}

    def request(self) -> float | None:
        c, cor, sp = self.ctx, self.corpus, self.ctx.spark
        cls = CLASSES[self.n % len(CLASSES)]
        qi = self.order[self.n]
        self.n += 1
        t = time.perf_counter()
        if cls == "vector":
            with c.span("store.vector_store.search"):
                rows = cor.store.search(self.qvecs[qi], k=K).collect()
        elif cls == "filtered":
            with c.span("store.vector_store.search_filtered"):
                rows = cor.store.search(self.qvecs[qi], k=K,
                                        document_url=self.filter_urls[qi]
                                        ).collect()
        elif cls == "ann":
            qdf = qvec_df(sp, qi, self.qvecs[qi])
            with c.span("store.ivf_index.search_many"):
                rows = cor.ivf.search_many(qdf, k=K, nprobe=NPROBE).collect()
        elif cls == "keyword":
            tdf = terms_df(sp, qi, self.pool.terms[qi])
            with c.span("store.text_index.search"):
                rows = cor.text.search(tdf, k=K).collect()
        else:
            tdf = terms_df(sp, qi, self.pool.terms[qi])
            qdf = qvec_df(sp, qi, self.qvecs[qi])
            with c.span("operators.retrieval.hybrid_search_indexed"):
                rows = retrieval.hybrid_search_indexed(
                    cor.text, cor.ivf, tdf, qdf, k=K, nprobe=NPROBE).collect()
        ms = (time.perf_counter() - t) * 1000.0
        self.lat[cls].append(ms)
        if cls in ("vector", "filtered"):
            got = [(r["score"], (r["document_url"], r["id"])) for r in rows]
            want = (self.exact if cls == "vector" else self.exact_f)[qi]
            c.check(checks.compare_topk(got, want))
        else:
            score = {"ann": "score", "keyword": "score_micro",
                     "hybrid": "rrf_micro"}[cls]
            c.check(checks.check_ranked([r["rank"] for r in rows],
                                        [r[score] for r in rows], K,
                                        exact_k=cls == "ann"))
        return ms

    def finish(self, window_s: float) -> dict:
        with self.ctx.phase("recall"):
            n = self.RECALL_QUERIES
            recall = ivf_recall(self.corpus, self.qvecs[:n],
                                self.exact_ids[:n])
        return {"throughput_per_s": sum(map(len, self.lat.values())) / window_s,
                "quality": recall,
                "class_p50_ms": {k: statistics.median(v)
                                 for k, v in self.lat.items() if v}}


WORKLOADS = {"ingest": Ingest, "serve": Serve}
