"""Serving entry points bind the caller's query batch once.

A ``spark.createDataFrame(list)`` query frame is a Python RDD: every job
that re-evaluates it runs Python workers.  TextIndex.search,
TextIndex.wand_search, IVFIndex.search_many and hybrid_search_indexed
collect such a batch once and rebuild it as a JVM local relation, so the
plans they return read no Python RDD — and the results still equal the
scan and brute-force oracles, empty batches included.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from document_vector_pipeline_spark.functions.localrel import (
    local_df,
    python_scans,
)
from document_vector_pipeline_spark.operators import retrieval
from document_vector_pipeline_spark.store.ivf_index import IVFIndex
from document_vector_pipeline_spark.store.text_index import TextIndex

K = 5
N_CENTROIDS = 4
TERMS = [(0, "vector"), (0, "join"), (1, "stream"), (1, "dup"),
         (2, "customer"), (2, "zebra"), (3, "dup"), (3, "dup")]
QUERY_VEC_IDS = {0: 3, 1: 17, 2: 42, 3: 99}
TERM_SCHEMA = "query_id long, term string"
VEC_SCHEMA = "query_id long, query_vec array<float>"


@pytest.fixture(scope="module")
def served(spark, docs_small, embeddings_small, tmp_path_factory):
    """A two-segment text index (build, then one upsert that appends
    new documents and replaces old ones — so the first segment carries
    tombstones) over the live corpus ``live``, and an IVF index over
    every embedding."""
    root = tmp_path_factory.mktemp("bind")
    docs = docs_small.select("doc_id", "text")
    emb = embeddings_small
    ti = TextIndex(spark, str(root / "ti"), n_term_buckets=8,
                   n_doc_buckets=2)
    ti.build(docs.filter(F.col("doc_id") < 300))
    edited = (docs.filter(F.col("doc_id") < 20)
              .select("doc_id",
                      F.concat(F.col("text"), F.lit(" dup dup"))
                      .alias("text")))
    ti.upsert(docs.filter(F.col("doc_id") >= 300).unionByName(edited))
    assert len(ti._seg_list()) == 2
    live = docs.filter(F.col("doc_id") >= 20).unionByName(edited)
    vi = IVFIndex(spark, str(root / "vi"), n_centroids=N_CENTROIDS)
    vi.build(emb)
    emb_rows = {int(r.vec_id): list(r.embedding)
                for r in emb.select("vec_id", "embedding").collect()
                if r.embedding is not None}
    return ti, vi, live, emb_rows


def _term_frame(spark):
    return spark.createDataFrame(TERMS, TERM_SCHEMA)


def _vec_frame(spark, emb_rows):
    return spark.createDataFrame(
        [(q, emb_rows[v]) for q, v in QUERY_VEC_IDS.items()], VEC_SCHEMA)


def _keyword_oracle(spark, live):
    """bm25_topk scan over the live corpus — (query_id, doc_id,
    n_terms, score_micro, rank) rows."""
    qt = local_df(spark, sorted(set(TERMS)), TERM_SCHEMA)
    return sorted(map(tuple, retrieval.bm25_topk(live, qt, k=K).collect()))


def _vector_oracle(emb_rows):
    """Exact cosine top-k in numpy, ranked by (score desc, vec_id):
    {query_id: [(vec_id, score), ...]}."""
    ids = np.array(sorted(emb_rows))
    V = np.array([emb_rows[i] for i in ids], dtype=np.float64)
    vnorm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
    out = {}
    for q, v in QUERY_VEC_IDS.items():
        qv = np.asarray(emb_rows[v], dtype=np.float64)
        qnorm = math.sqrt(sum(x * x for x in qv))
        scores = np.cumsum(V * qv[None, :], axis=1)[:, -1] / (vnorm * qnorm)
        ranked = sorted(zip(ids.tolist(), scores.tolist()),
                        key=lambda t: (-round(t[1], 6), t[0]))
        out[q] = [(i, s) for i, s in ranked[:K]]
    return out


def _assert_vector_rows(rows, want):
    got = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert sorted(got) == sorted(want)
    for q, hits in want.items():
        assert [i for i, _ in got[q]] == [i for i, _ in hits]
        assert all(abs(a - b) <= 1e-6
                   for (_, a), (_, b) in zip(got[q], hits))


def test_keyword_search_binds_once_and_equals_scan(spark, served):
    ti, _, live, _ = served
    want = _keyword_oracle(spark, live)
    for out in (ti.search(_term_frame(spark), k=K),
                ti.wand_search(_term_frame(spark), k=K)):
        assert python_scans(out) == 0
        assert sorted(map(tuple, out.collect())) == want


def test_ivf_search_many_binds_once_and_equals_numpy(spark, served):
    _, vi, _, emb_rows = served
    out = vi.search_many(_vec_frame(spark, emb_rows), k=K,
                         nprobe=N_CENTROIDS)
    assert python_scans(out) == 0
    _assert_vector_rows(out.collect(), _vector_oracle(emb_rows))


def test_hybrid_indexed_binds_once_and_equals_fused_oracles(spark, served):
    ti, vi, live, emb_rows = served
    out = retrieval.hybrid_search_indexed(
        ti, vi, _term_frame(spark), _vec_frame(spark, emb_rows), k=K,
        nprobe=N_CENTROIDS)
    assert python_scans(out) == 0
    text = {}
    for q, d, _, _, rank in _keyword_oracle(spark, live):
        text.setdefault(q, {})[d] = rank
    vec = {q: {i: r for r, (i, _) in enumerate(hits, start=1)}
           for q, hits in _vector_oracle(emb_rows).items()}
    want = []
    for q in sorted(set(text) | set(vec)):
        t, v = text.get(q, {}), vec.get(q, {})
        fused = sorted(
            ((-(sum(math.floor(1e6 / (60 + leg[d]))
                    for leg in (t, v) if d in leg)), d)
             for d in set(t) | set(v)))
        for rank, (neg, d) in enumerate(fused[:K], start=1):
            want.append((q, d, t.get(d, 0), v.get(d, 0), -neg, rank))
    assert sorted(map(tuple, out.collect())) == sorted(want)


def test_empty_batches_return_typed_empty_frames(spark, served):
    ti, vi, _, _ = served
    no_terms = spark.createDataFrame([], TERM_SCHEMA)
    no_vecs = spark.createDataFrame([], VEC_SCHEMA)
    keyword = ("struct<query_id:bigint,doc_id:bigint,n_terms:bigint,"
               "score_micro:bigint,rank:int>")
    cases = [
        (ti.search(no_terms, k=K), keyword),
        (ti.wand_search(no_terms, k=K), keyword),
        (vi.search_many(no_vecs, k=K, nprobe=N_CENTROIDS),
         "struct<query_id:bigint,vec_id:bigint,score:double,rank:int>"),
        (retrieval.hybrid_search_indexed(ti, vi, no_terms, no_vecs, k=K,
                                         nprobe=N_CENTROIDS),
         "struct<query_id:bigint,doc_id:bigint,text_rank:int,vec_rank:int,"
         "rrf_micro:bigint,rank:int>"),
    ]
    for empty, schema in cases:
        assert empty.collect() == []
        assert empty.schema.simpleString() == schema
        assert python_scans(empty) == 0


# ---- id lists into index maintenance and more_like_this -------------------

DELETE_IDS = [5, 17, 17, 42, 301, 999999]      # a repeat and a never-seen id


def _spy_actions(monkeypatch, spark):
    """Record python_scans of every frame collected or checkpointed."""
    cls = type(spark.range(1))
    seen = []
    for name in ("collect", "localCheckpoint"):
        real = getattr(cls, name)

        def spy(self, *a, _real=real, **kw):
            seen.append(python_scans(self))
            return _real(self, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    return seen


@pytest.fixture(scope="module")
def twins(spark, docs_small, embeddings_small, tmp_path_factory):
    """Two identical (text index with term vectors, IVF index) pairs,
    built once and copied: one takes id lists, the other id frames."""
    import shutil

    root = tmp_path_factory.mktemp("twins")
    docs = docs_small.select("doc_id", "text").filter(F.col("doc_id") < 400)
    ti = TextIndex(spark, str(root / "ti_list"), n_term_buckets=8,
                   n_doc_buckets=2, term_vectors=True)
    ti.build(docs)
    vi = IVFIndex(spark, str(root / "vi_list"), n_centroids=N_CENTROIDS)
    vi.build(embeddings_small)
    shutil.copytree(ti.path, str(root / "ti_df"))
    shutil.copytree(vi.path, str(root / "vi_df"))
    return {"list": (ti, vi),
            "df": (TextIndex(spark, str(root / "ti_df"), n_term_buckets=8,
                             n_doc_buckets=2, term_vectors=True),
                   IVFIndex(spark, str(root / "vi_df"),
                            n_centroids=N_CENTROIDS))}


def _ivf_state(vi):
    cells = sorted((r.vec_id, r.centroid_id)
                   for r in vi._read_cells().select("vec_id", "centroid_id")
                   .collect())
    idmap = sorted(map(tuple, vi._read_idmap()
                       .select("vec_id", "centroid_id", "bucket").collect()))
    return cells, idmap


def test_more_like_this_id_list_reads_no_python_rdd(spark, twins,
                                                    monkeypatch):
    ti, _ = twins["list"]
    want = sorted(map(tuple, ti.more_like_this(
        spark.createDataFrame([(2,), (4,)], "doc_id long"), m=3,
        k=K).collect()))
    seen = _spy_actions(monkeypatch, spark)
    out = ti.more_like_this([2, 4, 4], m=3, k=K)
    assert python_scans(out) == 0 and seen and not any(seen)
    assert sorted(map(tuple, out.collect())) == want


def test_index_deletes_by_id_list_read_no_python_rdd(spark, twins,
                                                     monkeypatch):
    ti_l, vi_l = twins["list"]
    ti_d, vi_d = twins["df"]
    frame = spark.createDataFrame([(i,) for i in DELETE_IDS], "vec_id long")
    ti_d.delete(frame)
    vi_d.delete(frame)
    seen = _spy_actions(monkeypatch, spark)
    ti_l.delete(DELETE_IDS)
    vi_l.delete(DELETE_IDS)
    monkeypatch.undo()
    assert seen and not any(seen)
    assert ti_l._manifest()["n_docs"] == ti_d._manifest()["n_docs"]
    assert sorted(map(tuple, ti_l.stats().collect())) == \
        sorted(map(tuple, ti_d.stats().collect()))
    terms = _term_frame(spark)
    assert sorted(map(tuple, ti_l.search(terms, k=K).collect())) == \
        sorted(map(tuple, ti_d.search(terms, k=K).collect()))
    assert _ivf_state(vi_l) == _ivf_state(vi_d)
    left = {r.vec_id for r in vi_l._read_cells().select("vec_id").collect()}
    assert not left & set(DELETE_IDS)
