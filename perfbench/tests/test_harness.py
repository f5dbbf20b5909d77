"""Tests of the benchmark's own harness.

    python -m pytest perfbench/tests -q

The checks and the generator are pure Python; the span recorder and the
smoke runs start Spark (local mode).  The smoke runs execute the real
benchmark for one short window per workload, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.spans import union_length  # noqa: E402
from perfbench.trace import metric_names  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# ---- generator ------------------------------------------------------------

def test_generator_is_seeded():
    a = gen.make_dup_corpus(gen.Corpus.make(5), 20, 100)
    b = gen.make_dup_corpus(gen.Corpus.make(5), 20, 100)
    c = gen.make_dup_corpus(gen.Corpus.make(6), 20, 100)
    assert a.blobs.contents == b.blobs.contents
    assert a.planted == b.planted
    assert a.blobs.contents != c.blobs.contents


def test_planted_duplicates_and_cdc_batches():
    corpus = gen.Corpus.make(1)
    dc = gen.make_dup_corpus(corpus, 40, 200)
    nums = {int(n[1:8]) for n in dc.blobs.contents}
    assert len(nums) == 40 + 4 + 10
    assert all(a in nums and b in nums for a, b in dc.planted)
    by_num = {int(n[1:8]): t for n, t in dc.blobs.contents.items()}
    for a, b in dc.exact_groups:
        assert " ".join(by_num[a].lower().split()) == \
            " ".join(by_num[b].lower().split())
    live = dict(dc.blobs.contents)
    before = set(live)
    (batch,) = gen.make_cdc_batches(corpus, live, 1, 20, 200, 10_000)
    names = [n for n, _, _, _ in batch.events]
    assert len(names) == len(set(names)) == 20
    deleted = {n for n, op, _, _ in batch.events if op == "delete"}
    assert deleted and deleted <= before and not deleted & set(live)


def test_query_pool_terms_come_from_passages():
    corpus = gen.Corpus.make(2)
    docs = gen.make_blobs(corpus, 10, 200).contents
    pool = gen.make_query_pool(corpus, docs, 8)
    for passage, terms in zip(pool.passages, pool.terms):
        assert terms and set(terms) <= set(passage.split())
    assert abs(pool.probs.sum() - 1.0) < 1e-9


# ---- correctness checks reject corrupted results -----------------------------

def _topk_case():
    rng = np.random.default_rng(0)
    mat = rng.normal(size=(50, 16)).astype(np.float32)
    keys = [(f"u{i % 7}", str(i)) for i in range(50)]
    q = [float(v) for v in rng.normal(size=16)]
    scores = checks.cosine_scores(mat, checks.row_norms(mat), q)
    return checks.exact_topk(scores, keys, 10)


def test_compare_topk_rejects_reordered_and_wrong_scores():
    want = _topk_case()
    assert checks.compare_topk(list(want), want) == []
    swapped = [want[1], want[0]] + want[2:]
    assert checks.compare_topk(swapped, want)
    off = [(want[0][0] + 1e-3, want[0][1])] + want[1:]
    assert checks.compare_topk(off, want)
    assert checks.compare_topk(want[:9], want)


def test_check_chunks_rejects_a_corrupted_chunk():
    contents = {"u1": "a b\n c  d\n", "u2": "x y z\n"}
    good = {"u1": [(1, "c d"), (0, "a b")], "u2": [(0, "x y z")]}
    assert checks.check_chunks(good, contents) == []
    bad = {"u1": [(0, "a b"), (1, "c e")], "u2": [(0, "x y z")]}
    assert checks.check_chunks(bad, contents)
    assert checks.check_chunks({"u1": good["u1"]}, contents)


def test_other_checks_reject_corrupted_results():
    assert checks.check_urls({"a", "b"}, {"a", "b"}) == []
    assert checks.check_urls({"a", "b", "deleted"}, {"a", "b"})
    assert checks.check_embeddings([1536, 1536], [1.0, 1.0 + 1e-7]) == []
    assert checks.check_embeddings([1536, 1535], [1.0, 1.0])
    assert checks.check_embeddings([1536], [0.5])
    assert checks.check_rows_equal([(1, 2)], [(1, 2)], "x") == []
    assert checks.check_rows_equal([(1, 2)], [(1, 3)], "x")
    groups = [[1, 2], [3, 4]]
    assert checks.check_survivors({1, 2, 3, 4, 5}, [1, 3, 5], groups) == []
    assert checks.check_survivors({1, 2, 3, 4, 5}, [1, 2, 3, 5], groups)
    assert checks.check_survivors({1, 2, 3, 4, 5}, [1, 3, 9], groups)


def test_check_ranked_rejects_bad_rankings():
    assert checks.check_ranked([1, 2, 3], [9, 5, 5], 10) == []
    assert checks.check_ranked([2, 1], [5, 9], 10) == []
    assert checks.check_ranked([1, 2], [5, 9], 10)
    assert checks.check_ranked([1, 3], [9, 5], 10)
    assert checks.check_ranked(list(range(1, 12)), [1.0] * 11, 10)
    assert checks.check_ranked([1, 2], [2, 1], 10, exact_k=True)


def test_dup_counts():
    planted = {(1, 2), (3, 4)}
    # 2 removed (a planted copy), 5 removed (not planted), 3-4 missed
    assert checks.dup_counts({1, 2, 3, 4, 5}, {1, 3, 4}, planted) == \
        (1, 2, 1, 2)


def test_exact_topk_breaks_ties_by_key():
    scores = np.array([0.5, 0.5000000001, 0.4, 0.5])
    keys = [("b",), ("c",), ("a",), ("a",)]
    got = checks.exact_topk(scores, keys, 3)
    assert [k for _, k in got] == [("a",), ("b",), ("c",)]


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1, 2) == 1
    assert union_length([], 0, 10) == 0


# ---- BENCHMARK.json matches what the runs report ----------------------------

def test_benchmark_json_lists_the_reported_metrics():
    assert [m["name"] for m in BENCH["per_layer"]] == \
        [n for n, _ in metric_names()]
    assert {m["unit"] for m in BENCH["per_layer"]} == \
        {u for _, u in metric_names()}
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in BENCH["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])


# ---- span recorder: job-ID attribution ---------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    yield s
    s.stop()


def test_span_counts_jobs_of_run_parallel_threads(spark):
    """Jobs submitted from helper threads carry no job group of the caller,
    but they fall inside the span's job-ID interval."""
    from document_vector_pipeline_spark.functions.par import run_parallel
    from perfbench.spans import SpanRecorder

    a, b = spark.range(1000), spark.range(2000)
    rec = SpanRecorder(spark)
    lo = rec.next_job_id()
    a.count()
    b.count()
    per_call = rec.next_job_id() - lo
    sc = spark.sparkContext
    sc.setJobGroup("caller", "caller thread group")
    with rec.span("parallel") as s:
        run_parallel(a.count, b.count)
    with rec.span("serial"):
        a.count()
    rec.resolve()
    grouped = sc.statusTracker().getJobIdsForGroup("caller")
    assert s.jobs == per_call and per_call >= 2
    assert len(grouped) < s.jobs + rec.spans[1].jobs
    assert s.busy_ms >= 0 and 0 <= s.driver_ms <= s.wall_ms
    assert rec.spans[1].jobs == per_call // 2


def test_self_time_excludes_child_spans(spark):
    import time

    from perfbench.spans import SpanRecorder

    rec = SpanRecorder(spark)
    with rec.span("parent"):
        time.sleep(0.05)
        with rec.span("child"):
            time.sleep(0.1)
    rec.resolve()
    parent, child = rec.spans
    assert child.parent == 0
    assert abs(parent.self_ms - (parent.wall_ms - child.wall_ms)) < 1.0
    assert parent.jobs == child.jobs == 0


# ---- smoke runs --------------------------------------------------------------

def _run(workload: str, trace: int, tmp_path) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("ingest", 0), ("serve", 0),
                                            ("serve", 1)])
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace,
                                                    tmp_path):
    res = _run(workload, trace, tmp_path)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_fails_without_the_package(tmp_path):
    """Copied alone, the benchmark exits non-zero and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
