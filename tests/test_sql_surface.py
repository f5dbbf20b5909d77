"""The SQL surface: operators usable as plain spark.sql views, with
cross-view optimization."""

import pytest

from document_vector_pipeline_spark import sql_surface

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def names(spark):
    """Register every view once for the module: registration builds
    every contract query's plan (some run eager jobs) and is nearly all
    of these tests' time; querying a view is under a second."""
    return sql_surface.register_all(spark, SF)


def test_register_and_query_views(spark, names):
    assert len(names) > 80
    # operator view queried through SQL
    n = spark.sql(
        "select count(*) as n from dedup_exact where n_dups >= 1"
    ).collect()[0]["n"]
    assert n > 0
    # join a view against a base table through SQL
    row = spark.sql("""
        select count(*) as n
        from documents d join corpus_qualityfilter q using (doc_id)
        where q.passes
    """).collect()[0]
    assert row["n"] >= 0


def test_view_filters_push_into_operator_plan(spark, names):
    df = spark.sql("select * from corpus_qualityfilter where doc_id = 7")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the doc_id predicate must reach the parquet scan under the view
    assert "PushedFilters" in plan and "doc_id" in plan.split(
        "PushedFilters", 1)[1][:200]
    assert df.count() == 1
