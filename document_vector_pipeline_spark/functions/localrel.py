"""JVM-local relations for driver-side metadata frames.

``spark.createDataFrame(list_of_tuples, schema)`` builds a PYTHON RDD
(`Scan ExistingRDD` over applySchemaToPythonRDD): every evaluation of
the frame — each broadcast build, each join, every re-reference in a
multi-pass plan — round-trips through Python workers, and writing one
to parquet was measured at ~6 s for a 16-row codebook (vs 0.2 s for the
same rows as a JVM relation).  Routing the rows through a pandas frame
with Arrow enabled produces a ``LocalTableScan`` instead: plain local
rows inside the JVM, zero Python at execution time.

``local_df`` is the drop-in replacement for the metadata-sized frames
the engine materializes driver-side (query batches, probe lists,
codebooks, df maps).  Values are carried in object-dtype pandas columns
so None survives exactly (no NaN coercion), and any conversion failure
falls back to the classic path — behavior-identical, just slower.
"""

from __future__ import annotations


def local_df(spark, rows, schema):
    """createDataFrame(rows, schema) as a JVM LocalTableScan when
    possible (Arrow pandas path), falling back to the Python-RDD path
    on any conversion failure.  ``rows`` is a sequence of tuples/Rows;
    ``schema`` a DDL string or StructType (required — inference would
    defeat the exactness contract)."""
    rows = list(rows)
    if not rows:
        # an empty pandas frame takes the Python-RDD path too; one
        # all-NULL local row cut by limit(0) plans as an empty
        # LocalTableScan with the same schema
        try:
            from pyspark.sql.types import StructType

            st = (schema if isinstance(schema, StructType)
                  else StructType.fromDDL(schema))
            return local_df(spark, [(None,) * len(st.fields)], st).limit(0)
        except Exception:  # noqa: BLE001 — e.g. a non-nullable field
            return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        ncols = len(rows[0])
        data = {str(i): pd.Series([r[i] for r in rows], dtype="object")
                for i in range(ncols)}
        pdf = pd.DataFrame(data)
        out = spark.createDataFrame(pdf, schema)
        # the Arrow path must have produced a local relation; if the
        # session had Arrow disabled the fallback below is equivalent
        return out
    except Exception:  # noqa: BLE001 — exactness first, speed second
        return spark.createDataFrame(rows, schema)


def python_scans(df) -> int:
    """Number of leaf scans in ``df``'s physical plan whose RDD lineage
    reaches a ``PythonRDD`` — a ``createDataFrame(list)`` frame, read by
    Python workers on every evaluation.  A localCheckpoint also plans
    as ``Scan ExistingRDD`` but is JVM-only, so the node name alone
    cannot tell them apart."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.getClass().getSimpleName() == "RDDScanExec"
                and "PythonRDD" in leaf.rdd().toDebugString()):
            n += 1
    return n


def release_checkpoint(df) -> None:
    """Free the blocks a ``localCheckpoint`` frame holds; the frame must
    not be evaluated afterwards.  ``DataFrame.unpersist()`` does not free
    them: it drops cache-manager entries, and a local checkpoint is an
    RDD persisted outside the cache manager.  Call it only on a frame
    the caller made: any frame planned over an RDD (a LogicalRDD) has
    that RDD unpersisted."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
