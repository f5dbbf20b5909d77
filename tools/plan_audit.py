"""Print the physical plan of any queries() key — the fastest way to
verify a pushdown/pruning/broadcast claim made in a docstring.

Usage: python tools/plan_audit.py KEY [sf_dir] [--formatted]

Builds the key's DataFrame (running whatever setup the key performs —
index builds, versioned commits — but NOT the final action) and prints
the executed plan, plus a one-line summary of the signals reviewers
grep for: Exchange count, PartitionFilters/PushedFilters presence,
BroadcastHashJoin count, the Python-touching nodes (MapInPandas,
ArrowEvalPython, FlatMapGroupsInPandas, and ExistingRDD scans of a
Python RDD), and any row-at-a-time Python eval (there should never be
one — Arrow batches only).
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402
from document_vector_pipeline_spark.functions.localrel import (  # noqa: E402
    python_scans,
)

# serving keys whose plans must run no Python at all: the query batch is
# bound once into a JVM local relation and every top-k is Spark's own
# partial WindowGroupLimit (the pandas-scored paths are not listed)
PYTHON_FREE_KEYS = (
    "text_bm25_indexed", "text_bm25_filtered", "text_wand_search",
    "ann_ivf_persisted", "ann_ivf_filtered",
    "store_hybrid_indexed", "store_hybrid_filtered",
)


def python_nodes(df, plan: str) -> dict:
    """Per-kind count of the plan nodes that run Python workers.  An
    ExistingRDD scan counts only when it reads a Python RDD — a
    localCheckpoint plans as the same node but is JVM-only."""
    return {"MapInPandas": plan.count("MapInPandas"),
            "ArrowEvalPython": plan.count("ArrowEvalPython"),
            "FlatMapGroupsInPandas": plan.count("FlatMapGroupsInPandas"),
            "ExistingRDD": python_scans(df)}


def sweep(sf: str) -> int:
    """Plan-lint EVERY queries() key: build each key's DataFrame (index
    builds / versioned commits / stream drains included), read its
    executed plan, and record the reviewer signals — Exchange count,
    broadcast joins, Arrow batches — while HARD-FAILING on any
    row-at-a-time Python eval (BatchEvalPython): the no-slow-path
    invariant the whole repo claims, machine-checked key by key — and
    on any Python-touching node in a PYTHON_FREE_KEYS plan.  Writes
    PLANAUDIT.json and prints a summary."""
    import json

    from document_vector_pipeline_spark import get_spark
    spark = get_spark("plan-audit-sweep", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    rows, bad = {}, []
    for i, (key, fn) in enumerate(qs.items(), 1):
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows[key] = {
                "exchanges": plan.count("Exchange"),
                "broadcast_joins": plan.count("BroadcastHashJoin"),
                "arrow_batches": (plan.count("ArrowEvalPython")
                                  + plan.count("MapInPandas")
                                  + plan.count("FlatMapGroupsInPandas")),
                "row_python": plan.count("BatchEvalPython"),
                "python_nodes": python_nodes(df, plan),
            }
            n_py = sum(rows[key]["python_nodes"].values())
            if rows[key]["row_python"] or (key in PYTHON_FREE_KEYS
                                           and n_py):
                bad.append(key)
            print(f"[{i}/{len(qs)}] {key:32s} ex={rows[key]['exchanges']:3d}"
                  f" bhj={rows[key]['broadcast_joins']} "
                  f"arrow={rows[key]['arrow_batches']} "
                  f"py={n_py} "
                  f"rowpy={rows[key]['row_python']}", flush=True)
        except Exception as ex:                        # noqa: BLE001
            rows[key] = {"error": f"{type(ex).__name__}: {ex}"[:200]}
            bad.append(key)
            print(f"[{i}/{len(qs)}] {key:32s} ERROR {ex}", flush=True)
    with open("PLANAUDIT.json", "w") as fh:
        json.dump(rows, fh, indent=1, sort_keys=True)
    print(f"--- sweep: {len(qs)} keys, {len(bad)} flagged "
          f"(row-python, Python in a Python-free key, or error): {bad}")
    spark.stop()
    return 1 if bad else 0


def main() -> None:
    if sys.argv[1:2] == ["--sweep"]:
        sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
        raise SystemExit(sweep(sf))
    key = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") \
        else "/root/testdata/sf0.001"
    fmt = "--formatted" in sys.argv

    from document_vector_pipeline_spark import get_spark
    spark = get_spark("plan-audit", cores=8)
    df = entrymod.queries()[key](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if fmt:
        df.explain("formatted")
    else:
        print(plan)
    print("--- summary ---")
    print(f"key: {key}  sf: {sf}")
    print(f"Exchange nodes:       {plan.count('Exchange')}")
    print(f"BroadcastHashJoin:    {plan.count('BroadcastHashJoin')}")
    print(f"PartitionFilters:     {'yes' if 'PartitionFilters: [' in plan else 'no'}")
    print(f"PushedFilters:        {'yes' if 'PushedFilters: [' in plan else 'no'}")
    print(f"ArrowEval (pandas):   {plan.count('ArrowEvalPython') + plan.count('MapInPandas')}")
    py = python_nodes(df, plan)
    print(f"Python-touching:      {sum(py.values())} "
          + " ".join(f"{k}={v}" for k, v in py.items())
          + ("  (must be 0 for this key)" if key in PYTHON_FREE_KEYS
             else ""))
    print(f"row-at-a-time Python: {plan.count('BatchEvalPython')}")
    spark.stop()


if __name__ == "__main__":
    main()
