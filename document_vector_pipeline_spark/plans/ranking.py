"""Two-phase EXACT global ranking — the scale-safe form of the
unpartitioned rank/ntile window.

``Window.orderBy(...)`` with no partition spec is correct but moves the
ENTIRE frame through ONE task (Spark warns ``WindowExec: No Partition
Defined``): even when the input is an already-aggregated users-sized
frame, at 10^9 users that is a one-core sort-and-spill straggler.  The
classical fix (Goetz Graefe's rank decomposition; the same shape
TeraSort uses) is two phases, both fully distributed:

1. ``repartitionByRange(n, *order_cols)`` — a range exchange on the
   ordering key, so every row in partition i sorts strictly before
   every row in partition i+1 (total order across partitions; the
   ordering must carry a unique tie-break so ranks are well-defined).
2. Per-partition row counts (n_partitions rows — PLAN METADATA, the
   same bounded-collect discipline as PQ codebooks) turned into an
   exclusive prefix sum of partition offsets; the global rank of a row
   is its partition's offset + its LOCAL row_number, computed in a
   window partitioned by the physical partition id — n_partitions
   bounded groups, never one global task.

The result is BIT-IDENTICAL to the unpartitioned window (same total
order → same ranks), so DuckDB oracles written against the one-window
form stay green.  ``ntile`` is derived arithmetically from the global
row_number with the standard SQL bucket rule (first N%k buckets get
one extra row), which Spark and DuckDB share.

The eager localCheckpoint after the range exchange is load-bearing,
not a convenience: the offsets job and the ranked-output job MUST see
identical partition membership, and RangePartitioner's boundaries come
from a reservoir sample whose draw depends on upstream row ORDER —
which shuffle fetch does not reproduce across recomputes.  The
checkpoint is the TeraSort write barrier: one linear, fully
distributed materialization of the frame being ranked (executor-local
storage), paid once per ranking — still strictly better than the
single-task sort it replaces, and free for the common case where the
input is an already-aggregated users/vocab-sized frame.

Reference analogue: the reference engine has no ranked-decile surface
(BlobTriggerFunction.cs is a per-blob trigger); this module exists for
the analytics keys the brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_vector_pipeline_spark.functions.localrel import local_df

__all__ = ["global_row_number", "global_ntile", "grouped_running_sum",
           "partial_topk", "global_cumsum", "global_suffix_max"]


def _default_parts(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def _ranged(df: DataFrame, order_cols: list, n_parts: int):
    """Range-exchange ``df`` on the ordering, pin the partitioning with
    an eager localCheckpoint (two downstream jobs — the offsets count
    and the ranked output — MUST see the same partitions; the range
    boundaries come from a sample, so recomputation is not guaranteed
    stable), and return (frame+__pid, offsets DataFrame).  The offsets
    frame has n_parts rows: (__pid, __off) with __off = rows in all
    earlier partitions."""
    part = (df.repartitionByRange(n_parts, *order_cols)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True))
    counts = {int(r["__pid"]): int(r["n"])
              for r in part.groupBy("__pid").count()
              .withColumnRenamed("count", "n").collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        offsets = [(0, 0)]
    off = local_df(df.sparkSession, offsets, "__pid int, __off long")
    return part, off, acc


def global_row_number(df: DataFrame, order_cols: list,
                      out: str = "rn",
                      n_partitions: int | None = None):
    """``(df + out, total_rows)``: exact global 1-based row_number over
    ``order_cols`` (must be a total order) with no single-task stage.
    Equivalent to ``F.row_number().over(Window.orderBy(*order_cols))``
    row for row."""
    n_parts = n_partitions or _default_parts(df)
    part, off, total = _ranged(df, order_cols, n_parts)
    wl = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = (part.join(F.broadcast(off), "__pid")
              .withColumn(out, (F.col("__off")
                                + F.row_number().over(wl)).cast("long"))
              .drop("__pid", "__off"))
    return ranked, total


def _ntile_expr(rn_col: str, total: int, n_tiles: int) -> str:
    """SQL ntile(k) as INTEGER arithmetic on the global row_number:
    with q = N//k and r = N%k the first r buckets hold q+1 rows, the
    rest q — identical in Spark and DuckDB.  ``div`` keeps every step
    exact int64 (no double round-trip), no window."""
    q, r = divmod(int(total), n_tiles)
    if q == 0:
        return f"cast({rn_col} as int)"
    head = r * (q + 1)
    return (f"cast(case when {rn_col} <= {head} "
            f"then ({rn_col} + {q}) div {q + 1} "
            f"else {r} + ({rn_col} - {head} + {q - 1}) div {q} "
            f"end as int)")


def global_ntile(df: DataFrame, order_cols: list, n_tiles: int,
                 out: str = "tile",
                 n_partitions: int | None = None) -> DataFrame:
    """Exact global ``ntile(n_tiles)`` over ``order_cols`` (total
    order), two-phase: bit-identical to
    ``F.ntile(n).over(Window.orderBy(*order_cols))`` without the
    single-task window."""
    ranked, total = global_row_number(df, order_cols, out="__grn",
                                      n_partitions=n_partitions)
    if total == 0:
        return ranked.withColumn(out, F.lit(None).cast("int")).drop("__grn")
    return (ranked.withColumn(out, F.expr(_ntile_expr("__grn", total,
                                                      n_tiles)))
            .drop("__grn"))


def grouped_running_sum(df: DataFrame, group_col: str, order_cols: list,
                        val_col: str, out: str = "cum",
                        n_partitions: int | None = None) -> DataFrame:
    """Per-group cumulative sum (``SUM(val) OVER (PARTITION BY g ORDER
    BY ... ROWS UNBOUNDED PRECEDING)``) in two-phase form: range
    exchange on (group, *order), per-(partition, group) partial sums
    collected as plan metadata (≤ n_parts·groups-that-span rows — a
    group contributes one row per partition it TOUCHES, and range
    partitioning keeps each group contiguous, so this is O(n_parts +
    n_groups)), exclusive prefix offsets per group, map-side cum =
    group offset + local running sum.  For the few-huge-groups shape
    (token budgets per source) where a group-partitioned window would
    be one task per group."""
    n_parts = n_partitions or _default_parts(df)
    order = [F.col(group_col), *order_cols]
    part = (df.repartitionByRange(n_parts, *order)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True))
    partials = (part.groupBy("__pid", group_col)
                # coalesce: a (partition, group) slice whose values are
                # all NULL sums to NULL — it contributes 0 to the prefix
                # (SQL running sums skip nulls); the non-null count
                # rides along so NULL-vs-0 is decidable downstream
                .agg(F.coalesce(F.sum(F.col(val_col)), F.lit(0))
                     .cast("long").alias("__s"),
                     F.count(F.col(val_col)).cast("long").alias("__c"))
                .collect())
    by_group: dict = {}
    for r in sorted(partials, key=lambda r: int(r["__pid"])):
        g = r[group_col]
        seen = by_group.setdefault(g, [])
        ps = seen[-1][1] + seen[-1][3] if seen else 0
        pc = seen[-1][2] + seen[-1][4] if seen else 0
        seen.append((int(r["__pid"]), ps, pc, int(r["__s"]), int(r["__c"])))
    rows = [(pid, g, offs, offc) for g, lst in by_group.items()
            for pid, offs, offc, _, _ in lst]
    schema = (part.select("__pid", group_col).limit(0)
              .withColumn("__goff", F.lit(0).cast("long"))
              .withColumn("__gcnt", F.lit(0).cast("long")).schema)
    off = local_df(df.sparkSession, rows, schema)
    wl = (Window.partitionBy("__pid", group_col).orderBy(*order_cols)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # eqNullSafe on the group key: a NULL group is a real partition in
    # the window form (SQL PARTITION BY groups nulls together) — a
    # null-unsafe equi-join would silently drop those rows.
    offr = off.select(F.col("__pid").alias("__opid"),
                      F.col(group_col).alias("__og"), "__goff", "__gcnt")
    local = F.sum(F.col(val_col)).over(wl)
    # SQL running sums are NULL only while ZERO non-null values have
    # been seen; a NULL local slice after earlier-partition values must
    # surface the offset, not NULL out.
    cum = (F.when(local.isNull() & (F.col("__gcnt") == 0),
                  F.lit(None).cast("long"))
           .otherwise(F.col("__goff") + F.coalesce(local, F.lit(0))))
    return (part.join(F.broadcast(offr),
                      (F.col("__pid") == F.col("__opid"))
                      & F.col(group_col).eqNullSafe(F.col("__og")))
            .withColumn(out, cum.cast("long"))
            .drop("__pid", "__opid", "__og", "__goff", "__gcnt"))


def partial_topk(df: DataFrame, order_cols: list, k: int,
                 group_cols: tuple = ()) -> DataFrame:
    """Map-side pre-cut for a global (or per-group) top-k window: keep
    the best ``k`` rows per (physical partition, *group_cols) first, so
    the final unpartitioned/per-group rank window sees at most
    n_partitions·k rows per group instead of the whole frame — what
    Spark's partial WindowGroupLimit does by itself for a partitioned
    ``row_number() <= k`` window, made explicit for the unpartitioned
    (global) windows that get no such pushdown.  LOSSLESS for any downstream
    ``rank <= k`` filter: a row outside its partition's local top-k
    cannot be in the global top-k.  The pre-cut window partitions on
    spark_partition_id(), so its groups are the input partitions —
    fully distributed, no single task anywhere; the survivor frame is
    bounded (n_parts·k), making the final global window a
    constant-size stage at any corpus size."""
    pre = Window.partitionBy(F.spark_partition_id(), *[F.col(c) for c
                                                       in group_cols]) \
        .orderBy(*order_cols)
    return (df.withColumn("__prn", F.row_number().over(pre))
            .filter(F.col("__prn") <= k).drop("__prn"))


def global_cumsum(df: DataFrame, order_cols: list, val_col: str,
                  out: str = "cum", rn_out: str | None = None,
                  n_partitions: int | None = None):
    """``(df + out [+ rn_out], total_rows, total_sum)``: exact global
    running sum (and optionally the global row_number) over a total
    order, two-phase — range exchange, per-partition (count, sum)
    pairs as plan metadata, map-side cum = partition sum-offset +
    local running sum.  Equivalent to ``SUM(val) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING)`` with no single-task stage; the totals
    come back as plan metadata so callers can drop their
    whole-frame-count windows too."""
    n_parts = n_partitions or _default_parts(df)
    part = (df.repartitionByRange(n_parts, *order_cols)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True))
    # coalesce: a partition whose values are all NULL sums to NULL —
    # it contributes 0 to the prefix (running sums skip nulls), and
    # int(None) would raise driver-side; the non-null count rides
    # along so NULL-vs-0 is decidable downstream.
    stats = {int(r["__pid"]): (int(r["n"]), int(r["s"]), int(r["c"]))
             for r in part.groupBy("__pid")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.sum(F.col(val_col)), F.lit(0))
                  .cast("long").alias("s"),
                  F.count(F.col(val_col)).cast("long").alias("c"))
             .collect()}
    rows, nacc, sacc, cacc = [], 0, 0, 0
    for pid in sorted(stats):
        rows.append((pid, nacc, sacc, cacc))
        nacc += stats[pid][0]
        sacc += stats[pid][1]
        cacc += stats[pid][2]
    if not rows:
        rows = [(0, 0, 0, 0)]
    off = local_df(
        df.sparkSession,
        rows, "__pid int, __noff long, __soff long, __coff long")
    wl = Window.partitionBy("__pid").orderBy(*order_cols)
    wls = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = F.sum(F.col(val_col)).over(wls)
    # NULL only while ZERO non-null values precede globally (window
    # semantics); a NULL local prefix after earlier-partition values
    # must surface the offset, not NULL out.
    cum = (F.when(local.isNull() & (F.col("__coff") == 0),
                  F.lit(None).cast("long"))
           .otherwise(F.col("__soff") + F.coalesce(local, F.lit(0))))
    res = part.join(F.broadcast(off), "__pid").withColumn(
        out, cum.cast("long"))
    if rn_out is not None:
        res = res.withColumn(rn_out, (F.col("__noff")
                                      + F.row_number().over(wl))
                             .cast("long"))
    return res.drop("__pid", "__noff", "__soff", "__coff"), nacc, sacc


def global_suffix_max(df: DataFrame, order_col: str, val_col: str,
                      out: str = "suffix_max",
                      n_partitions: int | None = None) -> DataFrame:
    """``out`` = max of ``val_col`` over every row whose ``order_col``
    is STRICTLY GREATER than this row's — the frontier/skyline window
    (``RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING``) in
    two-phase form: range exchange on ``order_col`` (equal keys are
    never split across partitions, so "strictly greater" rows live in
    this partition — handled by the local range window — or in LATER
    partitions, whose maxes are plan metadata folded into a per-pid
    suffix), null when no greater row exists.  Bit-identical to the
    unpartitioned range window, no single-task stage."""
    n_parts = n_partitions or _default_parts(df)
    part = (df.repartitionByRange(n_parts, F.col(order_col))
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True))
    # m may be NULL (partition whose values are all NULL): MAX skips
    # nulls, so a None partial must not fold into the suffix (and
    # int(None) would raise driver-side).
    maxes = {int(r["__pid"]): (None if r["m"] is None else int(r["m"]))
             for r in part.groupBy("__pid")
             .agg(F.max(F.col(val_col)).cast("long").alias("m"))
             .collect()}
    rows, suffix = [], None
    for pid in sorted(maxes, reverse=True):
        rows.append((pid, suffix))
        m = maxes[pid]
        if m is not None:
            suffix = m if suffix is None else max(suffix, m)
    if not rows:
        rows = [(0, None)]
    off = local_df(
        df.sparkSession,
        rows, "__pid int, __later long")
    wl = (Window.partitionBy("__pid").orderBy(order_col)
          .rangeBetween(1, Window.unboundedFollowing))
    local = F.max(F.col(val_col)).over(wl)
    return (part.join(F.broadcast(off), "__pid")
            .withColumn(out,
                        F.when(local.isNull(), F.col("__later"))
                         .when(F.col("__later").isNull(), local)
                         .otherwise(F.greatest(local, F.col("__later"))))
            .drop("__pid", "__later"))
