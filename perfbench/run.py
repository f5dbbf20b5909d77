"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  Generates its inputs
from ``--seed``, sets the workload up, runs closed-loop requests (one
client) for ``--seconds``, checks the outputs and prints one JSON line
last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of the workload.  ``--trace 1``
records spans around each call into the package (set-up included) and
reports the per-layer metrics instead; its requests alternate untraced
and traced, which gives the tracing overhead within one run.

Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, traced: bool) -> None:
    """Session settings that must be in place before the JVM starts."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package (Arrow UDFs pickle by reference)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # takes precedence over spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_UI"] = "false"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched at start, so the driver's peak
        # resident memory does not depend on when the collector grew it
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if traced:
        # the traced run reads every job and stage back after the fact
        confs.update({"spark.ui.retainedJobs": "1000000",
                      "spark.ui.retainedStages": "1000000"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python driver."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0


def stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: closing
    its stdin is the signal it exits on."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(ctx, wl, seconds: float):
    """Set up, then run closed-loop requests for ``seconds``, finishing the
    workload's cycle of request kinds.  A traced run alternates untraced
    and traced requests, at least one of each.  Returns (set-up seconds,
    latencies by traced flag, measured window)."""
    traced = ctx.rec.enabled
    t = time.perf_counter()
    with ctx.span(f"{wl.name}.setup"):
        wl.setup()
    setup_s = time.perf_counter() - t
    lat = {False: [], True: []}
    t0 = time.perf_counter()

    def more() -> bool:
        done = len(lat[False]) + len(lat[True])
        return (time.perf_counter() - t0 < seconds or done % wl.CYCLE
                or (traced and not lat[True]))

    while more():
        ctx.rec.enabled = traced and len(lat[False]) > len(lat[True])
        ctx.attempted += 1
        try:
            with ctx.span(f"{wl.name}.request"):
                ms = wl.request()
        except Exception as e:  # a failed request is counted, not fatal
            ctx.failed += 1
            ctx.problems.append(f"{wl.name} request: {e!r}"[:300])
            continue
        if ms is None:
            ctx.attempted -= 1
            break
        lat[ctx.rec.enabled].append(ms)
    window = time.perf_counter() - t0
    ctx.rec.enabled = False
    return setup_s, lat, window


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path.insert(0, ROOT)
        import document_vector_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, bool(args.trace))

    from document_vector_pipeline_spark.session import get_spark
    from perfbench.spans import SpanRecorder
    from perfbench.workloads import WORKLOADS, Ctx

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rec = SpanRecorder(spark, bool(args.trace))
        ctx = Ctx(spark, work, args.seed, rec)
        wl = WORKLOADS[args.workload](ctx)
        setup_s, lat, window = run_workload(ctx, wl, args.seconds)
        t = time.perf_counter()
        fig = wl.finish(window)
        ctx.phases["finish"] = time.perf_counter() - t
        all_lat = lat[False] + lat[True]
        if args.trace:
            from perfbench.trace import per_layer
            rec.resolve()
            rec.dump(os.path.join(work, "spans.jsonl"))
            metrics = per_layer(args.workload, wl, rec, fig, lat, session_s)
        else:
            metrics = {
                "setup_s": (session_s + setup_s, "s"),
                "peak_rss_mb": (peak_rss_mb(spark), "MB"),
                "request_p50_ms": (statistics.median(all_lat)
                                   if all_lat else 0.0, "ms"),
                "throughput_per_s": (fig["throughput_per_s"], "1/s"),
                "quality": (fig["quality"], "ratio"),
            }
        info = {"session_s": session_s, "setup_s": setup_s,
                "phases": ctx.phases,
                "latencies_ms": lat, "window_s": window, "figures": fig}
    finally:
        stop(spark)
    info["problems"] = ctx.problems
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"args": vars(args), "metrics": metrics, "info": info},
                  f, indent=1, default=str)
    for sub in os.listdir(work):
        if sub not in ("report.json", "spans.jsonl"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    for p in ctx.problems[:20]:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not ctx.problems and ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
