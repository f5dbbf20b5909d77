"""Per-layer metrics of a traced run.

Each call into the package gets five measures, the median over its spans:
``wall_ms``, ``busy_ms``, ``driver_ms``, ``jobs`` and one bytes measure
matched to the layer.  In a traced run requests alternate between
untraced and traced, so ``trace_overhead_pct`` compares the two within
one process.
"""

from __future__ import annotations

import statistics

from perfbench import workloads as W

# (span name, bytes measure) per workload
CALLS = {
    "ingest": [
        ("sources.read_text_blobs", "in_bytes"),
        ("operators.pipeline.blobs_to_chunks", "in_bytes"),
        ("operators.embed.add_embeddings", "in_bytes"),
        ("store.vector_store.upsert", "out_bytes"),
        ("store.text_index.build", "out_bytes"),
        ("store.ivf_index.build", "out_bytes"),
        ("operators.pipeline.apply_blob_events", "out_bytes"),
        ("store.text_index.upsert", "out_bytes"),
        ("store.text_index.delete", "out_bytes"),
        ("store.text_index.maybe_compact", "out_bytes"),
        ("store.ivf_index.upsert", "out_bytes"),
        ("store.ivf_index.delete", "out_bytes"),
        ("operators.dedup.exact_dedup_survivors", "shuffle_bytes"),
        ("operators.dedup.minhash_signatures", "shuffle_bytes"),
        ("operators.dedup.minhash_lsh_pairs", "shuffle_bytes"),
        ("operators.graph.connected_components", "shuffle_bytes"),
    ],
    "serve": [
        ("store.vector_store.search", "in_bytes"),
        ("store.vector_store.search_filtered", "in_bytes"),
        ("store.ivf_index.search_many", "in_bytes"),
        ("store.text_index.search", "in_bytes"),
        ("operators.retrieval.hybrid_search_indexed", "in_bytes"),
    ],
}
MEASURES = ("wall_ms", "busy_ms", "driver_ms", "jobs")
UNITS = {"wall_ms": "ms", "busy_ms": "ms", "driver_ms": "ms", "jobs": "count",
         "in_bytes": "B", "out_bytes": "B", "shuffle_bytes": "B"}
RATIOS = ("operators.pipeline.apply_blob_events.write_amp",
          "store.vector_store.search_filtered.scan_frac",
          "store.ivf_index.search_many.scan_frac",
          "store.text_index.search.scan_frac",
          "operators.dedup.minhash_lsh_pairs.candidate_precision",
          "store_bytes_per_input_byte", "dup_recall", "dup_precision")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [("session.get_spark.wall_ms", "ms")]
    for calls in CALLS.values():
        for call, b in calls:
            out += [(f"{call}.{m}", UNITS[m]) for m in MEASURES + (b,)]
    out += [("failed_tasks", "count"), ("trace_overhead_pct", "%")]
    out += [(r, "ratio") for r in RATIOS]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(name, wl, rec, fig, lat, session_s) -> dict:
    """Per-layer metrics of one traced run of workload ``name``.  Calls
    and ratios belonging to other workloads read 0: this run made none of
    those calls."""
    metrics = {n: (0.0, u) for n, u in metric_names()}
    metrics["session.get_spark.wall_ms"] = (session_s * 1000.0, "ms")
    by: dict[str, list] = {}
    for s in rec.spans:
        by.setdefault(s.name, []).append(s)
    for call, b in CALLS[name]:
        spans = by.get(call, [])
        for m in MEASURES + (b,):
            metrics[f"{call}.{m}"] = (_median([getattr(s, m) for s in spans]),
                                      UNITS[m])
    metrics["failed_tasks"] = (rec.failed_tasks(), "count")
    if lat[True] and lat[False]:
        metrics["trace_overhead_pct"] = (
            100.0 * (_median(lat[True]) / _median(lat[False]) - 1.0), "%")
    for k, v in _ratios(name, wl, by, fig).items():
        metrics[k] = (v, "ratio")
    return metrics


def _ratios(name, wl, by, fig) -> dict:
    cor = wl.corpus
    if name == "ingest":
        per_row = W.dir_bytes(cor.store.path) / max(1, cor.store.read().count())
        written = sum(s.out_bytes for s in
                      by.get("operators.pipeline.apply_blob_events", []))
        return {"operators.pipeline.apply_blob_events.write_amp":
                written / max(1.0, per_row * fig["traced_batch_rows"]),
                "operators.dedup.minhash_lsh_pairs.candidate_precision":
                fig["candidate_precision"],
                "store_bytes_per_input_byte": fig["store_bytes_per_input_byte"],
                "dup_recall": fig["dup_recall"],
                "dup_precision": fig["dup_precision"]}
    out = {}
    for call, path in (
            ("store.vector_store.search_filtered", cor.store.path),
            ("store.ivf_index.search_many", cor.ivf.path + "/cells"),
            ("store.text_index.search", cor.text.path + "/segments")):
        read = _median([s.in_bytes for s in by.get(call, [])])
        out[f"{call}.scan_frac"] = read / max(1, W.dir_bytes(path))
    return out
