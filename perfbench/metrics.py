"""Metric names, units, and the per-layer table built from spans.

This module imports no Spark, so ``run.py`` can load it cheaply.
"""

from __future__ import annotations

import json
import os

from perfbench.trace import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "samples_per_s": "samples/s",
    "first_batch_s": "s",
    "batch_entropy_bits": "bits",
    "bytes_per_sample": "B",
    "peak_rss_mb": "MB",
}

# spans whose wall time and job counts are reported, by span name
_SETUP_SPANS = ("session.get_spark", "catalog.ensure_ingested", "catalog.load_table")
_COUNTED = ("jobs", "stages", "tasks", "failed_tasks")
_SPAN_MEASURES = {
    "session.get_spark": ("wall_s",),
    "catalog.ensure_ingested": ("wall_s", "jobs"),
    "catalog.load_table": ("wall_s", "jobs"),
    "op": ("wall_s", *_COUNTED),
    "strategies.BlockShuffling.plan": ("wall_s", "jobs"),
    "strategies.ClassBalancedSampling.plan": ("wall_s", "jobs"),
    "plans.with_batches": ("wall_s", "jobs"),
    "hooks.run_hook_pipeline": ("wall_s", "jobs"),
    "export.iterate_batches": ("wall_s", *_COUNTED),
    "export.write_arrow_fetches": ("wall_s", *_COUNTED),
    "quality.check_constraints": ("wall_s", *_COUNTED),
    "dedup.connected_components": ("wall_s", *_COUNTED),
    "dedup.remove_duplicate_spans": ("wall_s", "jobs"),
    "similarity.semantic_dedup": ("wall_s", "jobs"),
    "sink.parquet": ("wall_s", *_COUNTED),
}
# measured by the workloads themselves (prefix probes, waits, files)
_EXEC_LAYERS = (
    "strategies.BlockShuffling",
    "strategies.ClassBalancedSampling",
    "plans.with_batches",
    "hooks.run_hook_pipeline",
    "catalog.fetch_join",
)
_CURATE_STEPS = (
    "textanalysis.with_repetition_stats",
    "textanalysis.with_fingerprint",
    "dedup.lsh_candidate_pairs",
    "dedup.connected_components",
    "dedup.remove_duplicate_spans",
    "dedup.with_shingles",
    "similarity.semantic_dedup",
    "plans.with_running_sum",
)
_WORKLOAD_MEASURES = {
    "export.iterate_batches.first_wait_s": "s",
    "export.iterate_batches.wait_s": "s",
    "export.iterate_batches.wait_p50_ms": "ms",
    "export.iterate_batches.wait_p999_ms": "ms",
    "export.iterate_batches.wait_samples": "count",
    "consumer.self_s": "s",
    "export.write_arrow_fetches.files": "count",
    "export.write_arrow_fetches.bytes": "B",
    "reader.read_s": "s",
}


def _unit(measure: str) -> str:
    return "s" if measure.endswith("_s") else "count"


PER_LAYER: dict[str, str] = {}
for _span, _measures in _SPAN_MEASURES.items():
    for _m in _measures:
        PER_LAYER[f"{_span}.{_m}"] = _unit(_m)
for _layer in _EXEC_LAYERS:
    PER_LAYER[f"{_layer}.exec_s"] = "s"
for _step in _CURATE_STEPS:
    PER_LAYER[f"{_step}.exec_s"] = "s"
    PER_LAYER[f"{_step}.rows_out"] = "count"
PER_LAYER.update(_WORKLOAD_MEASURES)

UNITS = {**END_TO_END, **PER_LAYER}
# top-level spans: a set-up, or one timed operation
ROOTS = ("setup", "epoch", "pass")


def per_layer(spans: list[dict], measured: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric.  A span measure is the median, over the
    set-ups (set-up layers) or the timed operations (the rest), of its
    per-root sum; spans under the prefix probes are left out.  A layer
    the workload never calls reads 0."""
    by_id = {s["id"]: s for s in spans}
    per_root: dict[int, dict[str, dict[str, float]]] = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"] not in ROOTS:
            continue
        name = "op" if s is root and s["name"] != "setup" else s["name"]
        if name not in _SPAN_MEASURES or (name in _SETUP_SPANS) != (root["name"] == "setup"):
            continue
        acc = per_root.setdefault(root["id"], {}).setdefault(name, {})
        for m in _SPAN_MEASURES[name]:
            acc[m] = acc.get(m, 0.0) + s[m]
    out = {k: 0 for k in PER_LAYER}
    for name, measures in _SPAN_MEASURES.items():
        for m in measures:
            vals = [r[name][m] for r in per_root.values() if name in r]
            if vals:
                out[f"{name}.{m}"] = median(vals)
    out.update({k: v for k, v in measured.items() if k in PER_LAYER})
    return out


# --- recorded curation results -----------------------------------------


def _local_record(seed: int) -> str:
    return os.path.join(ROOT, ".perfbench", "expect", f"curate-seed{seed}.json")


def recorded_curation(seed: int) -> dict | None:
    """The curation result on record for ``seed``: ``curation_expected.json``
    beside this file first, then the first result this checkout saw."""
    with open(os.path.join(HERE, "curation_expected.json")) as f:
        rec = json.load(f).get(str(seed))
    if rec is not None:
        return rec
    try:
        with open(_local_record(seed)) as f:
            return json.load(f)
    except OSError:
        return None


def record_curation(seed: int, result: dict) -> None:
    path = _local_record(seed)
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(result, f)
