"""The processes ``run.py`` starts; each prints one JSON object as its
last stdout line.

``prep`` runs only the first time in a checkout: it generates
``lineitem`` and runs the engine's one-time ingest, in a JVM of its own,
so that no measured process inherits its warm state.

``work`` measures:

1. set-up 1, timed from process start: ``get_spark`` (the JVM launch),
   the ingest-cache check (the run fails if the cache is missing),
   ``ensure_ingested``, the table loads and the workload's warm-up;
2. set-ups 2 to ``setups`` (a workload attribute): stop the session
   and do the same again on the running JVM;
3. ``settle_ops`` operations outside the set-up times, checked, with
   their figures dropped (see ``TrainStream.settle_ops``);
4. timed operations until ``--seconds`` have elapsed.

``setup_s`` is the median of the set-ups.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time
import traceback

from perfbench import fixture, metrics
from perfbench.trace import Tracer, median

ROOT = metrics.ROOT
WORK = os.path.join(ROOT, ".perfbench")
INGEST_ROOT = os.path.join(WORK, "ingest")
INGESTED = ("lineitem",)


LINEITEM_DIR = os.path.join(WORK, "data", "lineitem")


def corpus_dir(seed: int) -> str:
    return os.path.join(WORK, "data", f"corpus-seed{seed}")


def rebase_ingest_cache() -> None:
    """Keep the engine's ingest cache inside the checkout: the path is
    the engine's own (digest of the row-id rule and layout included),
    re-rooted under ``.perfbench/ingest``."""
    from scdataset_spark import catalog

    if getattr(catalog.ingest_dir, "_perfbench", False):
        return
    engine_dir = catalog.ingest_dir

    def ingest_dir(sf_dir: str, parts: int | None = None) -> str:
        return os.path.join(INGEST_ROOT, os.path.relpath(engine_dir(sf_dir, parts), "/"))

    ingest_dir._perfbench = True
    catalog.ingest_dir = ingest_dir


def cache_ready(spark, data: str = LINEITEM_DIR) -> bool:
    from scdataset_spark import catalog

    parts = catalog.ingest_parts(spark)
    return os.path.exists(os.path.join(data, "expect.npz")) and all(
        os.path.exists(os.path.join(catalog.ingest_dir(data, parts), f"{t}.parquet", "_SUCCESS"))
        for t in INGESTED
    )


def prep() -> dict:
    """Generate ``lineitem`` and run the engine's one-time ingest."""
    from scdataset_spark.catalog import ensure_ingested
    from scdataset_spark.session import get_spark

    if not os.path.exists(os.path.join(LINEITEM_DIR, "expect.npz")):
        fixture.write_lineitem(LINEITEM_DIR)
    spark = get_spark("perfbench-prep")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_ingested(spark, LINEITEM_DIR, tables=INGESTED)
    ready = cache_ready(spark)
    spark.stop()
    if not ready:
        raise RuntimeError("the ingest left no cache")
    with open(os.path.join(LINEITEM_DIR, "_READY"), "w"):
        pass
    return {"prepared": LINEITEM_DIR}


def set_up(a: argparse.Namespace, tracer: Tracer, t0: float) -> tuple[object, object, dict]:
    """One set-up, timed from ``t0``; returns (spark, workload, record)."""
    from scdataset_spark.catalog import ensure_ingested, load_table
    from scdataset_spark.session import get_spark

    from perfbench.workloads import WORKLOADS

    corpus = corpus_dir(a.seed)
    with tracer.span("setup"):
        spark = tracer.call("session.get_spark", get_spark, "perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        if not cache_ready(spark):
            raise RuntimeError("the ingest cache is missing before timing")
        tracer.call("catalog.ensure_ingested", ensure_ingested, spark, LINEITEM_DIR, tables=INGESTED)
        tables = {
            "lineitem": tracer.call("catalog.load_table", load_table, spark, "lineitem", LINEITEM_DIR),
            **{
                name: tracer.call("catalog.load_table", load_table, spark, name, corpus, with_row_id=False)
                for name in ("documents", "embeddings")
            },
        }
        work_dir = os.path.join(WORK, "scratch", a.workload)
        os.makedirs(work_dir, exist_ok=True)
        expect = fixture.load_expect(LINEITEM_DIR, corpus)
        wl = WORKLOADS[a.workload](spark, tables, expect, a.seed, tracer, work_dir)
        t = time.time()
        wl.warm()
        now = time.time()
    return spark, wl, {"total_s": now - t0, "warm_s": now - t}


def work(a: argparse.Namespace) -> dict:
    from pyspark.sql import SparkSession

    from perfbench.workloads import WORKLOADS

    tracer = Tracer(enabled=bool(a.trace))
    setups = []
    t0 = a.t_spawn
    for i in range(WORKLOADS[a.workload].setups):
        if i:
            tracer.unbind()
            SparkSession.getActiveSession().stop()
            t0 = time.time()
        spark, wl, rec = set_up(a, tracer, t0)
        setups.append(rec)
    attempted = n_failed = 0
    failures: list[str] = []

    def attempt() -> bool:
        """One operation and its checks; whether the run may go on."""
        nonlocal attempted, n_failed
        try:
            failed, ops = wl.run()
        except Exception:
            failures.append(traceback.format_exc(limit=4))
            attempted += 1
            n_failed += 1
            return False
        attempted += ops
        n_failed += min(len(failed), ops)
        failures.extend(failed)
        return True

    ok = True
    with tracer.span("settle"):
        for _ in range(wl.settle_ops):
            ok = ok and attempt()
    wl.records.clear()
    wl.layer.clear()
    t_run = time.perf_counter()
    while ok and attempt() and time.perf_counter() - t_run < a.seconds:
        pass
    e2e = wl.end_to_end() if wl.records else {}
    e2e["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    e2e["setup_s"] = median([s["total_s"] for s in setups])
    out = {
        "setups": setups,
        "attempted": attempted,
        "failed": n_failed,
        "failures": failures,
        "operations": [
            {k: v for k, v in r.items() if isinstance(v, (int, float, str))} for r in wl.records
        ],
        "end_to_end": e2e,
    }
    if a.trace:
        spans = tracer.summary()
        out["metrics"] = metrics.per_layer(spans, wl.per_layer() if wl.records else {})
        span_file = os.path.join(WORK, "out", f"{a.workload}-seed{a.seed}-spans.json")
        os.makedirs(os.path.dirname(span_file), exist_ok=True)
        with open(span_file, "w") as f:
            json.dump(spans, f, indent=1)
        out["span_file"] = span_file
    else:
        out["metrics"] = {k: e2e[k] for k in metrics.END_TO_END if k in e2e}
    spark.stop()
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("role", choices=("prep", "work"))
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t-spawn", type=float, required=True)
    a = p.parse_args(argv)
    rebase_ingest_cache()
    out = prep() if a.role == "prep" else work(a)
    sys.stdout.flush()
    print(json.dumps(out))
    return 0
