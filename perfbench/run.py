#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload train_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds ``scdataset_spark/``.  The
command prints one context line, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
It exits 1 when a correctness check fails and 2 when it cannot run.

Each run starts one measuring process (``child.py``) on ``local[cores]``,
pinned to that many of the machine's cores (a workload attribute),
after a preparing one the first time in a checkout; each runs in its own
process group, which is killed once the process has exited.  A seed's
corpus is generated here the first time the seed is seen.
Everything the benchmark writes stays under ``.perfbench/`` in the
checkout, including Spark's scratch space, the JVM's temp dir and the
engine's ingest cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# numpy and pyarrow only: Spark is imported in the children
from perfbench import child, fixture  # noqa: E402
from perfbench.child import WORK  # noqa: E402
from perfbench.metrics import UNITS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def child_env() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options",
                    f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
                    "--conf spark.ui.retainedJobs=100000",
                    "--conf spark.ui.retainedStages=100000",
                    "--conf spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    return env


def _alive_in_group(pgid: int) -> bool:
    """Whether a process of group ``pgid`` is still running (a zombie has
    ended; only its parent or init can still reap it)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def reap_group(pgid: int, wait_s: float = 10.0) -> None:
    """Kill what is left of a child's process group (the JVM and the
    Python workers are in it) and wait until none of it runs."""
    end = time.monotonic() + wait_s
    while _alive_in_group(pgid) and time.monotonic() < end:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def run_child(args: list[str], deadline: float) -> dict:
    """Run ``run.py <args>`` in its own process group; return the JSON
    object on its last stdout line.  The whole group is killed at the
    ``time.monotonic()`` deadline, and the call returns only once the
    child has exited."""
    timeout = max(1.0, deadline - time.monotonic())
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *args, "--t-spawn", repr(time.time())],
        cwd=ROOT,
        env=child_env(),
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        reap_group(proc.pid)
        proc.communicate()
        raise RuntimeError(f"child {args[0]} timed out after {timeout:.0f} s") from None
    finally:
        reap_group(proc.pid)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(err.splitlines()[-15:])
        raise RuntimeError(f"child {args[0]} exited {proc.returncode}:\n{tail}")
    return json.loads(lines[-1])


# --- session context (logic as in the repo's bench.py) -----------------


def cpu_probe() -> float:
    """Single-core pure-Python loop, min of 3: machine noise with no JIT
    warm-up to confound it."""

    def once() -> float:
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i * 3 % 7
        return time.perf_counter() - t0

    return min(once() for _ in range(3))


def read_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


# --- orchestration ------------------------------------------------------


def orchestrate(a: argparse.Namespace) -> int:
    if not os.path.isfile(os.path.join(ROOT, "scdataset_spark", "catalog.py")):
        print("perfbench: no scdataset_spark/ next to perfbench/; run from a checkout", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S
    machine = nproc()
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    steal0, total0 = read_stat()
    probe_start = cpu_probe()
    try:
        if not os.path.exists(os.path.join(child.LINEITEM_DIR, "_READY")):
            run_child(["prep"], deadline)
        if not os.path.exists(child.corpus_dir(a.seed)):
            fixture.write_corpus(child.corpus_dir(a.seed), a.seed)
        # the measuring process, its JVM and its Python workers inherit this
        os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[: WORKLOADS[a.workload].cores(machine)])
        res = run_child(
            ["work", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            deadline,
        )
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    steal1, total1 = read_stat()
    context = {
        "workload": a.workload,
        "seed": a.seed,
        "nproc": machine,
        "cores": nproc(),
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "cpu_probe_start_s": probe_start,
        "cpu_probe_end_s": cpu_probe(),
        "setups": res["setups"],
        "operations": res["operations"],
    }
    metrics = res["metrics"]
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())},
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    record = os.path.join(WORK, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(record, "w") as f:
        json.dump({"context": context, "result": out, "detail": res}, f, indent=1)
    print(json.dumps({"context": context, "failures": res["failures"], "record": record}))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("prep", "work"):
        return child.main(argv)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return orchestrate(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
