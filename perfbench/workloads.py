"""The three workloads, written against the engine's public functions.

Each workload has a ``warm`` step, run at the end of every set-up, and a
``run`` step: one timed operation (an epoch or a curation pass) and its
correctness checks.  Every call into a layer goes through the tracer,
which is a plain call when tracing is off.  A transform call only builds
a plan, so with tracing on each workload also measures its layers'
execution cost after the timed operation (see ``prefix_costs`` and
``CurateCorpus``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import time

import numpy as np

from perfbench import checks
from perfbench.checks import BATCH, FETCH_FACTOR, WORLD
from perfbench.fixture import FLAGS, LANGS
from perfbench.metrics import record_curation, recorded_curation
from perfbench.trace import Tracer, batch_entropies, batch_entropy, median, percentile

BLOCK = 256
TRAIN_COLS = ["row_id", "qty2", "l_extendedprice", "l_returnflag"]
EXPORT_COLS = ["pos", "row_id", "l_quantity", "l_extendedprice", "l_returnflag"]
# the set-up's warm-up epoch: under an epoch number no timed epoch uses,
# cut to its first WARM_FETCHES fetches
WARM_EPOCH = 10_000
WARM_FETCHES = 2


def prefix_costs(tr: Tracer, prefixes: list[tuple[str, object]]) -> dict[str, float]:
    """Write each pipeline prefix (scan, + strategy, + ...) to the noop
    sink, in order, inside span ``probe.<name>``; ``<name>.exec_s`` is its
    time minus the previous prefix's, ``<name>.rows_out`` its row count,
    observed in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    prev = 0.0
    for name, df in prefixes:
        obs = Observation()
        t0 = time.perf_counter()
        with tr.span("probe." + name):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
        sec = time.perf_counter() - t0
        out[f"{name}.exec_s"] = sec - prev
        out[f"{name}.rows_out"] = int(obs.get["rows"])
        prev = sec
    return out


def _qty2_transform():
    # built by a factory so it is pickled by value to the Python workers
    def fetch_transform(pdf):
        pdf = pdf.copy()
        pdf["qty2"] = pdf["l_quantity"] * 2.0
        return pdf[["row_id", "pos", "qty2", "l_extendedprice", "l_returnflag"]]

    return fetch_transform


class TrainStream:
    """BlockShuffling → with_batches → hooks → iterate_batches, one
    consumer, closed loop: the next batch is requested only after the
    previous one has been consumed."""

    name = "train_stream"
    # set-ups per run, each with its warm-up; setup_s is their median
    setups = 3
    # The first full epochs after the set-ups reach their first batch up
    # to a third later than the ones after them: they are checked, and
    # their figures are dropped (DESIGN.md).
    settle_ops = 2

    @staticmethod
    def cores(nproc: int) -> int:
        """Cores the run is pinned to.  The time to first batch is a chain
        of ten short Spark jobs, the figure most exposed to a shared
        host's CPU steal.  On a 4-core machine, in five runs interleaved
        with as many pinned to 2 cores, runs on all 4 saw 3 to 8 % steal
        and spread by 0.14 of their median, the pinned ones 1 to 3 % and
        0.06; ten runs on all 4 cores spread by 0.32 (DESIGN.md)."""
        return max(1, nproc // 2)

    def __init__(self, spark, tables, expect, seed: int, tracer: Tracer, work_dir: str):
        from scdataset_spark.operators.strategies import BlockShuffling

        self.spark, self.tr, self.seed, self.expect = spark, tracer, seed, expect
        self.lineitem = tables["lineitem"].select(
            "row_id", "l_quantity", "l_extendedprice", "l_returnflag"
        )
        self.n = len(expect["l_quantity"])
        self.strategy = BlockShuffling(block_size=BLOCK, assume_dense=True)
        self.epoch = 0
        self.prev_ids = None
        self.records: list[dict] = []
        self.layer: dict[str, list[float]] = {}

    def _pipeline(self, epoch: int, fetches: int | None = None):
        from pyspark.sql import functions as F

        from scdataset_spark.pipeline.hooks import run_hook_pipeline
        from scdataset_spark.plans.plan import with_batches

        tr = self.tr
        plan = tr.call(
            "strategies.BlockShuffling.plan", self.strategy.plan, self.lineitem, seed=self.seed, epoch=epoch
        )
        planned = tr.call(
            "plans.with_batches",
            with_batches,
            plan,
            batch_size=BATCH,
            fetch_factor=FETCH_FACTOR,
            shuffle_within_fetch=True,
            seed=self.seed + epoch,
        )
        if fetches is not None:
            planned = planned.where(F.col("fetch_id") < fetches)
        hooked = tr.call(
            "hooks.run_hook_pipeline",
            run_hook_pipeline,
            planned.select("row_id", "pos", "fetch_id", "l_quantity", "l_extendedprice", "l_returnflag"),
            "row_id bigint, pos bigint, qty2 double, l_extendedprice double, l_returnflag string",
            batch_size=BATCH,
            fetch_transform=_qty2_transform(),
        )
        return plan, planned, hooked

    def _consume(self, hooked):
        """Drain ``iterate_batches``; returns the delivered columns and
        the per-batch waits.  Every array is touched."""
        from scdataset_spark.pipeline.export import iterate_batches

        cols = {c: [] for c in TRAIN_COLS}
        waits = []
        touched = 0.0
        consumer = 0.0
        nbytes = 0
        t_first = None
        with self.tr.span("export.iterate_batches"):
            t_req = time.perf_counter()
            for batch in iterate_batches(hooked, BATCH, TRAIN_COLS):
                t_got = time.perf_counter()
                if t_first is None:
                    t_first = t_got
                waits.append(t_got - t_req)
                touched += float(batch["qty2"].sum()) + float(batch["l_extendedprice"].sum())
                for c in TRAIN_COLS:
                    cols[c].append(batch[c])
                    nbytes += batch[c].nbytes
                t_req = time.perf_counter()
                consumer += t_req - t_got
        self.touched = touched
        return cols, waits, consumer, nbytes, t_first

    def warm(self) -> None:
        """One untimed epoch cut to its first ``WARM_FETCHES`` fetches: it
        runs every stage, so the Python workers are forked and the code
        of each stage generated, at a fraction of an epoch's cost.  The
        settling epoch finishes the warm-up."""
        _, _, hooked = self._pipeline(WARM_EPOCH, fetches=WARM_FETCHES)
        cols, *_ = self._consume(hooked)
        if sum(len(a) for a in cols["row_id"]) != min(self.n, WARM_FETCHES * BATCH * FETCH_FACTOR):
            raise RuntimeError("warm-up epoch lost rows")

    def run(self) -> tuple[list[str], int]:
        """One timed epoch; returns (failed checks, operations attempted)."""
        epoch = self.epoch
        self.epoch += 1
        t0 = time.perf_counter()
        with self.tr.span("epoch", epoch=epoch):
            _, _, hooked = self._pipeline(epoch)
            cols, waits, consumer, nbytes, t_first = self._consume(hooked)
        elapsed = time.perf_counter() - t0
        arrays = {c: np.concatenate(v) if v else np.array([]) for c, v in cols.items()}
        codes = np.searchsorted(FLAGS, arrays["l_returnflag"]) if len(arrays["row_id"]) else np.array([])
        failed = checks.train_epoch(
            arrays["row_id"], arrays["qty2"], codes, len(waits), self.expect, self.prev_ids
        )
        self.prev_ids = arrays["row_id"]
        rec = {
            "seconds": elapsed,
            "rows": int(len(arrays["row_id"])),
            "first_batch_s": (t_first - t0) if t_first is not None else elapsed,
            "waits": waits,
            "consumer_s": consumer,
            "bytes": nbytes,
            "entropy": batch_entropy(codes, BATCH) if len(codes) else 0.0,
        }
        self.records.append(rec)
        if self.tr.enabled:
            self._probe(epoch)
        return failed, 1

    def _probe(self, epoch: int) -> None:
        with self.tr.span("probes", epoch=epoch):
            plan, planned, hooked = self._pipeline(epoch)
            costs = prefix_costs(
                self.tr,
                [
                    ("catalog.load_table", self.lineitem),
                    ("strategies.BlockShuffling", plan),
                    ("plans.with_batches", planned),
                    ("hooks.run_hook_pipeline", hooked),
                ],
            )
        for k, v in costs.items():
            self.layer.setdefault(k, []).append(v)

    def end_to_end(self) -> dict[str, float]:
        recs = self.records
        rows = sum(r["rows"] for r in recs)
        return {
            "samples_per_s": rows / sum(r["seconds"] for r in recs),
            "first_batch_s": median([r["first_batch_s"] for r in recs]),
            "batch_entropy_bits": float(np.mean([r["entropy"] for r in recs])),
            "bytes_per_sample": sum(r["bytes"] for r in recs) / rows,
        }

    def per_layer(self) -> dict[str, float]:
        recs = self.records
        waits = [w for r in recs for w in r["waits"]]
        p50, n = percentile(waits, 50)
        p999, _ = percentile(waits, 99.9)
        out = {k: median(v) for k, v in self.layer.items() if k.endswith(".exec_s")}
        out.update(
            {
                "export.iterate_batches.first_wait_s": median([r["waits"][0] for r in recs]),
                "export.iterate_batches.wait_s": median([sum(r["waits"]) for r in recs]),
                "export.iterate_batches.wait_p50_ms": p50 * 1e3,
                "export.iterate_batches.wait_p999_ms": p999 * 1e3,
                "export.iterate_batches.wait_samples": n,
                "consumer.self_s": median([r["consumer_s"] for r in recs]),
            }
        )
        return out


class ExportEpoch:
    """ClassBalancedSampling → with_batches → join back → Arrow fetch
    files written by the executors → 4 ranks read their round-robin
    share one after another."""

    name = "export_epoch"
    setups = TrainStream.setups
    settle_ops = 0  # see warm()

    @staticmethod
    def cores(nproc: int) -> int:
        return nproc

    def __init__(self, spark, tables, expect, seed: int, tracer: Tracer, work_dir: str):
        from scdataset_spark.operators.strategies import ClassBalancedSampling

        self.spark, self.tr, self.seed, self.expect = spark, tracer, seed, expect
        self.lineitem = tables["lineitem"].select(
            "row_id", "l_quantity", "l_extendedprice", "l_returnflag"
        )
        self.n = len(expect["l_quantity"])
        self.strategy = ClassBalancedSampling(
            label_col="l_returnflag", block_size=BLOCK, total_size=self.n
        )
        self.out_dir = os.path.join(work_dir, "fetches")
        self.epoch = 0
        self.records: list[dict] = []
        self.layer: dict[str, list[float]] = {}

    def _pipeline(self, epoch: int):
        from scdataset_spark.plans.plan import with_batches

        tr = self.tr
        plan = tr.call(
            "strategies.ClassBalancedSampling.plan",
            self.strategy.plan,
            self.lineitem.select("row_id", "l_returnflag"),
            seed=self.seed,
            epoch=epoch,
        )
        planned = tr.call("plans.with_batches", with_batches, plan, BATCH, FETCH_FACTOR)
        joined = tr.call(
            "catalog.fetch_join",
            lambda: planned.select("row_id", "pos", "fetch_id").join(self.lineitem, "row_id"),
        )
        return plan, planned, joined

    def _write_and_read(self, joined) -> tuple[dict, list[str]]:
        from scdataset_spark.pipeline.export import write_arrow_fetches

        tr = self.tr
        t0 = time.perf_counter()
        manifest = tr.call(
            "export.write_arrow_fetches", write_arrow_fetches, joined, self.out_dir, EXPORT_COLS
        )
        rows = manifest.collect()
        t_written = time.perf_counter()
        files = sorted(glob.glob(os.path.join(self.out_dir, "fetch_*.arrow")))
        nbytes = sum(os.path.getsize(f) for f in files)
        failed = checks.export_manifest(rows, files, self.n)
        with tr.span("reader"):
            ranks, t_first, read_s = read_ranks(files)
        return (
            {
                "write_s": t_written - t0,
                "first_batch_from_write_s": (t_written - t0) + t_first,
                "read_s": read_s,
                "files": len(files),
                "bytes": nbytes,
                "ranks": ranks,
            },
            failed,
        )

    def warm(self) -> None:
        """One untimed full-size epoch, as for ``train_stream``."""
        _, _, joined = self._pipeline(WARM_EPOCH)
        _, failed = self._write_and_read(joined)
        if failed:
            raise RuntimeError("warm-up export: " + "; ".join(failed))

    def run(self) -> tuple[list[str], int]:
        """One timed epoch; returns (failed checks, operations attempted)."""
        epoch = self.epoch
        self.epoch += 1
        t0 = time.perf_counter()
        with self.tr.span("epoch", epoch=epoch):
            _, _, joined = self._pipeline(epoch)
            t_plan = time.perf_counter() - t0
            res, failed = self._write_and_read(joined)
        failed += checks.export_ranks(res["ranks"], self.n)
        # per file, so that no batch spans two fetches
        per_file = [np.searchsorted(FLAGS, f) for r in res["ranks"] for f in r["flags"]]
        failed += checks.class_shares(np.concatenate(per_file), len(FLAGS))
        ents = np.concatenate([batch_entropies(c, BATCH) for c in per_file])
        self.records.append(
            {
                "seconds": t_plan + res["write_s"],
                "first_batch_s": t_plan + res["first_batch_from_write_s"],
                "rows": self.n,
                "entropy": float(np.mean(ents)),
                "bytes": res["bytes"],
                "files": res["files"],
                "read_s": res["read_s"],
            }
        )
        if self.tr.enabled:
            self._probe(epoch)
        return failed, 1 + res["files"] + WORLD

    def _probe(self, epoch: int) -> None:
        with self.tr.span("probes", epoch=epoch):
            plan, planned, joined = self._pipeline(epoch)
            costs = prefix_costs(
                self.tr,
                [
                    ("catalog.load_table", self.lineitem),
                    ("strategies.ClassBalancedSampling", plan),
                    ("plans.with_batches", planned),
                    ("catalog.fetch_join", joined),
                ],
            )
        for k, v in costs.items():
            self.layer.setdefault(k, []).append(v)

    def end_to_end(self) -> dict[str, float]:
        recs = self.records
        rows = sum(r["rows"] for r in recs)
        return {
            "samples_per_s": rows / sum(r["seconds"] for r in recs),
            "first_batch_s": median([r["first_batch_s"] for r in recs]),
            "batch_entropy_bits": float(np.mean([r["entropy"] for r in recs])),
            "bytes_per_sample": sum(r["bytes"] for r in recs) / rows,
        }

    def per_layer(self) -> dict[str, float]:
        recs = self.records
        out = {k: median(v) for k, v in self.layer.items() if k.endswith(".exec_s")}
        out.update(
            {
                "export.write_arrow_fetches.files": median([r["files"] for r in recs]),
                "export.write_arrow_fetches.bytes": median([r["bytes"] for r in recs]),
                "reader.read_s": median([r["read_s"] for r in recs]),
            }
        )
        return out


def read_ranks(files: list[str]) -> tuple[list[dict], float, float]:
    """Each of ``WORLD`` ranks, in turn, memory-maps its round-robin
    share of the fetch files (fetch_id % WORLD == rank) and slices them
    into numpy batches.  Returns per-rank results, the time to rank 0's
    first batch, and the total read time."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    t0 = time.perf_counter()
    t_first = None
    ranks = []
    by_fetch = sorted((int(os.path.basename(f)[len("fetch_") : -len(".arrow")]), f) for f in files)
    for r in range(WORLD):
        res = {"batches": 0, "flags": [], "unsorted": 0}
        for fetch_id, path in by_fetch:
            if fetch_id % WORLD != r:
                continue
            with pa.memory_map(path) as src:
                table = ipc.open_stream(src).read_all()
            cols = {c: table.column(c).to_numpy(zero_copy_only=False) for c in EXPORT_COLS}
            for lo in range(0, table.num_rows, BATCH):
                batch = {c: v[lo : lo + BATCH] for c, v in cols.items()}
                if t_first is None:
                    t_first = time.perf_counter() - t0
                res["batches"] += 1
            pos = cols["pos"]
            res["unsorted"] += int(pos.size > 1 and not np.all(pos[1:] > pos[:-1]))
            res["flags"].append(cols["l_returnflag"])
            del batch
        ranks.append(res)
    return ranks, (t_first if t_first is not None else 0.0), time.perf_counter() - t0


class CurateCorpus:
    """The curation flow of ``examples/curate_corpus.py`` with one action
    per stage boundary: the ingest gate, the cleaned-corpus parquet
    write, and the packing read-back.

    Traced, each step's cost comes from a second, untimed pass in which
    every step's output is materialized (``localCheckpoint``) before the
    next step starts: ``<step>.exec_s`` is the time from the previous
    step's end to this step's materialized output (eager jobs the step
    runs at call time included), ``<step>.rows_out`` its row count.
    Noop-writing each prefix instead would re-run every earlier step per
    prefix, and the frames the engine persists would make later prefixes
    cheaper than earlier ones.  No step here sizes its plan from input
    file bytes, which a checkpointed input would hide."""

    name = "curate_corpus"
    # a set-up here is a session restart and three table loads, about
    # 0.5 s: more of them steady their median at little cost
    setups = 7
    settle_ops = 0  # see warm()

    @staticmethod
    def cores(nproc: int) -> int:
        """All of them: a pass does enough parallel work that on half
        the cores it took 21 and 37 % longer in two paired runs, and sets
        of ten runs on all cores spread by 0.05 and 0.12 of their
        median."""
        return nproc

    def __init__(self, spark, tables, expect, seed: int, tracer: Tracer, work_dir: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.docs = tables["documents"]
        self.emb = tables["embeddings"]
        self.lang_code = expect["lang_code"]
        self.out = os.path.join(work_dir, "corpus.parquet")
        self.records: list[dict] = []
        self.layer: dict[str, list[float]] = {}
        self.n = len(self.lang_code)
        self.recorded = recorded_curation(seed)

    def _gate(self):
        from scdataset_spark.operators.quality import check_constraints, check_foreign_key

        def build():
            return check_constraints(
                self.docs,
                [
                    {"type": "not_null", "col": "doc_id"},
                    {"type": "unique", "col": "doc_id"},
                    {"type": "not_null", "col": "text"},
                    {"type": "min", "col": "n_chars", "bound": 0},
                    {"type": "accepted_values", "col": "lang", "values": list(map(str, LANGS))},
                ],
            ).unionByName(check_foreign_key(self.emb, "vec_id", self.docs, "doc_id"))

        return self.tr.call("quality.check_constraints", lambda: build().collect())

    def _clean(self, step=lambda name, df: df):
        """The cleaned corpus; ``step(name, df)`` sees each step's output
        and returns the frame the next step builds on."""
        from pyspark.sql import functions as F

        from scdataset_spark.operators import dedup as dd
        from scdataset_spark.operators import similarity as sim
        from scdataset_spark.operators import textanalysis as tx

        tr = self.tr
        docs = self.docs.select("doc_id", "text")
        scored = tr.call(
            "textanalysis.with_repetition_stats",
            lambda: tx.with_repetition_stats(tx.with_token_stats(docs)),
        )
        kept = scored.where((F.col("n_tokens") >= 5) & (F.col("dup_2gram_ratio") <= 0.5))
        kept = step("textanalysis.with_repetition_stats", kept.select("doc_id", "text"))
        fp = tr.call("textanalysis.with_fingerprint", tx.with_fingerprint, kept)
        canonical = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
        kept = step("textanalysis.with_fingerprint", kept.join(canonical.select("doc_id"), "doc_id", "left_semi"))
        sigs = dd.with_minhash(dd.with_shingles(kept), num_hashes=12)
        pairs = tr.call("dedup.lsh_candidate_pairs", dd.lsh_candidate_pairs, sigs, num_hashes=12, bands=4)
        pairs = step("dedup.lsh_candidate_pairs", pairs)
        comp = tr.call("dedup.connected_components", dd.connected_components, pairs)
        reps = comp.groupBy("component").agg(F.min("id").alias("doc_id"))
        dupes = comp.join(reps, comp.id == reps.doc_id, "left_anti").select(F.col("id").alias("doc_id"))
        kept = step("dedup.connected_components", kept.join(dupes, "doc_id", "left_anti"))
        cleaned = tr.call("dedup.remove_duplicate_spans", dd.remove_duplicate_spans, kept, k=5)
        kept = cleaned.where(F.col("clean_text") != "").select("doc_id", F.col("clean_text").alias("text"))
        kept = step("dedup.remove_duplicate_spans", kept)
        # decontamination: drop train docs sharing >= 5 3-grams with the eval split
        sh = tr.call("dedup.with_shingles", dd.with_shingles, kept).select(
            "doc_id", F.explode("shingles").alias("s")
        )
        ev = sh.where(F.col("doc_id") % 10 == 3).select("s").distinct()
        hits = (
            sh.where(F.col("doc_id") % 10 != 3)
            .join(ev, "s")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("shared"))
            .where(F.col("shared") >= 5)
            .select("doc_id")
        )
        kept = step("dedup.with_shingles", kept.join(hits, "doc_id", "left_anti"))
        sem = tr.call(
            "similarity.semantic_dedup",
            sim.semantic_dedup,
            self.emb,
            "vec_id",
            "embedding",
            n_clusters=8,
            threshold=0.98,
        )
        drop = sem.where(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
        return step("similarity.semantic_dedup", kept.join(drop, "doc_id", "left_anti"))

    def _pack(self, corpus):
        """(doc_id, window_id): documents packed in id order into
        2048-token context windows."""
        from pyspark.sql import functions as F

        from scdataset_spark.operators import textanalysis as tx
        from scdataset_spark.plans.plan import with_running_sum

        budgeted = tx.with_bpe_token_count(corpus).select("doc_id", "n_bpe")
        packed = self.tr.call(
            "plans.with_running_sum", with_running_sum, budgeted, "n_bpe", "doc_id", out="cum", buckets=16
        )
        return packed.select("doc_id", F.expr("(cum - n_bpe) div 2048").alias("window_id"))

    def _pass(self) -> tuple[dict, list[str]]:
        failed = checks.gate(self._gate())
        kept = self._clean()
        with self.tr.span("sink.parquet"):
            kept.write.mode("overwrite").parquet(self.out)
        pairs = sorted(self._pack(self.spark.read.parquet(self.out)).collect())
        ids = np.array([r["doc_id"] for r in pairs], dtype=np.int64)
        win = np.array([r["window_id"] for r in pairs], dtype=np.int64)
        res = {
            "survivors": int(ids.size),
            "windows": int(np.unique(win).size),
            "digest": hashlib.sha256(ids.tobytes()).hexdigest()[:16],
            "bytes": sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.out, "*.parquet"))),
        }
        if ids.size:
            # windows are contiguous runs of the id order: entropy per window
            cuts = np.flatnonzero(np.diff(win)) + 1
            ents = [batch_entropy(c, c.size) for c in np.split(self.lang_code[ids], cuts)]
            res["entropy"] = float(np.mean(ents))
        else:
            failed.append("curation kept no documents")
            res["entropy"] = 0.0
        return res, failed

    def warm(self) -> None:
        """Nothing: a curation pass is a batch job that pays its cold
        start (JIT, first-time code generation) on every run, so the
        timed pass is the process's first.  A warm-up pass would also
        cost as much as the pass itself: its time is fixed per-job
        overhead, not per-document work."""

    def run(self) -> tuple[list[str], int]:
        """One timed pass; returns (failed checks, 1).  The result must
        equal the one on record for the seed; the first correct result
        for a seed with none is recorded."""
        t0 = time.perf_counter()
        with self.tr.span("pass"):
            res, failed = self._pass()
        res["seconds"] = time.perf_counter() - t0
        got = {k: res[k] for k in ("survivors", "windows", "digest")}
        failed += checks.curation(got, self.recorded)
        if not failed and self.recorded is None:
            self.recorded = got
            record_curation(self.seed, got)
        self.records.append(res)
        if self.tr.enabled:
            self._probe()
        return failed, 1

    def _probe(self) -> None:
        costs: dict[str, float] = {}
        last = [time.perf_counter()]

        def step(name, df):
            with self.tr.span("probe." + name):
                df = df.localCheckpoint(eager=True)
            costs[f"{name}.exec_s"] = time.perf_counter() - last[0]
            costs[f"{name}.rows_out"] = df.count()
            last[0] = time.perf_counter()
            return df

        with self.tr.span("probes"):
            step("plans.with_running_sum", self._pack(self._clean(step)))
        for k, v in costs.items():
            self.layer.setdefault(k, []).append(v)

    def end_to_end(self) -> dict[str, float]:
        recs = self.records
        secs = sum(r["seconds"] for r in recs)
        return {
            "samples_per_s": self.n * len(recs) / secs,
            "first_batch_s": median([r["seconds"] for r in recs]),
            "batch_entropy_bits": float(np.mean([r["entropy"] for r in recs])),
            "bytes_per_sample": sum(r["bytes"] for r in recs) / sum(r["survivors"] for r in recs),
        }

    def per_layer(self) -> dict[str, float]:
        return {k: median(v) for k, v in self.layer.items()}


WORKLOADS = {w.name: w for w in (TrainStream, ExportEpoch, CurateCorpus)}
