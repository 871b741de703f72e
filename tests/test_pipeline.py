"""MultiIndexable container, batch export, hook pipeline drop_last."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.strategies import BlockShuffling, Streaming
from scdataset_spark.pipeline.export import iterate_batches
from scdataset_spark.pipeline.hooks import run_hook_pipeline
from scdataset_spark.pipeline.multiindexable import MultiIndexable
from scdataset_spark.plans.plan import with_batches
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def zipped(spark):
    d = load_table(spark, "documents", SF_DIR_SMALL)
    e = load_table(spark, "embeddings", SF_DIR_SMALL, with_row_id=False)
    df = d.join(e, d.doc_id == e.vec_id).select("row_id", "text", "embedding", "label")
    return df


class TestMultiIndexable:
    def test_ctor_forms_and_dict_api(self, zipped):
        mi = MultiIndexable(zipped, ["text", "embedding", "label"])
        assert mi.keys() == ["text", "embedding", "label"]
        assert len(mi) == 3
        assert "embedding" in mi and "nope" not in mi
        named = MultiIndexable(zipped, {"txt": "text", "vec": "embedding"})
        assert named.keys() == ["txt", "vec"]
        auto = MultiIndexable(zipped)  # all non-id columns
        assert set(auto.keys()) == {"text", "embedding", "label"}

    def test_validation_errors(self, zipped):
        with pytest.raises(ValueError, match="not in DataFrame"):
            MultiIndexable(zipped, ["missing_modality"])
        with pytest.raises(ValueError, match="id column"):
            MultiIndexable(zipped.drop("row_id"), ["text"])

    def test_projection_positional_and_named(self, zipped):
        mi = MultiIndexable(zipped, ["text", "embedding"])
        by_name = mi["embedding"]
        by_pos = mi[1]
        assert by_name.columns == ["row_id", "embedding"]
        assert by_pos.columns == ["row_id", "embedding"]

    def test_synchronized_subset_carries_unstructured(self, zipped):
        meta = {"gene_names": ["a", "b"], "source": "test"}
        mi = MultiIndexable(zipped, ["text", "label"], unstructured=meta)
        sub = mi.subset(F.col("label") < 3)
        assert sub.unstructured == meta
        n = sub.to_df().count()
        # every modality sees the same rows — single frame by construction
        assert sub["text"].count() == n
        assert sub["label"].count() == n
        assert n < mi.to_df().count()


class TestExport:
    def test_exact_batches_in_plan_order(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(Streaming().plan(li, seed=42), batch_size=256, fetch_factor=4)
        batches = list(iterate_batches(planned, 256, ["row_id", "l_quantity"]))
        n = li.count()
        assert sum(len(b["row_id"]) for b in batches) == n
        assert all(len(b["row_id"]) == 256 for b in batches[:-1])
        flat = np.concatenate([b["row_id"] for b in batches])
        assert (np.diff(flat) > 0).all()  # Streaming yields ascending row_id

    def test_drop_last(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(Streaming().plan(li, seed=42), batch_size=256, fetch_factor=4)
        batches = list(iterate_batches(planned, 256, ["row_id"], drop_last=True))
        assert all(len(b["row_id"]) == 256 for b in batches)

    # -- parity with the per-row implementation the Arrow hand-off
    # replaced: same values, same dtypes, batch by batch

    @staticmethod
    def _row_oracle(planned, batch_size, columns, order_col="pos", drop_last=False):
        df = planned.select(order_col, *columns).orderBy(order_col)
        buf = []
        for row in df.toLocalIterator():
            buf.append(tuple(row[c] for c in columns))
            if len(buf) == batch_size:
                yield {c: np.array([r[i] for r in buf]) for i, c in enumerate(columns)}
                buf = []
        if buf and not drop_last:
            yield {c: np.array([r[i] for r in buf]) for i, c in enumerate(columns)}

    def _assert_parity(self, planned, batch_size, columns, **kw):
        got = list(iterate_batches(planned, batch_size, columns, **kw))
        want = list(self._row_oracle(planned, batch_size, columns, **kw))
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert list(g) == list(w)
            for c in w:
                assert g[c].dtype == w[c].dtype, c
                assert g[c].tolist() == w[c].tolist(), c
        return got

    def test_parity_string_int_double(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(BlockShuffling(block_size=16).plan(li, seed=3), batch_size=100, fetch_factor=4)
        got = self._assert_parity(planned, 100, ["row_id", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"])
        assert got[0]["l_returnflag"].dtype.kind == "U"

    def test_parity_columns_include_order_col(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(Streaming().plan(li, seed=1), batch_size=64, fetch_factor=2)
        self._assert_parity(planned, 64, ["pos", "row_id", "pos"])

    def test_parity_nullable_and_other_types(self, spark):
        df = spark.range(300).select(
            F.col("id").alias("pos"),
            F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id")).alias("maybe_int"),
            F.when(F.col("id") % 5 == 0, None).otherwise(F.concat(F.lit("s"), F.col("id").cast("string"))).alias("maybe_str"),
            F.col("id").cast("int").alias("i32"),
            F.col("id").cast("float").alias("f32"),
            (F.col("id") % 2 == 0).alias("flag"),
            F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias("day"),
            F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
            F.col("id").cast("decimal(12,2)").alias("dec"),
            F.array(F.col("id").cast("double"), F.lit(0.5)).alias("vec"),
            F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
            F.create_map(F.lit("k"), F.col("id")).alias("mp"),
        )
        cols = ["maybe_int", "maybe_str", "i32", "f32", "flag", "day", "ts", "dec", "vec", "st", "mp"]
        got = self._assert_parity(df.repartition(3), 64, cols)
        assert got[0]["maybe_int"].dtype == object

    def test_parity_empty_input_yields_nothing(self, spark):
        df = spark.range(0).select(F.col("id").alias("pos"), F.col("id").alias("row_id"))
        assert self._assert_parity(df, 8, ["row_id"]) == []

    def test_parity_across_partition_and_record_batch_boundaries(self, spark):
        # 37 partitions of ~81 rows and 50-row Arrow record batches: most
        # 64-row batches take rows from two record batches or partitions
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        before = spark.conf.get(key)
        spark.conf.set(key, "50")
        try:
            df = spark.range(0, 3000, 1, 37).select(
                ((F.col("id") * 7919) % 3001).alias("pos"), (F.col("id") * 0.5).alias("x")
            )
            got = self._assert_parity(df, 64, ["pos", "x"])
        finally:
            spark.conf.set(key, before)
        assert sum(len(b["pos"]) for b in got) == 3000

    def test_parity_drop_last(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(BlockShuffling(block_size=8).plan(li, seed=9), batch_size=100, fetch_factor=3)
        got = self._assert_parity(planned, 100, ["row_id", "l_discount"], drop_last=True)
        assert li.count() // 100 == len(got)


class TestExportHandOff:
    def _hooked(self, spark, acc):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(BlockShuffling(block_size=16).plan(li, seed=2), batch_size=32, fetch_factor=4)

        def fetch_transform(pdf):
            acc.add(len(pdf))
            return pdf

        return run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint",
            batch_size=32,
            fetch_transform=fetch_transform,
        )

    def test_hook_stage_runs_once_per_epoch(self, spark):
        acc = spark.sparkContext.accumulator(0)
        delivered = sum(len(b["row_id"]) for b in iterate_batches(self._hooked(spark, acc), 32, ["row_id"]))
        assert delivered == load_table(spark, "lineitem", SF_DIR_SMALL).count()
        assert acc.value == delivered

    def test_early_close_leaks_no_job(self, spark):
        import time

        sc = spark.sparkContext
        gen = iterate_batches(self._hooked(spark, sc.accumulator(0)), 32, ["row_id"])
        for batch in gen:
            assert len(batch["row_id"]) == 32
            break
        gen.close()
        deadline = time.monotonic() + 60
        while list(sc.statusTracker().getActiveJobsIds()) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert list(sc.statusTracker().getActiveJobsIds()) == []


class TestHookOrder:
    """T1-T4 execution order per reference docs/source/transforms.rst:39-63:
    fetch_transform -> batch_callback (extraction) -> batch_transform."""

    def test_batch_callback_order_and_contract(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=42).select("row_id", "pos"),
            batch_size=32,
            fetch_factor=4,
        )

        def fetch_transform(pdf):
            pdf = pdf.copy()
            pdf["trace"] = "F"
            return pdf

        def batch_callback(fetch_pdf, batch_indices):
            # reference scdataset.py:550-554: receives the WHOLE fetch
            # + positional indices, returns the extracted batch
            batch = fetch_pdf.iloc[batch_indices].copy()
            batch["trace"] = batch["trace"] + ">C"
            batch["fetch_len"] = len(fetch_pdf)
            return batch

        def batch_transform(batch):
            batch = batch.copy()
            batch["trace"] = batch["trace"] + ">B"
            return batch

        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint, trace string, fetch_len bigint",
            batch_size=32,
            fetch_transform=fetch_transform,
            batch_callback=batch_callback,
            batch_transform=batch_transform,
        ).collect()

        n = li.count()
        assert len(out) == n  # extraction covers every row exactly once
        assert {r["trace"] for r in out} == {"F>C>B"}
        # every full fetch is batch_size*fetch_factor rows; the last may
        # be partial — batch_callback must have seen the whole fetch
        full, partial = 128, n % 128
        assert {r["fetch_len"] for r in out} <= {full, partial} - {0}

    def test_batch_callback_can_reorder(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=1).select("row_id", "pos"),
            batch_size=64,
            fetch_factor=2,
        )

        def reversed_batches(fetch_pdf, batch_indices):
            return fetch_pdf.iloc[batch_indices[::-1]]

        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint",
            batch_size=64,
            batch_callback=reversed_batches,
        )
        rows = sorted(out.collect(), key=lambda r: r["pos"])
        assert len(rows) == li.count()
        # same coverage, custom extraction order inside each batch
        assert [r["pos"] for r in rows] == list(range(len(rows)))


class TestSortBeforeFetch:
    def test_fetch_callback_sees_row_id_sorted_frame(self, spark):
        """O8/reference scdataset.py:224: the external-store fetch gets
        row_id-ASCENDING indices (sequential I/O), while the output
        stays in the strategy's pos order."""
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            BlockShuffling(block_size=32).plan(li, seed=9).select("row_id", "pos"),
            batch_size=32,
            fetch_factor=4,
        )

        def fetch_callback(pdf):
            assert (pdf["row_id"].diff().dropna() > 0).all(), "fetch not sorted"
            pdf = pdf.copy()
            pdf["fetched"] = pdf["row_id"] * 2
            return pdf

        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint, fetched bigint",
            batch_size=32,
            fetch_callback=fetch_callback,
        )
        rows = out.orderBy("pos").collect()
        assert len(rows) == li.count()
        assert all(r["fetched"] == 2 * r["row_id"] for r in rows)
        # output order is the strategy's pos order, not fetch order
        assert [r["pos"] for r in rows] == sorted(r["pos"] for r in rows)


class TestHookDropLast:
    def test_per_fetch_drop_last(self, spark):
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=42).select("row_id", "pos"),
            batch_size=32,
            fetch_factor=4,
        )
        out = run_hook_pipeline(
            planned.select("row_id", "pos", "fetch_id"),
            "row_id bigint, pos bigint, fetch_id bigint",
            batch_size=32,
            drop_last=True,
        )
        n = li.count()
        # per-fetch drop: only the trailing partial batch of the last
        # (partial) fetch disappears
        expected = (n // 128) * 128 + ((n % 128) // 32) * 32
        assert out.count() == expected


class TestArrowExport:
    def test_arrow_fetch_files_roundtrip(self, spark, tmp_path):
        import os

        import pyarrow.ipc as ipc

        from scdataset_spark.pipeline.export import write_arrow_fetches

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        planned = with_batches(
            Streaming().plan(li, seed=4), batch_size=64, fetch_factor=8
        )
        out = str(tmp_path / "arrow_epoch")
        manifest = write_arrow_fetches(
            planned, out, columns=["row_id", "l_quantity"]
        ).collect()
        n_fetches = planned.select("fetch_id").distinct().count()
        assert len(manifest) == n_fetches
        assert sum(m["n_rows"] for m in manifest) == li.count()
        # every file is a readable IPC stream, pos-ordered rows
        total = 0
        for m in sorted(manifest, key=lambda m: m["fetch_id"]):
            assert os.path.exists(m["path"])
            with ipc.open_stream(m["path"]) as r:
                t = r.read_all()
            assert t.num_rows == m["n_rows"]
            rid = t.column("row_id").to_pylist()
            assert rid == sorted(rid)  # Streaming: pos order == row_id order
            total += t.num_rows
        assert total == li.count()


class TestShuffleWithinFetch:
    """shuffle_within_fetch (reference _shuffle_before_yield,
    scdataset.py:533-548): the fetched buffer is permuted before batch
    slicing.  Invariants beyond the o18 oracle's row-level check."""

    def test_permutes_within_fetch_only(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import Streaming
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1)
        plain = with_batches(base, batch_size=8, fetch_factor=4)
        shuf = with_batches(
            base, batch_size=8, fetch_factor=4, shuffle_within_fetch=True, seed=5
        )
        a = {r.row_id: (r.fetch_id, r.pos) for r in plain.collect()}
        b = {r.row_id: (r.fetch_id, r.pos) for r in shuf.collect()}
        assert a.keys() == b.keys()
        # same fetch for every row (permutation is fetch-local) ...
        assert all(a[k][0] == b[k][0] for k in a)
        # ... but the order inside fetches genuinely changed
        assert any(a[k][1] != b[k][1] for k in a)
        # pos stays a dense permutation of 0..n-1
        assert sorted(p for _, p in b.values()) == list(range(len(b)))

    def test_drop_last_composes(self, spark):
        """Per-fetch drop_last must act on the POST-shuffle batch ids:
        every surviving batch is full, and the kept count matches the
        plain variant (drop_last drops the same number of trailing
        rows per fetch regardless of the permutation)."""
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import Streaming
        from pyspark.sql import functions as F
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1)
        kwargs = dict(batch_size=7, fetch_factor=3, drop_last=True)
        plain = with_batches(base, **kwargs)
        shuf = with_batches(base, shuffle_within_fetch=True, seed=9, **kwargs)
        sizes = shuf.groupBy("batch_id").count().select("count").distinct().collect()
        assert [r["count"] for r in sizes] == [7]
        assert shuf.count() == plain.count()

    def test_deterministic_per_seed(self, spark):
        from scdataset_spark.catalog import load_table
        from scdataset_spark.operators.strategies import Streaming
        from tests.conftest import SF_DIR_SMALL

        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        base = Streaming(assume_dense=True).plan(li, seed=1)
        one = with_batches(base, batch_size=8, fetch_factor=4,
                           shuffle_within_fetch=True, seed=5)
        two = with_batches(base, batch_size=8, fetch_factor=4,
                           shuffle_within_fetch=True, seed=5)
        other = with_batches(base, batch_size=8, fetch_factor=4,
                             shuffle_within_fetch=True, seed=6)
        assert one.collect() == two.collect()
        assert one.collect() != other.collect()
