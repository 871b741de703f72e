"""Statistical / invariant tests for the sampling strategies, mirroring
the reference test strategy (SURVEY.md §5): coverage-exactly-once,
intra-block order, seed reproducibility/divergence, weighted-draw
tolerance bands, class-balance bands, len==execution invariants.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from scdataset_spark.catalog import load_table
from scdataset_spark.operators.strategies import (
    BlockShuffling,
    BlockWeightedSampling,
    ClassBalancedSampling,
    Streaming,
)
from scdataset_spark.plans.plan import ddp_filter, exact_num_batches, with_batches, with_pos
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def li(spark):
    return load_table(spark, "lineitem", SF_DIR_SMALL)


class TestBlockShuffling:
    def test_full_coverage_exactly_once(self, spark, li):
        plan = BlockShuffling(block_size=64).plan(li, seed=7)
        n = li.count()
        assert plan.count() == n
        assert plan.select("row_id").distinct().count() == n
        # pos is a permutation of 0..n-1
        assert plan.agg(F.min("pos"), F.max("pos")).first() == (0, n - 1)

    def test_intra_block_order_preserved(self, spark, li):
        rows = (
            BlockShuffling(block_size=64)
            .plan(li, seed=7)
            .select("row_id", "pos")
            .orderBy("pos")
            .collect()
        )
        # the internal block_id column no longer leaks into the output
        # schema; lineitem row_id is dense, so the ORIGINAL block of a
        # row is simply row_id div block_size
        prev = {}
        for r in rows:
            block = r.row_id // 64
            if block in prev:
                assert r.row_id > prev[block], "intra-block order broken"
            prev[block] = r.row_id

    def test_seed_reproducible_and_divergent(self, spark, li):
        a = BlockShuffling(block_size=64).plan(li, seed=7).select("row_id", "pos")
        b = BlockShuffling(block_size=64).plan(li, seed=7).select("row_id", "pos")
        c = BlockShuffling(block_size=64).plan(li, seed=8).select("row_id", "pos")
        assert a.exceptAll(b).count() == 0
        assert a.exceptAll(c).count() > 0

    def test_epoch_changes_order(self, spark, li):
        a = BlockShuffling(block_size=64).plan(li, seed=7, epoch=0).select("row_id", "pos")
        b = BlockShuffling(block_size=64).plan(li, seed=7, epoch=1).select("row_id", "pos")
        assert a.exceptAll(b).count() > 0

    def test_drop_last_removes_remainder(self, spark, li):
        n = li.count()
        plan = BlockShuffling(block_size=64, drop_last=True).plan(li, seed=7)
        assert plan.count() == n - n % 64


class TestWeightedSampling:
    def test_skewed_weights_band(self, spark, li):
        """>80% of draws from the heavy half (reference
        tests/test_strategy.py:271-284 band)."""
        half = li.count() // 2
        base = li.withColumn(
            "w", F.when(F.col("row_id") <= F.lit(half * 10 + 7), 9.0).otherwise(1.0)
        )
        # row_id = okey*10+lnum; approximate half split by median row_id
        med = base.approxQuantile("row_id", [0.5], 0.01)[0]
        base = li.withColumn("w", F.when(F.col("row_id") <= med, 9.0).otherwise(1.0))
        drawn = (
            BlockWeightedSampling(block_size=64, weight_col="w", total_size=2000)
            .plan(base, seed=3)
            .join(base.select("row_id", "w"), "row_id")
        )
        heavy = drawn.where(F.col("w") > 1.0).count()
        assert heavy / 2000 > 0.8

    def test_without_replacement_no_dup_within_round(self, spark):
        cust = load_table(spark, "customer", SF_DIR_SMALL).withColumn(
            "w", (F.col("c_custkey") % 97 + 1).cast("double")
        )
        strat = BlockWeightedSampling(
            block_size=16, weight_col="w", total_size=120, replace=False, sampling_size=60
        )
        drawn = strat.plan(cust, seed=3)
        assert drawn.count() == 120
        # reconstruct rounds via draw_id rounds: draw_id column holds round
        per_round = drawn.groupBy("draw_id", "row_id").count()
        assert per_round.where(F.col("count") > 1).count() == 0


class TestClassBalanced:
    def test_balance_band(self, spark):
        """Sampled class ratio ≈ uniform within [0.8, 1.2]× the ideal
        (reference tests/test_strategy.py:543-594 band)."""
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        strat = ClassBalancedSampling(
            label_col="c_mktsegment", block_size=32, total_size=3000
        )
        drawn = strat.plan(cust, seed=5).join(
            cust.select("row_id", "c_mktsegment"), "row_id"
        )
        counts = [r["count"] for r in drawn.groupBy("c_mktsegment").count().collect()]
        ideal = 3000 / len(counts)
        for c in counts:
            assert 0.8 * ideal <= c <= 1.2 * ideal

    def test_weight_flooring_to_zero_raises(self, spark):
        """A class larger than ``weight_scale`` would get weight 0 and
        never be drawn while the others are; the plan raises when it
        runs instead."""
        cust = load_table(spark, "customer", SF_DIR_SMALL)
        smallest, largest = cust.groupBy("c_mktsegment").count().agg(F.min("count"), F.max("count")).first()
        assert smallest < largest
        strat = ClassBalancedSampling(
            label_col="c_mktsegment", block_size=8, total_size=100, weight_scale=largest - 1
        )
        drawn = strat.plan(cust, seed=5)  # lazy: no job yet
        with pytest.raises(Exception, match="class weight floors to 0"):
            drawn.count()


class TestExactLen:
    @pytest.mark.parametrize(
        "n,batch,ff,drop,world",
        [
            (6005, 32, 4, False, 1),
            (6005, 32, 4, True, 1),
            (6005, 32, 4, True, 2),
            (6005, 32, 4, False, 3),
            (100, 7, 3, True, 4),
            (100, 7, 3, False, 4),
            (5, 7, 3, False, 4),   # fewer rows than one batch; empty ranks
            (5, 7, 3, True, 4),
            (0, 8, 2, False, 2),   # empty collection
        ],
    )
    def test_len_equals_execution(self, spark, n, batch, ff, drop, world):
        df = spark.range(n).withColumnRenamed("id", "row_id")
        plan = with_batches(
            with_pos(df), batch_size=batch, fetch_factor=ff, drop_last=drop
        )
        for rank in range(world):
            executed = (
                ddp_filter(plan, world, rank).select("batch_id").distinct().count()
            )
            assert executed == exact_num_batches(n, batch, ff, drop, world, rank), (
                f"rank {rank}"
            )

    def test_ranks_partition_batches_disjoint_complete(self, spark):
        """Reference invariant: every batch on exactly one rank
        (tests/test_scdataset.py:740-795)."""
        df = spark.range(6005).withColumnRenamed("id", "row_id")
        plan = with_batches(with_pos(df), batch_size=32, fetch_factor=4)
        world = 3
        parts = [
            set(r.batch_id for r in ddp_filter(plan, world, rk).select("batch_id").distinct().collect())
            for rk in range(world)
        ]
        allb = set(r.batch_id for r in plan.select("batch_id").distinct().collect())
        assert set.union(*parts) == allb
        for i in range(world):
            for j in range(i + 1, world):
                assert not parts[i] & parts[j]


class TestScalablePos:
    def test_bucketed_pos_matches_window_pos(self, spark, li):
        a = with_pos(li.select("row_id"), buckets=None).orderBy("row_id").collect()
        b = with_pos(li.select("row_id"), buckets=8).orderBy("row_id").collect()
        assert [(r.row_id, r.pos) for r in a] == [(r.row_id, r.pos) for r in b]


class TestStreamingSubset:
    def test_subset_predicate(self, spark, li):
        plan = Streaming(where="l_returnflag = 'R'").plan(li, seed=1)
        n = li.where("l_returnflag = 'R'").count()
        assert plan.count() == n
        assert plan.agg(F.max("pos")).first()[0] == n - 1


class TestApproxSketches:
    def test_sketches_within_error_bands(self, spark):
        """HLL++ (rsd=2%) and quantile summaries (accuracy 10000) must
        land within their documented bounds of the exact answers — the
        query now emits that contract directly as ``distinct_ok`` /
        ``median_ok`` booleans next to the oracle-matched exact values."""
        from scdataset_spark.queries import REGISTRY

        rows = REGISTRY["g7_approx_sketches"].fn(spark, SF_DIR_SMALL).collect()
        assert rows, "no groups returned"
        li = load_table(spark, "lineitem", SF_DIR_SMALL)
        exact = {
            r.l_returnflag: r
            for r in li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("nd"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {r.l_returnflag for r in rows} == set(exact)
        for a in rows:
            assert a.exact_parts == exact[a.l_returnflag].nd
            assert a.n == exact[a.l_returnflag].n
            assert a.distinct_ok and a.median_ok, a


class TestMixtureSampling:
    def test_proportions_within_band(self, spark):
        """Drawn mixture ≈ requested 50/30/20 within ±8 points; unlisted
        sources never appear."""
        from scdataset_spark.operators.strategies import MixtureSampling

        docs = load_table(spark, "documents", SF_DIR_SMALL)
        strat = MixtureSampling(
            source_col="source",
            proportions_ppm={"src0": 500_000, "src1": 300_000, "src2": 200_000},
            block_size=16,
            total_size=2000,
        )
        drawn = strat.plan(docs, seed=11).join(
            docs.select("row_id", "source"), "row_id"
        )
        shares = {
            r["source"]: r["count"] / 2000
            for r in drawn.groupBy("source").count().collect()
        }
        assert set(shares) == {"src0", "src1", "src2"}
        for src, want in (("src0", 0.5), ("src1", 0.3), ("src2", 0.2)):
            assert abs(shares[src] - want) < 0.08, (src, shares)

    def test_validation(self, spark):
        from scdataset_spark.operators.strategies import MixtureSampling

        with pytest.raises(ValueError, match="proportions_ppm is required"):
            MixtureSampling(source_col="source")
        with pytest.raises(ValueError, match="positive"):
            MixtureSampling(source_col="source", proportions_ppm={"a": -1})
