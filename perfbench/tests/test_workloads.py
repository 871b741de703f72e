"""Every workload, one operation each, on a tiny seeded input (lineitem
at sf0.001 scale: 6,000 rows), traced: the correctness checks pass and
each workload's layers show up in its spans and nowhere else."""

import os

import pytest

from perfbench import child, fixture, metrics
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS

SEED = 12_345  # not in curation_expected.json, whose records are for full-size inputs


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    from scdataset_spark.catalog import ensure_ingested, load_table
    from scdataset_spark.session import get_spark

    root = tmp_path_factory.mktemp("perfbench")
    li, corpus = str(root / "lineitem"), str(root / "corpus")
    fixture.write_lineitem(li, fixture.TINY.lineitem_rows)
    fixture.write_corpus(corpus, SEED, fixture.TINY)
    child.INGEST_ROOT = str(root / "ingest")
    child.rebase_ingest_cache()
    spark = get_spark("perfbench-tests", shuffle_partitions=2)
    ensure_ingested(spark, li, tables=child.INGESTED)
    assert child.cache_ready(spark, li)
    tables = {
        "lineitem": load_table(spark, "lineitem", li),
        "documents": load_table(spark, "documents", corpus, with_row_id=False),
        "embeddings": load_table(spark, "embeddings", corpus, with_row_id=False),
    }
    yield spark, tables, fixture.load_expect(li, corpus), root
    spark.stop()


def run_once(env, name):
    spark, tables, expect, root = env
    tr = Tracer(spark, enabled=True)
    work_dir = str(root / name)
    os.makedirs(work_dir, exist_ok=True)
    wl = WORKLOADS[name](spark, tables, expect, SEED, tr, work_dir)
    failed, attempted = wl.run()
    assert failed == [] and attempted >= 1
    e2e = wl.end_to_end()
    assert set(e2e) == set(metrics.END_TO_END) - {"setup_s", "peak_rss_mb"}
    assert all(v > 0 for v in e2e.values())
    layer = metrics.per_layer(tr.summary(), wl.per_layer())
    assert set(layer) == set(metrics.PER_LAYER)
    return wl, layer


def test_train_stream(env):
    wl, layer = run_once(env, "train_stream")
    assert wl.records[0]["rows"] == fixture.TINY.lineitem_rows
    assert layer["export.iterate_batches.jobs"] > 0
    assert layer["export.iterate_batches.wait_samples"] == wl.records[0]["rows"] // 64 + 1
    assert layer["export.write_arrow_fetches.wall_s"] == 0
    assert layer["dedup.connected_components.wall_s"] == 0


def test_export_epoch(env):
    wl, layer = run_once(env, "export_epoch")
    assert layer["export.write_arrow_fetches.files"] == 1
    assert layer["export.write_arrow_fetches.jobs"] > 0
    assert layer["export.iterate_batches.wall_s"] == 0
    assert layer["hooks.run_hook_pipeline.wall_s"] == 0


def test_curate_corpus(env, monkeypatch, tmp_path):
    monkeypatch.setattr("perfbench.metrics.ROOT", str(tmp_path))  # keep the record out of the checkout
    wl, layer = run_once(env, "curate_corpus")
    assert 0 < wl.records[0]["survivors"] < fixture.TINY.documents
    # the first result became the record; a second pass must reproduce it
    assert wl.recorded["survivors"] == wl.records[0]["survivors"]
    assert wl.run() == ([], 1)
    wl.recorded = {**wl.recorded, "windows": wl.recorded["windows"] + 1}
    assert wl.run()[0]
    assert layer["dedup.connected_components.jobs"] > 0
    assert layer["textanalysis.with_repetition_stats.rows_out"] < fixture.TINY.documents
    assert layer["export.iterate_batches.wall_s"] == 0
