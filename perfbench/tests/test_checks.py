"""The correctness checkers: each must pass a correct result and flag
the defect it exists for."""

import numpy as np

from perfbench import checks
from perfbench.checks import BATCH, FETCH_FACTOR, WORLD


def expect(n, seed=0):
    rng = np.random.default_rng(seed)
    return {"l_quantity": rng.integers(1, 51, n).astype(float), "flag_code": rng.integers(0, 3, n)}


def epoch(ex, seed=1):
    n = len(ex["l_quantity"])
    ids = np.random.default_rng(seed).permutation(n)
    n_batches = -(-n // BATCH)  # one fetch when n <= BATCH * FETCH_FACTOR
    return ids, 2.0 * ex["l_quantity"][ids], ex["flag_code"][ids], n_batches


def test_train_epoch_accepts_a_correct_epoch():
    ex = expect(1000)
    assert checks.train_epoch(*epoch(ex), ex, prev_ids=None) == []


def test_train_epoch_flags_lost_duplicated_and_wrong_rows():
    ex = expect(1000)
    ids, qty2, codes, nb = epoch(ex)
    dup = ids.copy()
    dup[0] = dup[1]
    assert checks.train_epoch(dup, qty2, codes, nb, ex, None)
    assert checks.train_epoch(ids[:-1], qty2[:-1], codes[:-1], nb, ex, None)
    bad = qty2.copy()
    bad[5] += 1
    assert checks.train_epoch(ids, bad, codes, nb, ex, None)
    assert checks.train_epoch(ids, qty2, (codes + 1) % 3, nb, ex, None)
    assert checks.train_epoch(ids, qty2, codes, nb + 1, ex, None)
    assert checks.train_epoch(ids, qty2, codes, nb, ex, prev_ids=ids.copy())


def test_export_manifest():
    rows = [{"n_rows": 10, "path": "a"}, {"n_rows": 5, "path": "b"}]
    assert checks.export_manifest(rows, ["b", "a"], 15) == []
    assert checks.export_manifest(rows, ["a", "b"], 16)
    assert checks.export_manifest(rows, ["a"], 15)


def test_export_ranks():
    from scdataset_spark.plans.plan import exact_num_batches

    total = 3 * BATCH * FETCH_FACTOR + 100
    good = [
        {"unsorted": 0, "batches": exact_num_batches(total, BATCH, FETCH_FACTOR, world_size=WORLD, rank=r)}
        for r in range(WORLD)
    ]
    assert checks.export_ranks(good, total) == []
    off = [dict(r) for r in good]
    off[3]["batches"] += 1
    assert checks.export_ranks(off, total)
    unsorted = [dict(r) for r in good]
    unsorted[0]["unsorted"] = 1
    assert checks.export_ranks(unsorted, total)


def test_class_shares():
    assert checks.class_shares(np.repeat([0, 1, 2], 200_000), 3) == []
    skewed = np.concatenate([np.zeros(210_000, int), np.ones(195_000, int), np.full(195_000, 2)])
    assert checks.class_shares(skewed, 3)
    # a small sample is held to its binomial spread, not to 1 %
    rng = np.random.default_rng(0)
    assert checks.class_shares(rng.integers(0, 3, 6_000), 3) == []
    assert checks.class_shares(np.zeros(6_000, int), 3)


def test_gate_and_curation():
    assert checks.gate([{"check_name": "x", "passed": True}]) == []
    assert checks.gate([{"check_name": "x", "passed": False}])
    res = {"survivors": 10, "windows": 2, "digest": "ab"}
    assert checks.curation(res, None) == []
    assert checks.curation(res, dict(res)) == []
    assert checks.curation(res, {**res, "windows": 3})
