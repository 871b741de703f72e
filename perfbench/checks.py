"""Correctness checks.  Each returns the list of failed checks as
one-line messages; an empty list means the operation was correct."""

from __future__ import annotations

import numpy as np

BATCH = 64
FETCH_FACTOR = 256
WORLD = 4


def train_epoch(row_id, qty2, codes, n_batches: int, expect: dict, prev_ids) -> list[str]:
    """One ``train_stream`` epoch: a permutation of every row_id, the
    closed-form batch count, ``qty2 == 2 * l_quantity`` on every row, the
    label travelling with its row, and an order that differs from the
    previous epoch's."""
    from scdataset_spark.plans.plan import exact_num_batches

    n = len(expect["l_quantity"])
    row_id = np.asarray(row_id, dtype=np.int64)
    failed = []
    if row_id.size != n or not np.array_equal(np.sort(row_id), np.arange(n)):
        return [f"epoch is not a permutation of the {n} row_ids ({row_id.size} delivered)"]
    want = exact_num_batches(n, BATCH, FETCH_FACTOR)
    if n_batches != want:
        failed.append(f"{n_batches} batches, exact_num_batches gives {want}")
    if not np.array_equal(np.asarray(qty2), 2.0 * expect["l_quantity"][row_id]):
        failed.append("qty2 != 2 * l_quantity on some row")
    if not np.array_equal(np.asarray(codes), expect["flag_code"][row_id]):
        failed.append("l_returnflag does not match its row")
    if prev_ids is not None and np.array_equal(prev_ids, row_id):
        failed.append("epoch order repeats the previous epoch")
    return failed


def export_manifest(rows, files: list[str], total: int) -> list[str]:
    """The manifest covers exactly the files on disk and ``total`` rows."""
    failed = []
    n_rows = sum(int(r["n_rows"]) for r in rows)
    if n_rows != total:
        failed.append(f"manifest n_rows sums to {n_rows}, expected {total}")
    if sorted(r["path"] for r in rows) != sorted(files):
        failed.append("manifest paths differ from the fetch files on disk")
    return failed


def export_ranks(ranks: list[dict], total: int) -> list[str]:
    """Every fetch file is pos-sorted and each rank reads exactly
    ``exact_num_batches(total, ..., world_size, rank)`` batches."""
    from scdataset_spark.plans.plan import exact_num_batches

    failed = []
    for r, res in enumerate(ranks):
        if res["unsorted"]:
            failed.append(f"rank {r}: {res['unsorted']} fetch files not pos-sorted")
        want = exact_num_batches(total, BATCH, FETCH_FACTOR, world_size=WORLD, rank=r)
        if res["batches"] != want:
            failed.append(f"rank {r}: {res['batches']} batches, exact_num_batches gives {want}")
    return failed


def class_shares(codes, n_classes: int, tol: float = 0.01) -> list[str]:
    """Class-balanced draws: every class share within ``tol`` of uniform,
    or within 4 binomial standard errors on a sample too small for
    ``tol`` to be one (600,000 draws: 0.0024; 6,000 draws: 0.024)."""
    codes = np.asarray(codes)
    if codes.size == 0:
        return ["no rows drawn"]
    p = 1.0 / n_classes
    tol = max(tol, 4.0 * np.sqrt(p * (1 - p) / codes.size))
    share = np.bincount(codes, minlength=n_classes) / codes.size
    off = np.abs(share - p)
    if off.max() > tol:
        return [f"class shares {np.round(share, 4).tolist()} off uniform by {off.max():.4f}"]
    return []


def gate(report) -> list[str]:
    """The ingest gate passes every check."""
    return [f"gate check {r['check_name']} failed" for r in report if not r["passed"]]


def curation(got: dict, recorded: dict | None) -> list[str]:
    """Survivor count, window count and survivor-id digest equal the
    result on record for the seed, when there is one."""
    if recorded is None or got == recorded:
        return []
    return [f"curation result {got} != recorded {recorded}"]
