"""Batch export to an ML trainer (S7, reference ``scdataset.py:538-561``).

Two export paths:

- ``iterate_batches``: driver-side iterator yielding exact
  ``batch_size`` dicts of numpy arrays in plan order.  The sorted plan
  reaches the driver as Arrow record batches, one partition at a time
  (nothing is collected whole, no per-row Python objects), and the
  upstream — hook stage included — is evaluated once per call.  The
  reference's DataLoader-yield analogue; fine for single-consumer
  training loops.

- ``write_epoch_plan``: the scale path.  Materializes one epoch as
  parquet partitioned by ``fetch_id`` with rows sorted by ``pos``
  inside each fetch — trainers (one or many ranks) then read their
  round-robin share of fetch files directly, which is exactly the
  reference's rank/worker partitioning (O13/O14) expressed as files.
  No driver bottleneck, resumable, shardable.

Torch conversion is a thin optional wrapper — torch is not a hard
dependency of the engine.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame


def _ipc_blobs():
    # built by a factory so it is pickled by value to the Python workers
    def to_ipc(batches):
        import pyarrow as pa

        for rb in batches:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, rb.schema) as w:
                w.write_batch(rb)
            yield pa.record_batch([pa.array([sink.getvalue().to_pybytes()], pa.binary())], ["ipc"])

    return to_ipc


def _to_numpy(col) -> np.ndarray:
    """One Arrow column as the array ``np.array`` builds from the same
    values as Spark rows: integers as int64, floats as float64, booleans
    as bool, strings as ``<U{longest}``; a column with nulls, or of another type, goes
    through its Python values (``object`` dtype where ``np.array``
    would give it).  Top-level struct and map values become ``Row`` and
    ``dict`` as in rows; values nested inside an array or struct keep
    pyarrow's Python form."""
    import pyarrow as pa

    t = col.type
    if col.null_count == 0:
        if pa.types.is_integer(t):
            return col.to_numpy().astype(np.int64, copy=False)
        if pa.types.is_floating(t):
            return col.to_numpy().astype(np.float64, copy=False)
        if pa.types.is_boolean(t):
            return col.to_numpy()
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return col.to_numpy(zero_copy_only=False).astype(str)
    if pa.types.is_timestamp(t) and t.tz is not None:
        # rows carry session-zone timestamps as naive local datetimes
        from pyspark.sql.types import TimestampType

        ts = TimestampType()
        return np.array([None if v is None else ts.fromInternal(v) for v in col.cast(pa.int64()).to_pylist()])
    if pa.types.is_struct(t):
        from pyspark.sql import Row

        return np.array([None if v is None else Row(**v) for v in col.to_pylist()])
    if pa.types.is_map(t):
        return np.array([None if v is None else dict(v) for v in col.to_pylist()])
    return np.array(col.to_pylist())


def iterate_batches(
    planned: DataFrame,
    batch_size: int,
    columns: list[str],
    order_col: str = "pos",
    drop_last: bool = False,
) -> Iterator[dict[str, np.ndarray]]:
    """Yield dicts of numpy arrays in plan order, exactly ``batch_size``
    rows per batch (trailing partial kept unless ``drop_last``).

    The frame sorted by ``order_col`` streams to the driver as Arrow
    record batches: executors serialize each one as an Arrow IPC blob
    (``mapInArrow``) and ``toLocalIterator`` pulls them a partition at a
    time, prefetching the next.  Rows left over at a record-batch or
    partition boundary carry over as Arrow slices, and each delivered
    batch is converted to numpy once.

    The upstream is evaluated once: a range sort samples its input
    before sorting it, and without the hash exchange in front that
    sampling job would re-run the whole upstream — a hook stage's
    ``fetch_transform`` would see every row twice.  The exchange lands
    the upstream in shuffle files, which both the sampler and the sort
    read; its explicit partition count keeps AQE from coalescing the
    Python stage in front of it onto a few cores."""
    import pyarrow as pa

    from scdataset_spark.session import python_stage_partitions

    out_cols = list(dict.fromkeys(columns))  # callers may list order_col
    blobs = (
        planned.select(*dict.fromkeys([order_col, *out_cols]))
        .repartition(python_stage_partitions(planned), order_col)
        .orderBy(order_col)
        .select(*out_cols)
        .mapInArrow(_ipc_blobs(), "ipc binary")
        .toLocalIterator(prefetchPartitions=True)
    )
    try:
        pending: list = []  # Arrow tables not yet delivered, in order
        have = 0
        for row in blobs:
            pending.append(pa.ipc.open_stream(pa.py_buffer(row[0])).read_all())
            have += pending[-1].num_rows
            if have < batch_size:
                continue
            buf = pa.concat_tables(pending)
            off = 0
            while have - off >= batch_size:
                part = buf.slice(off, batch_size)
                yield {c: _to_numpy(part.column(c)) for c in columns}
                off += batch_size
            pending, have = [buf.slice(off)], have - off
        if have and not drop_last:
            part = pa.concat_tables(pending)
            yield {c: _to_numpy(part.column(c)) for c in columns}
    finally:
        # a consumer that stops early closes the socket stream here
        blobs.close()


def write_epoch_plan(
    planned: DataFrame,
    path: str,
    columns: list[str],
) -> None:
    """Write one epoch as fetch-partitioned parquet (see module doc).

    ``repartition(fetch_id)`` + ``sortWithinPartitions(fetch_id, pos)``
    keeps one fetch per task and yield order inside each file — sorted,
    block-local I/O for the trainer, the reference's headline
    optimization preserved across the export boundary.

    The sort MUST lead with ``fetch_id``: Spark's partitioned-file
    writer requires its input ordered by the partition columns and
    silently inserts its own (unstable) sort when it isn't — a
    ``pos``-only sortWithinPartitions gets obliterated and fetch files
    come out pos-UNsorted (caught by the multi-process consumer test).
    Leading with ``fetch_id`` satisfies the writer's required ordering,
    so no extra sort is added and the ``pos`` suborder survives."""
    (
        planned.select("fetch_id", "pos", *columns)
        .repartition("fetch_id")
        .sortWithinPartitions("fetch_id", "pos")
        .write.partitionBy("fetch_id")
        .mode("overwrite")
        .parquet(path)
    )


def to_torch(batch: dict[str, np.ndarray]):  # pragma: no cover - torch optional
    """Optional torch conversion; gated import (torch is not baked in)."""
    try:
        import torch
    except ImportError:
        raise NotImplementedError(
            "torch is not installed in this environment; consume numpy batches"
        ) from None
    return {k: torch.from_numpy(np.ascontiguousarray(v)) for k, v in batch.items()}


def write_arrow_fetches(
    planned: DataFrame,
    out_dir: str,
    columns: list[str],
    order_col: str = "pos",
) -> DataFrame:
    """Arrow-IPC export: one ``fetch_{id}.arrow`` stream file per fetch,
    rows pos-sorted inside — the zero-copy trainer hand-off (torch/JAX
    readers mmap Arrow record batches directly; no parquet decode on
    the hot loop).  Files are written BY THE EXECUTORS (one fetch group
    = one task = one file, same layout discipline as
    ``write_epoch_plan``), so there is no driver bottleneck; ``out_dir``
    must be a shared filesystem path in a real cluster.

    The export runs EAGERLY (exactly once, results checkpointed) and
    stale ``fetch_*.arrow`` files from a previous export into the same
    directory are removed first — a trainer globbing the directory sees
    only this epoch's files.  Returns the materialized manifest
    DataFrame (fetch_id, n_rows, path).
    """
    import glob
    import os

    os.makedirs(out_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(out_dir, "fetch_*.arrow")):
        os.remove(stale)

    def write_fetch(pdf):
        # function-local import + def: pickled by value to the workers
        import os
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.ipc as ipc

        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        fetch_id = int(pdf["fetch_id"].iloc[0])
        path = os.path.join(out_dir, f"fetch_{fetch_id:08d}.arrow")
        table = pa.Table.from_pandas(pdf[out_cols], preserve_index=False)
        # per-attempt unique tmp: speculative/zombie duplicate attempts
        # must not interleave writes before the atomic rename
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with ipc.new_stream(tmp, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, path)
        return pd.DataFrame(
            {"fetch_id": [fetch_id], "n_rows": [len(pdf)], "path": [path]}
        )

    # dedupe: callers may list order_col/fetch_id among columns
    out_cols = list(dict.fromkeys(columns))
    sel = list(dict.fromkeys(["fetch_id", order_col, *columns]))
    manifest = planned.select(*sel).groupBy("fetch_id").applyInPandas(
        write_fetch, schema="fetch_id bigint, n_rows bigint, path string"
    )
    # localCheckpoint(eager): the write happens NOW, exactly once; re-
    # evaluating the returned manifest cannot re-run the export tasks
    return manifest.localCheckpoint(eager=True)


def epoch_plans(strategy, df: DataFrame, seed: int, start_epoch: int = 0):
    """Auto-incrementing-epoch generator (reference
    ``scdataset.py:466-475``: each full iteration re-shuffles without a
    manual ``set_epoch``): yields ``(epoch, plan)`` pairs, one
    deterministic plan per epoch — ``next()`` is the Spark analogue of
    starting the next pass over an ``IterableDataset``.

    >>> # for epoch, plan in epoch_plans(BlockShuffling(64), df, seed=1):
    >>> #     train_one_epoch(with_batches(plan, 64, 16)); ...
    """
    epoch = start_epoch
    while True:
        yield epoch, strategy.plan(df, seed=seed, epoch=epoch)
        epoch += 1
