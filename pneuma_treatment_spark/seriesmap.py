"""Per-series Python kernels as ONE sorted Arrow stream per task.

The treatment, chunk-encode and DTW stages run numpy kernels over whole
series (a conversation, a chunk of one, a (conv, tier, window) run). They
share one execution shape:

* ``repartition(n, xxhash64(*key))`` with ``n =
  spark.sql.shuffle.partitions`` — the stage's one exchange. A
  user-specified repartition is exempt from AQE coalescing, which sizes
  partitions by shuffle BYTES while these stages cost Python compute per
  row (a few-MB input otherwise coalesces the kernel onto 1-2 tasks). It
  hashes a hash of the key, not the key itself: on a child already
  hash-partitioned by the key the planner would drop a repartition on the
  bare key and leave the task count to that child's coalesced shuffle;
* ``sortWithinPartitions(*key, *order)`` — the sort runs in the JVM;
* ``mapInArrow`` over the sorted stream: :func:`series_units` regroups the
  Arrow batches into units of WHOLE series (a series straddling a batch
  boundary is carried into the next unit), and the kernel runs once per
  unit over numpy column views.

Per-call overhead is then one Arrow round trip per batch, not a pandas
frame build, Python sort and round trip per hash group; per-task memory is
one Arrow batch plus the one open series.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_starts(batch: pa.RecordBatch, cols) -> np.ndarray:
    """Boolean mask of rows that start a new run of equal ``cols`` values
    in a key-sorted batch (row 0 always starts one)."""
    n = batch.num_rows
    starts = np.zeros(n, dtype=bool)
    if n:
        starts[0] = True
    for c in cols:
        a = batch.column(c)
        starts[1:] |= pc.not_equal(a.slice(1), a.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
    return starts


def _concat(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(parts) == 1:
        return parts[0]
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def series_units(
    batches: Iterator[pa.RecordBatch],
    starts: Callable[[pa.RecordBatch], np.ndarray],
) -> Iterator[tuple[pa.RecordBatch, np.ndarray]]:
    """Regroup a key-sorted Arrow batch stream into units of whole series.

    ``starts(batch)`` marks the rows that begin a series (row 0 included).
    Yields ``(unit, bounds)`` per unit, ``bounds = [0, b1, ..., n]`` the
    series slice boundaries; every series lies entirely in one unit. The
    last series of each batch is held back until the next batch shows
    where it ends, and flushed after the last batch."""
    pending: list[pa.RecordBatch] = []  # slices of the one open series
    for b in batches:
        if b.num_rows == 0:
            continue
        s = starts(b)
        if pending:
            tail = pending[-1]
            edge = _concat([tail.slice(tail.num_rows - 1), b.slice(0, 1)])
            s[0] = bool(starts(edge)[1])
        firsts = np.flatnonzero(s)
        if firsts.size == 0:
            pending.append(b)  # the open series runs through this batch
            continue
        last = int(firsts[-1])
        done = pending + ([b.slice(0, last)] if last else [])
        if done:
            yield _with_bounds(_concat(done), starts)
        pending = [b.slice(last)]
    if pending:
        yield _with_bounds(_concat(pending), starts)


def _with_bounds(unit: pa.RecordBatch, starts) -> tuple[pa.RecordBatch, np.ndarray]:
    return unit, np.append(np.flatnonzero(starts(unit)), unit.num_rows)


def map_sorted_series(
    df: DataFrame,
    key: list[str],
    order: list[str],
    fn: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]],
    schema,
) -> DataFrame:
    """``df`` hash-repartitioned on ``key`` to the session's shuffle
    partitions, sorted by ``key + order`` within each partition, then
    ``mapInArrow(fn, schema)`` — see the module docstring."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.repartition(n, F.xxhash64(*key))
        .sortWithinPartitions(*key, *order)
        .mapInArrow(fn, schema)
    )
