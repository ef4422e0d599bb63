"""Gorilla chunk tables: rollup tiers stored as per-(partition, series)
byte-array chunks (north_star storage format).

Tall layout: one row per (conv_id [, p_day], tier, metric) holding the
Gorilla blob for that metric's (bucket_ts, value) series, plus chunk stats
(n_points, start/end ts) for pruning. Encoding runs as one sorted Arrow
stream per task (``mapInArrow``) — executors each compress their own
series, no driver involvement; reading explodes chunks back to points via
``mapInArrow``. Timestamps cross to Python as epoch microseconds both ways,
so the session time zone never shifts them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pneuma_treatment_spark.compression.gorilla import decode_chunks, encode_chunks
from pneuma_treatment_spark.seriesmap import key_starts, map_sorted_series, series_units


# Store the EXACT integer partials, never derived float rates: the XOR
# codec compresses integer-valued doubles ~2x (trailing-zero mantissas)
# while a full-entropy rate barely compresses (measured 1.04x), and rates
# re-derive exactly from the ints on read — the same algebraic-tier rule the
# rollup cascade follows.
DEFAULT_METRICS = ("turn_count", "token_sum", "tool_calls")

#: Per-tier chunk time-window length in DAYS. A chunk never crosses a
#: window boundary (the window is part of the encode group key), so
#: retention can drop whole (tier, p_day=window-start) partitions —
#: without this a chunk spanning years could never TTL without a rewrite
#: of live data (VERDICT r5 item 5).
#:
#: Sizing: window length affects only retention SLACK (a boundary window
#: survives until fully expired — ≤ window extra days vs the tier's TTL),
#: never correctness, so windows are deliberately COARSE. Fine windows
#: shatter sparse long-lived series into per-window fragments: a measured
#: warm-JVM A/B (BENCH/ab_chunk_window.json) on a 90-day sparse 1m-tier
#: workload showed 1-day windows costing +64% roundtrip wall (90x the
#: chunk count) while 7-day windows hold within a few % of the unwindowed
#: path. Slack at the DEFAULT_TTLS: 7/90 ≈ 8%, 45/365 ≈ 12%, 365/3650 = 10%
#: — standard TSDB shard-group trade-offs.
TIER_WINDOW_DAYS = {"1m": 7, "1h": 45, "1d": 365}

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("p_day", T.DateType(), False),  # chunk window START day
        T.StructField("metric", T.StringType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("start_ts", T.TimestampType(), False),
        T.StructField("end_ts", T.TimestampType(), False),
        T.StructField("chunk", T.BinaryType(), False),
    ]
)

POINT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("bucket_ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def write_chunks(
    rollup: DataFrame,
    metrics: tuple[str, ...] = DEFAULT_METRICS,
    window_days: dict[str, int] | None = None,
) -> DataFrame:
    """Compress a rollup tier DataFrame (conv_id, bucket_ts, tier, metrics…)
    into Gorilla chunk rows, one chunk per (conv_id, tier, window, metric).

    One sorted Arrow stream per task (:mod:`..seriesmap`): a hash
    repartition on conv_id ONLY (the single exchange — pinned by
    test_chunk_write_single_exchange), a JVM sort by (conv_id, tier,
    bucket_ts), and ``mapInArrow`` over units of whole series. The window
    boundary is part of the series change mask, not of the shuffle key:
    adding the tier's TIER_WINDOW_DAYS-aligned window id to the mask splits
    chunks at window starts with a few numpy ops, and ONE batched
    encode_chunks call per metric and unit encodes every series in it
    (per-chunk numpy dispatch was ~260 µs on 2-8-point series — 28x).
    """
    windows = window_days if window_days is not None else TIER_WINDOW_DAYS
    ts_type = pa.timestamp("us", tz=rollup.sparkSession.conf.get("spark.sql.session.timeZone"))

    def window_start_day(b: pa.RecordBatch) -> np.ndarray:
        # tier-dependent TTL window id (epoch day of the window start)
        tier = b.column("tier").dictionary_encode()
        wd_of = np.array(
            [windows.get(t, 1) for t in tier.dictionary.to_pylist()], dtype=np.int64
        )
        wd = wd_of[tier.indices.to_numpy(zero_copy_only=False)]
        eday = np.floor_divide(_micros(b), 86_400_000_000)
        return np.floor_divide(eday, wd) * wd

    def starts(b: pa.RecordBatch) -> np.ndarray:
        s = key_starts(b, ("conv_id", "tier"))
        win = window_start_day(b)
        s[1:] |= win[1:] != win[:-1]
        return s

    def enc(batches):
        for unit, bounds in series_units(batches, starts):
            ts64 = _micros(unit)
            lengths = np.diff(bounds)
            per_metric = [
                encode_chunks(
                    ts64,
                    pc.cast(unit.column(m), pa.float64()).to_numpy(zero_copy_only=False),
                    lengths,
                )
                for m in metrics
            ]
            # series-major rows: a series' metric chunks sit side by side
            # (they share the timestamp stream, which page compression finds)
            k = len(metrics)
            first = np.repeat(bounds[:-1], k)
            take = pa.array(first)
            yield pa.RecordBatch.from_arrays(
                [
                    unit.column("conv_id").take(take),
                    unit.column("tier").take(take),
                    pa.array(window_start_day(unit)[first].astype(np.int32), pa.date32()),
                    pa.array(np.tile(np.array(metrics, dtype=object), len(lengths)), pa.string()),
                    pa.array(np.repeat(lengths.astype(np.int32), k)),
                    pa.array(ts64[first], ts_type),
                    pa.array(ts64[np.repeat(bounds[1:] - 1, k)], ts_type),
                    pa.array([c for row in zip(*per_metric) for c in row], pa.binary()),
                ],
                names=CHUNK_SCHEMA.names,
            )

    return map_sorted_series(rollup, ["conv_id"], ["tier", "bucket_ts"], enc, CHUNK_SCHEMA)


def _micros(b: pa.RecordBatch) -> np.ndarray:
    """``bucket_ts`` as int64 epoch microseconds."""
    return b.column("bucket_ts").cast(pa.int64()).to_numpy(zero_copy_only=False)


def chunk_ttl_sql_predicate(
    ttl_days: dict[str, int],
    now_date: str,
    window_days: dict[str, int] | None = None,
) -> str:
    """Partition-only TTL predicate for a (tier, p_day)-partitioned chunk
    table (TableIO.delete_where / Iceberg DELETE WHERE): a window
    [p_day, p_day + wdays) is dropped only once its LAST covered day is past
    the tier's retention — boundary windows survive until fully expired
    (standard TSDB chunk-retention semantics), so no live point is ever
    deleted. Both predicate columns are partition columns, as
    ``delete_where`` requires: it drops the matching partition dirs and
    leaves every other file alone, and on real Iceberg the operation is
    metadata-only. ``window_days`` must match what the table was written
    with (defaults to TIER_WINDOW_DAYS on both sides)."""
    windows = window_days if window_days is not None else TIER_WINDOW_DAYS
    parts = [
        f"(tier = '{tier}' AND p_day < date_sub(date'{now_date}', "
        f"{ttl + windows.get(tier, 1) - 1}))"
        for tier, ttl in ttl_days.items()
    ]
    return " OR ".join(parts)


def read_chunks(chunks: DataFrame) -> DataFrame:
    """Explode Gorilla chunk rows back into (conv_id, tier, metric,
    bucket_ts, value) points.

    Decodes each Arrow batch of chunks in ONE vectorized
    :func:`~pneuma_treatment_spark.compression.gorilla.decode_chunks` pass
    and assembles the output columnar (np.repeat keys over concatenated
    series) — per-chunk decode + per-chunk DataFrame construction was
    ~300 µs/chunk, the read path's wall for tiers storing millions of
    small chunks."""
    ts_type = pa.timestamp("us", tz=chunks.sparkSession.conf.get("spark.sql.session.timeZone"))

    def dec(batches):
        for b in batches:
            if not b.num_rows:
                continue
            lens, ts, vals = decode_chunks(b.column("chunk").to_pylist())
            take = pa.array(np.repeat(np.arange(b.num_rows), lens))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("conv_id").take(take),
                    b.column("tier").take(take),
                    b.column("metric").take(take),
                    pa.array(ts, ts_type),
                    pa.array(vals, from_pandas=True),
                ],
                names=POINT_SCHEMA.names,
            )

    return chunks.mapInArrow(dec, POINT_SCHEMA)


def read_chunks_range(chunks: DataFrame, start, end) -> DataFrame:
    """Time-range read over a chunk table: prune on the per-chunk
    (start_ts, end_ts) stats JVM-side BEFORE any blob reaches Python —
    the Gorilla-chunk analog of parquet row-group min/max pruning — then
    decode only the surviving chunks and trim boundary chunks with a
    point-level residual filter. On a day-partitioned chunk table the
    stat filter composes with p_day partition pruning, so a narrow window
    over years of data touches only its overlapping chunks' bytes.

    ``start``/``end`` are inclusive bounds as ISO strings (parsed in the
    session timezone — never pass python datetimes to literals; see the
    driver-OS-timezone sharp edge) or Columns."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    def _lit(v):
        return v if isinstance(v, Column) else F.lit(str(v)).cast("timestamp")

    lo, hi = _lit(start), _lit(end)
    pruned = chunks.where((F.col("end_ts") >= lo) & (F.col("start_ts") <= hi))
    pts = read_chunks(pruned)
    return pts.where((F.col("bucket_ts") >= lo) & (F.col("bucket_ts") <= hi))


def points_with_rates(points: DataFrame) -> DataFrame:
    """Pivot decoded (metric, value) points back to wide rows and re-derive
    the float rates from the stored integer partials — bit-identical to the
    rollup tier the chunks were written from."""
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.operators.rollup import TIERS, _with_rates

    wide = (
        points.groupBy("conv_id", "tier", "bucket_ts")
        .pivot("metric", list(DEFAULT_METRICS))
        .agg(F.first("value"))
    )
    for m in DEFAULT_METRICS:
        wide = wide.withColumn(m, F.col(m).cast("long"))
    secs = F.create_map(
        *[x for t, s in TIERS.items() for x in (F.lit(t), F.lit(s))]
    )[F.col("tier")]
    return _with_rates(wide, secs)
