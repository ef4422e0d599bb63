"""Streaming 1-minute rollup: ``readStream`` → watermarked tumbling window →
append sink.

The reference is pure batch (SURVEY.md §2.9) — its only late-data analog is
trimming output to complete windows (``09lane_node.py:303-318``). The
streaming tier provides the online variant of the same contract: a bucket is
emitted once its watermark passes (complete-window semantics), with the
identical metric set as :mod:`..operators.rollup`, so streamed buckets equal
batch buckets for closed windows (tests/test_streaming.py).

At scale this runs as a continuous ingest job feeding the raw tier; the
batch cascade (1m→1h→1d) then reads closed buckets — streaming only ever
owns the hot end of the timeline.

Rows the watermark drops are not lost: :func:`run_deadletter_capture`
tees the raw source and writes every row at risk of being
watermark-dropped into a parquet dir in exactly the delta shape
:mod:`..plans.backfill` re-admits (conversation-scoped recompute +
partition-scoped merge through every tier); ``rollup_job
--backfill-table <dead-letter dir>`` then heals the tables. Together
they are the lambda closure: streaming owns the hot end, backfill heals
the cold end (tests/test_streaming.py pins the heal end-to-end:
captured delta + backfill ≡ a from-scratch build on the full input).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pneuma_treatment_spark.operators.rollup import (
    PARTIAL_COLS,
    _with_rates,
    raw_partials,
    with_turn_metrics,
)
from pneuma_treatment_spark.synth import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_rollup_1m(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling 1-minute rollup with the batch tier's metrics."""
    m = with_turn_metrics(stream).withWatermark("ts", watermark)
    agg = m.groupBy(
        F.col("conv_id"), F.window("ts", "1 minute").alias("win")
    ).agg(*raw_partials())
    out = agg.select(
        "conv_id", F.col("win.start").alias("bucket_ts"), *PARTIAL_COLS
    ).withColumn("tier", F.lit("1m"))
    return _with_rates(out, 60)


def stream_tumbling_rollup(
    stream: DataFrame,
    keys: list[str],
    aggs: list,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Generic watermarked tumbling rollup over any keyed stream (the
    event-table counterpart of :func:`stream_rollup_1m`). Append-mode
    semantics: a bucket is emitted once the watermark passes its window end
    — on a bounded run, output = exactly the closed-window region of the
    batch rollup (the equality the batch-twin driver query hash-gates)."""
    m = stream.withWatermark(ts_col, watermark)
    agg = m.groupBy(
        *[F.col(k) for k in keys], F.window(ts_col, window).alias("win")
    ).agg(*aggs)
    return agg.withColumn("bucket_ts", F.col("win.start")).drop("win")


def run_to_memory_sink(
    rollup_stream: DataFrame, name: str = "stream_rollup", mode: str = "append"
):
    """Drain all available input (availableNow) into an in-memory table —
    the test/demo sink; production uses :func:`run_to_parquet_sink`."""
    q = (
        rollup_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_parquet_sink(
    rollup_stream: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = (),
    available_now: bool = True,
    trigger_seconds: int | None = None,
):
    """Production sink: append-mode parquet with a checkpoint — the raw-tier
    landing the batch cascade (1m→1h→1d) reads closed buckets from.

    Exactly-once across restarts rides the checkpoint: the file-source
    offsets and the sink's transaction log (``_spark_metadata``) commit
    together, so a killed job re-run with the SAME ``checkpoint`` resumes
    at the first unprocessed micro-batch and never double-writes a bucket
    (tests/test_streaming.py pins this by running, adding late input,
    and re-running against the same checkpoint). ``available_now=True``
    drains what exists and stops (the batch-boundary mode the pipeline's
    scheduler invokes per cycle); pass ``False`` with
    ``trigger_seconds`` for a continuous micro-batch job — the returned
    query is RUNNING and the caller owns awaitTermination/stop. The two
    knobs are mutually exclusive and validated. At scale,
    partition by the same day/bucket layout as TableIO so the batch
    cascade's scans prune (pass ``partition_cols``); readers must use
    the streaming-aware listing (Spark reads ``_spark_metadata``
    automatically when scanning the sink directory)."""
    _validate_trigger(available_now, trigger_seconds)
    w = (
        rollup_stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def _validate_trigger(available_now: bool, trigger_seconds: int | None) -> None:
    if available_now and trigger_seconds is not None:
        raise ValueError(
            "available_now=True ignores trigger_seconds — pass "
            "available_now=False for a continuous micro-batch job"
        )
    if not available_now and (trigger_seconds is None or trigger_seconds <= 0):
        raise ValueError(
            "available_now=False requires a POSITIVE trigger_seconds (the "
            "micro-batch interval); None or <=0 would poll as-fast-as-possible"
        )


_DURATION_US = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _parse_duration_us(s: str) -> int:
    """'10 minutes' → microseconds (the watermark-delay grammar subset the
    engine uses; loud on anything else)."""
    parts = s.strip().split()
    unit = parts[1].rstrip("s") if len(parts) == 2 else ""
    if len(parts) != 2 or unit not in _DURATION_US or not parts[0].isdigit():
        raise ValueError(f"unsupported duration {s!r} — use 'N seconds|minutes|hours|days'")
    return int(parts[0]) * _DURATION_US[unit]


def run_deadletter_capture(
    spark: SparkSession,
    source_path: str,
    dead_path: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    margin: str = "0 seconds",
    max_files: int = 8,
    available_now: bool = True,
    trigger_seconds: int | None = None,
    strict: bool = False,
):
    """Capture watermark-droppable raw rows into a backfill delta dir —
    the dead-letter producer whose consumer is :mod:`..plans.backfill`
    (VERDICT r6 item 1; reference analog: the completeness trim contract,
    ``09lane_node.py:303-318``).

    A tee of the same file source the rollup aggregation reads: each
    micro-batch recomputes Spark's own watermark rule — ``max event time
    over all PRIOR batches − delay`` (exactly how the engine derives the
    bound the agg drops against; the agg's ms-floor of max only lowers its
    bound, so matching on raw max never under-captures a batch-aligned
    row) — and writes rows older than that bound to
    ``dead_path/batch_id=<epoch>`` with ``mode("overwrite")`` (the same
    replayed-epoch idempotence pattern as :func:`run_chunk_append_sink`).
    Per-batch max event times persist in a tiny JSON next to the
    checkpoint (atomic tmp+rename; one long per batch — bounded driver
    metadata), so a killed capture resumes with the same bounds and
    rewrites its epoch byte-for-byte.

    Alignment contract: under the per-cycle ``availableNow`` operation
    (the mode the pipeline's scheduler invokes — each cycle drains the
    files that exist), the capture sees the same arrival boundaries as
    the aggregation, so the captured set equals the dropped set. If the
    two queries' micro-batches can interleave differently WITHIN a cycle
    (a drain spanning more than ``max_files`` files where
    FileStreamSource's arbitrary mtime tie-break orders them
    differently), the prior-batches rule can UNDER-capture — for those
    deployments either pass a ``margin`` (subtracted from the delay,
    i.e. the bound moves LATER — covers bounded tie-skew) or set
    ``strict=True``: the bound then also includes the CURRENT batch's
    max event time, which upper-bounds any watermark the aggregation can
    hold while processing these rows, making the captured set a
    GUARANTEED superset of the dropped set under every interleaving.
    Strict cost: rows kept by the agg but older than (cycle max − delay)
    are captured too — on the first drain that is the whole pre-horizon
    backlog (harmless: the heal upsert is idempotent, and a first drain
    against fresh batch tables is an initial backfill anyway); in steady
    state the over-capture is one cycle's event-time advance. Healing:
    ``rollup_job --backfill-table <dead_path>`` (backfill drops the
    ``batch_id`` rider and dedupes nothing — captured rows are raw
    turns, one row per source row).

    State is O(1), not O(batches): entries older than ``batch_id − 1``
    fold into a single ``floor`` max (years of per-minute epochs would
    otherwise grow the JSON unboundedly). Only the LAST batch can
    replay, and a replay whose state already folded its own max in
    computes a (weakly) HIGHER bound — more capture, never less, so the
    superset guarantee survives every crash point.
    """
    _validate_trigger(available_now, trigger_seconds)
    delay_us = _parse_duration_us(watermark) - _parse_duration_us(margin)
    state_path = os.path.join(checkpoint, "deadletter_maxts.json")

    def emit(bdf: DataFrame, batch_id: int) -> None:
        state = {"floor": None, "last": {}}
        if os.path.exists(state_path):
            state = json.loads(open(state_path).read())
            if "last" not in state:  # flat per-batch map from an older build
                state = {
                    "floor": max(state.values()) if state else None,
                    "last": {},
                }
        prior = [v for k, v in state["last"].items() if int(k) < batch_id]
        if state["floor"] is not None:
            prior.append(state["floor"])
        bdf = bdf.persist()  # the max job + late filter read ONE materialization
        row = bdf.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx")).first()
        mx = row["mx"]
        if strict and mx is not None:
            prior.append(int(mx))
        if prior:
            bound_us = max(prior) - delay_us
            late = bdf.where(
                F.unix_micros(F.col("ts").cast("timestamp")) < F.lit(bound_us)
            )
            # one epoch dir per batch, overwritten on replay (exactly-once);
            # written ONLY when non-empty — continuous mode would otherwise
            # litter one empty dir per trigger and make every heal re-read
            # all history. Safe under replay: the bound is weakly higher on
            # a replay, so a non-empty epoch can never become empty-skipped.
            if late.limit(1).count():
                late.write.mode("overwrite").parquet(f"{dead_path}/batch_id={batch_id}")
        bdf.unpersist()
        if mx is not None:
            state["last"][str(batch_id)] = int(mx)
        # fold everything older than the previous batch into the floor —
        # bounded state: one floor long + at most two recent entries
        old = [int(k) for k in state["last"] if int(k) < batch_id - 1]
        if old:
            folded = max(state["last"][str(k)] for k in old)
            state["floor"] = max(state["floor"] or folded, folded)
            for k in old:
                del state["last"][str(k)]
        if mx is not None or old:
            tmp = state_path + ".tmp"
            os.makedirs(checkpoint, exist_ok=True)
            with open(tmp, "w") as f:
                json.dump(state, f)
            os.replace(tmp, state_path)

    w = (
        read_transcript_stream(spark, source_path, max_files=max_files)
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def read_dead_letter(spark: SparkSession, dead_path: str) -> DataFrame:
    """Load a capture dir as a backfill delta (drops the batch_id rider;
    distinct guards exact-duplicate source rows)."""
    df = spark.read.option("basePath", dead_path).parquet(dead_path)
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").distinct()


def prune_stream_epochs(stream_chunk_path: str, batch_high_water_day: str) -> dict:
    """Discard streaming chunk epoch dirs the batch cascade has re-owned —
    the delete step of the hot/cold handoff documented on
    :func:`run_chunk_append_sink`.

    An epoch dir is removable only when EVERY (tier, p_day) partition under
    it starts strictly before ``batch_high_water_day`` (ISO date: the day
    through which the batch chunk table is complete — in the pipeline
    that's the day before the batch run's input high-water mark, since a
    chunk window starting that day may still be open). Partition pruning by
    dir NAME only — nothing is read, no Spark session needed; driver-side
    listing is O(epoch dirs × partitions), the same metadata the sink
    already enumerates. The exactly-once checkpoint is unaffected: a
    replayed epoch would recreate its dir, and re-pruning is idempotent.
    """
    import datetime
    import shutil

    # a malformed high-water string would lexicographically exceed every
    # ISO p_day and delete the ENTIRE sink, open windows included — parse
    # both sides as dates instead of trusting string order
    hw = datetime.date.fromisoformat(batch_high_water_day)
    root = Path(stream_chunk_path)
    removed, kept = [], []
    if not root.exists():
        return {"removed": removed, "kept": kept}
    for epoch in sorted(root.glob("batch_id=*")):
        if not epoch.is_dir():
            continue
        pdays = []
        parse_ok = True
        for seg in epoch.glob("tier=*/p_day=*"):
            if not seg.is_dir():
                continue
            try:
                pdays.append(datetime.date.fromisoformat(seg.name.split("=", 1)[1]))
            except ValueError:
                parse_ok = False  # unrecognized layout: keep, never guess
        if parse_ok and pdays and all(d < hw for d in pdays):
            shutil.rmtree(epoch)
            removed.append(epoch.name)
        else:
            kept.append(epoch.name)
    return {"removed": removed, "kept": kept}


def run_rollup_chunk_sink(
    rollup_stream: DataFrame,
    rollup_path: str,
    chunk_path: str,
    checkpoint: str,
    metrics: tuple[str, ...] = ("turn_count", "token_sum", "tool_calls"),
    available_now: bool = True,
    trigger_seconds: int | None = None,
):
    """ONE streaming query feeding BOTH hot-end sinks: each micro-batch of
    closed buckets is persisted once and written (a) as plain parquet rows
    under ``rollup_path/batch_id=<epoch>`` and (b) Gorilla-encoded under
    ``chunk_path/batch_id=<epoch>`` — the fusion of ``run_to_parquet_sink``
    + ``run_chunk_append_sink`` the ingest job composes (VERDICT r7 item 1:
    the unfused cycle scanned the raw source twice and ran the windowed
    aggregation twice for these two sinks, and FileStreamSource's arbitrary
    mtime tie-break meant the two queries could even batch the same files
    differently).

    Exactly-once: both sinks use the epoch-dir overwrite pattern (a
    replayed epoch rewrites its own ``batch_id=`` dir byte-for-byte), which
    composes with the shared checkpoint exactly as in
    :func:`run_chunk_append_sink`. The rollup sink therefore has NO
    ``_spark_metadata`` transaction log — read it with
    ``spark.read.parquet(rollup_path)`` (partition discovery adds the
    ``batch_id`` rider column; ignore it) and prune re-owned epochs with
    the same dir-level discipline as the chunk sink. Because one query
    feeds both sinks, rollup rows and chunk contents are ALWAYS mutually
    consistent per epoch — the cross-sink interleaving hazard is gone by
    construction; only the dead-letter capture remains a separate scan
    (its bound recompute composes with any batching — see
    :func:`run_deadletter_capture`).

    The per-batch ``persist`` is what makes it ONE aggregation: foreachBatch
    re-executes the micro-batch plan per action, so two unpersisted writes
    would re-read the batch's files and re-aggregate."""
    from pneuma_treatment_spark.compression.chunks import write_chunks

    _validate_trigger(available_now, trigger_seconds)

    def emit(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return  # watermark-only epoch: no closed buckets, no dirs
        bdf = bdf.persist()
        try:
            bdf.write.mode("overwrite").parquet(f"{rollup_path}/batch_id={batch_id}")
            (
                write_chunks(bdf, metrics=metrics)
                .write.mode("overwrite")
                .partitionBy("tier", "p_day")
                .parquet(f"{chunk_path}/batch_id={batch_id}")
            )
        finally:
            bdf.unpersist()

    w = (
        rollup_stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q


def run_chunk_append_sink(
    rollup_stream: DataFrame,
    path: str,
    checkpoint: str,
    metrics: tuple[str, ...] = ("turn_count", "token_sum", "tool_calls"),
    available_now: bool = True,
    trigger_seconds: int | None = None,
):
    """Append closed rollup windows to a Gorilla CHUNK table incrementally —
    what a real TSDB does with the hot end of the timeline (write_chunks is
    otherwise batch-only; VERDICT r5 item 7).

    Exactly-once rides two layers that compose with the checkpoint:

    - append mode emits each closed (conv, window) bucket in exactly ONE
      micro-batch (the watermark contract), so chunks encoded by different
      epochs can never overlap in content;
    - ``foreachBatch`` is only at-least-once on retry, so each epoch writes
      its chunks under its own ``batch_id=<epoch>`` directory with
      ``mode("overwrite")`` — a replayed epoch replaces its own output
      byte-for-byte instead of appending a duplicate (the standard
      foreachBatch idempotence pattern).

    Within each epoch dir the chunks are partitioned (tier, p_day) — the
    same TTL layout as the batch chunk table, so
    ``chunk_ttl_sql_predicate`` retention and stat-pruned range reads work
    unchanged (partition discovery just sees one extra outer ``batch_id``
    level). Read the sink with
    ``spark.read.option("basePath", path).parquet(path)``.

    The input must carry ``conv_id``/``tier``/``bucket_ts`` plus
    ``metrics`` columns (e.g. :func:`stream_rollup_1m` output).

    Hot/cold handoff (the backfill story for streaming chunks): epoch
    dirs are the HOT end only and are never merged by
    :mod:`..plans.backfill` — the batch cascade re-owns every closed
    window when it runs (its chunk stage re-encodes the full tier from
    the rollup tables), so after a batch cycle the epoch dirs for the
    covered range are redundant and DISCARDABLE (delete dirs older than
    the batch high-water mark; the exactly-once checkpoint is unaffected
    because replayed epochs rewrite their own dirs regardless).
    ``tests/test_streaming.py::test_stream_chunk_dirs_discardable_after_batch_cascade``
    pins the contract: every point decoded from the streaming sink also
    decodes, value-equal, from the batch chunk table built over the same
    input.
    """
    from pneuma_treatment_spark.compression.chunks import write_chunks

    _validate_trigger(available_now, trigger_seconds)

    def emit(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return  # a watermark-only epoch: no closed buckets, no dir
        (
            write_chunks(bdf, metrics=metrics)
            .write.mode("overwrite")
            .partitionBy("tier", "p_day")
            .parquet(f"{path}/batch_id={batch_id}")
        )

    w = (
        rollup_stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    q = w.start()
    if available_now:
        q.awaitTermination()
    return q
