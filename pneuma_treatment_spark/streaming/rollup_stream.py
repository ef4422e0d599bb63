"""Streaming 1-minute rollup: ``readStream`` → watermarked tumbling window →
``availableNow`` drains into exactly-once sinks.

The reference is pure batch (SURVEY.md §2.9) — its only late-data analog is
trimming output to complete windows (``09lane_node.py:303-318``). The
streaming tier provides the online variant of the same contract: a bucket is
emitted once its watermark passes (complete-window semantics), with the
identical metric set as :mod:`..operators.rollup`, so streamed buckets equal
batch buckets for closed windows (tests/test_streaming.py).

Every sink runs as one ``availableNow`` drain per arrival batch
(``jobs/stream_ingest_job.py`` runs one cycle, starting its two drains
together): :func:`run_rollup_chunk_sink` writes the closed buckets as rollup
rows and Gorilla chunks from one query, persisting each epoch before its
emptiness probe so the probe and both writes read one materialization;
:func:`run_deadletter_capture` tees the raw rows, and
:func:`run_to_memory_sink` backs the query registry and tests. Malformed
rows (:func:`..plans.stages.malformed_row`) are dropped by both queries
and counted, loudly, by the capture. The batch cascade (1m→1h→1d) re-owns
closed ranges — streaming only ever owns the hot end of the timeline.

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
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pneuma_treatment_spark.operators.rollup import (
    PARTIAL_COLS,
    _with_rates,
    raw_partials,
    with_turn_metrics,
)
from pneuma_treatment_spark.plans.stages import malformed_row
from pneuma_treatment_spark.synth import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_rollup_1m(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling 1-minute rollup with the batch tier's metrics.
    Malformed rows (:func:`..plans.stages.malformed_row`) are dropped
    before the watermark, so they neither reach a bucket nor move the
    watermark; :func:`run_deadletter_capture` counts them."""
    agg = stream_tumbling_rollup(
        with_turn_metrics(stream.where(~malformed_row())),
        ["conv_id"], raw_partials(), watermark=watermark,
    )
    out = agg.select("conv_id", "bucket_ts", *PARTIAL_COLS).withColumn("tier", F.lit("1m"))
    return _with_rates(out, 60)


def stream_tumbling_rollup(
    stream: DataFrame,
    keys: list[str],
    aggs: list,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Generic watermarked tumbling rollup over any keyed stream
    (:func:`stream_rollup_1m` is its transcript instance). Append-mode
    semantics: a bucket is emitted once the watermark passes its window end
    — on a bounded run, output = exactly the closed-window region of the
    batch rollup (the equality the batch-twin driver query hash-gates)."""
    m = stream.withWatermark(ts_col, watermark)
    agg = m.groupBy(
        *[F.col(k) for k in keys], F.window(ts_col, window).alias("win")
    ).agg(*aggs)
    return agg.withColumn("bucket_ts", F.col("win.start")).drop("win")


def _drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` as an ``availableNow`` query and wait until it has
    drained every file that existed at start — the per-cycle mode every
    sink here runs in (the pipeline's scheduler invokes one drain per
    arrival batch). Returns the terminated query for its progress."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_to_memory_sink(
    rollup_stream: DataFrame, name: str = "stream_rollup", mode: str = "append"
):
    """Drain all available input into an in-memory table — the test/demo
    sink; production uses :func:`run_rollup_chunk_sink`."""
    return _drain(rollup_stream.writeStream.format("memory").queryName(name).outputMode(mode))


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
    max_files: int = 8,
    strict: bool = False,
):
    """Capture watermark-droppable raw rows into a backfill delta dir —
    the dead-letter producer whose consumer is :mod:`..plans.backfill`
    (VERDICT r6 item 1; reference analog: the completeness trim contract,
    ``09lane_node.py:303-318``).

    A tee of the same file source the rollup aggregation reads: each
    micro-batch bounds its rows by ``max event time over all PRIOR
    batches − delay`` (the watermark Spark records for the batch) and
    writes rows older than that to ``dead_path/batch_id=<epoch>`` with
    ``mode("overwrite")`` (the same replayed-epoch idempotence pattern as
    :func:`run_rollup_chunk_sink`). Spark drops late input against a lower
    bound, the PREVIOUS batch's watermark (and the agg's ms-floor of max
    lowers it further), so no batch-aligned row is under-captured; a drain
    of several data batches over-captures (harmless: the heal upsert is
    idempotent).
    Malformed rows (:func:`..plans.stages.malformed_row`) are never
    captured — the backfill delta check would reject the whole heal — and
    never count toward the max (:func:`stream_rollup_1m` drops them before
    its watermark). The max aggregate also counts them, so a clean batch
    runs no extra job; a non-zero count prints a stderr WARNING naming the
    epoch and the count.
    Per-batch max event times persist in a tiny JSON next to the
    checkpoint (atomic tmp+rename; one long per batch — bounded driver
    metadata), so a killed capture resumes with the same bounds and
    rewrites its epoch byte-for-byte.

    Alignment contract: each ``availableNow`` drain (one per cycle —
    it processes the files that exist) shows the capture the same arrival
    boundaries as the aggregation; a drain of one data batch ends with a
    no-data batch that lifts the late-input bound to the recorded
    watermark, so the captured set equals the dropped set.
    ``run_stream_cycle`` starts both drains together, so both list
    the source at almost the same instant and a file landing mid-cycle is
    rarely seen by one drain but not the other. If the two queries'
    micro-batches interleave differently WITHIN a drain (one spanning
    more than ``max_files`` files, where FileStreamSource's arbitrary
    mtime tie-break orders them differently), the prior-batches rule can UNDER-capture — for those
    deployments set ``strict=True``: the bound then also includes the
    CURRENT batch's max event time, which upper-bounds any watermark the
    aggregation can hold while processing these rows, making the captured
    set a GUARANTEED superset of the dropped set under every interleaving.
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
    delay_us = _parse_duration_us(watermark)
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
        bad = malformed_row()
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
        row = bdf.agg(
            F.max(F.when(~bad, ts_us)).alias("mx"), F.count(F.when(bad, 1)).alias("bad")
        ).first()
        mx = row["mx"]
        if row["bad"]:
            print(
                f"stream capture: WARNING — epoch {batch_id}: dropped {row['bad']} "
                "malformed rows (null key, null ts or negative turn_idx) from "
                "every sink",
                file=sys.stderr,
            )
        if strict and mx is not None:
            prior.append(int(mx))
        if prior:
            bound_us = max(prior) - delay_us
            late = bdf.where(~bad & (ts_us < F.lit(bound_us)))
            # one epoch dir per batch, overwritten on replay (exactly-once);
            # written ONLY when non-empty — an empty dir per drain would make
            # every heal re-read all history. Safe under replay: the bound is
            # weakly higher on a replay, so a non-empty epoch can never
            # become empty-skipped.
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

    return _drain(
        read_transcript_stream(spark, source_path, max_files=max_files)
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def read_dead_letter(spark: SparkSession, dead_path: str) -> DataFrame:
    """Load a capture dir as a backfill delta (drops the batch_id rider;
    distinct guards exact-duplicate source rows)."""
    df = spark.read.option("basePath", dead_path).parquet(dead_path)
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts").distinct()


def prune_stream_epochs(stream_chunk_path: str, batch_high_water_day: str) -> dict:
    """Discard streaming chunk epoch dirs the batch cascade has re-owned —
    the delete step of the hot/cold handoff documented on
    :func:`run_rollup_chunk_sink`.

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
):
    """The production sink for closed buckets: ONE streaming query feeding
    both hot-end stores. Each micro-batch of closed buckets (e.g.
    :func:`stream_rollup_1m` output) is persisted once and written (a) as
    plain parquet rows under ``rollup_path/batch_id=<epoch>`` and (b)
    Gorilla-encoded under ``chunk_path/batch_id=<epoch>``. One scan, one
    windowed aggregation and one batching order serve both, so rollup rows
    and chunk contents are always mutually consistent per epoch; only the
    dead-letter capture is a separate scan (its bound recompute composes
    with any batching — see :func:`run_deadletter_capture`). The
    per-batch ``persist`` is what makes it ONE aggregation: foreachBatch
    re-executes the micro-batch plan per action, so the epoch is persisted
    before the emptiness probe, which then fills the cache both writes
    read.

    Exactly-once rides two layers that compose with the checkpoint:

    - append mode emits each closed (conv, window) bucket in exactly ONE
      micro-batch (the watermark contract), so different epochs never
      overlap in content;
    - ``foreachBatch`` is only at-least-once on retry, so each epoch writes
      under its own ``batch_id=<epoch>`` dir with ``mode("overwrite")`` — a
      replayed epoch replaces its own output byte-for-byte instead of
      appending a duplicate.

    A re-run with the SAME ``checkpoint`` resumes at the first unprocessed
    file. Neither store has a ``_spark_metadata`` log: read either with
    ``spark.read.option("basePath", path).parquet(path)`` (partition
    discovery adds the ``batch_id`` rider column; drop it). Within each
    chunk epoch dir the chunks are partitioned (tier, p_day) — the batch
    chunk table's TTL layout, so ``chunk_ttl_sql_predicate`` retention and
    stat-pruned range reads work unchanged.

    Hot/cold handoff: epoch dirs are the HOT end only and are never merged
    by :mod:`..plans.backfill` — the batch cascade re-owns every closed
    window when it runs (its chunk stage re-encodes the full tier from the
    rollup tables), so epoch dirs behind the batch high-water mark are
    DISCARDABLE (:func:`prune_stream_epochs`; the checkpoint is unaffected
    because a replayed epoch rewrites its own dir regardless).
    ``tests/test_streaming.py::test_stream_chunk_dirs_discardable_after_batch_cascade``
    pins it: every point decoded from the streaming sink also decodes,
    value-equal, from the batch chunk table built over the same input."""
    from pneuma_treatment_spark.compression.chunks import write_chunks

    def emit(bdf: DataFrame, batch_id: int) -> None:
        # persist first: the emptiness probe then fills the cache both
        # writes read, instead of running the scan + aggregation on its own
        bdf = bdf.persist()
        try:
            if bdf.isEmpty():
                return  # watermark-only epoch: no closed buckets, no dirs
            bdf.write.mode("overwrite").parquet(f"{rollup_path}/batch_id={batch_id}")
            (
                write_chunks(bdf)
                .write.mode("overwrite")
                .partitionBy("tier", "p_day")
                .parquet(f"{chunk_path}/batch_id={batch_id}")
            )
        finally:
            bdf.unpersist()

    return _drain(
        rollup_stream.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
