"""Streaming ingest job: the hot end of the lambda architecture as one
spark-submit surface.

Each CYCLE is an ``availableNow`` drain of the arriving transcript files
through three exactly-once sinks driven by TWO queries — one per
sink-class, so each arrival file is scanned once for the aggregated sinks
and once for the raw capture. The two queries share no state, so the cycle
starts them together from two driver threads and returns when both have
drained; the capture's wall hides inside the aggregation's:

* ``rollup_1m_stream/`` + ``chunks_stream/`` — ONE watermarked query
  (``run_rollup_chunk_sink``, checkpoint ``checkpoints/rollup_chunks``)
  whose foreachBatch writes each micro-batch of closed 1-minute buckets
  both as plain parquet rows and Gorilla-encoded, under per-epoch
  ``batch_id=`` dirs (idempotent overwrite on replay). One scan, one
  aggregation, one batching order — the two hot-end sinks can never
  disagree on which files formed an epoch. ``chunks_stream`` epochs are
  discardable once the batch cascade re-owns their range
  (``--prune-epochs``); the rollup sink prunes by the same dir rule.
* ``deadletter/``       — rows the rollup watermark would drop
  (``run_deadletter_capture``, its own raw scan + checkpoint), in the
  backfill delta schema. ``--strict-capture`` is the one over-capture
  control: it makes the captured set a superset of the dropped set under
  every micro-batch interleaving of the two queries.

Malformed arrival rows (null key, null ts, negative turn_idx) are dropped
from every sink; the capture prints a WARNING naming the epoch and the
count.

``--heal-into <batch workdir>`` then runs the captured dead-letter delta
through :func:`pneuma_treatment_spark.plans.backfill.backfill_pipeline`
(conversation-scoped recompute, partition-scoped merges) — the cold-end
heal that closes the loop. This is the ops composition of the pieces
``tests/test_streaming.py`` pins individually; run it per arrival batch
from a scheduler, or ``--cycles N`` to drain N times in-process.

    python jobs/stream_ingest_job.py --source /data/arrivals \
        --workdir /tmp/stream_wd --cycles 1 --heal-into /tmp/batch_wd
    spark-submit --py-files dist/pneuma_treatment_spark.zip \
        jobs/stream_ingest_job.py ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def run_stream_cycle(
    spark,
    source: str,
    workdir: str,
    watermark: str = "10 minutes",
    max_files: int = 8,
    strict_capture: bool = False,
) -> dict:
    """One availableNow drain through all three sinks; returns per-sink
    progress counts. Safe to call repeatedly — each sink's checkpoint
    resumes at its first unprocessed file.

    The rollup+chunk drain and the dead-letter capture run concurrently,
    one driver thread each, so both snapshot the source listing at almost
    the same instant. If either fails, its error is re-raised once the
    other has finished; the finished drain's epochs stay committed and a
    re-run resumes each query at its own checkpoint."""
    from pneuma_treatment_spark.streaming.rollup_stream import (
        read_transcript_stream,
        run_deadletter_capture,
        run_rollup_chunk_sink,
        stream_rollup_1m,
    )

    wd = Path(workdir)
    sinks = {
        "rollup_1m_stream": str(wd / "rollup_1m_stream"),
        "chunks_stream": str(wd / "chunks_stream"),
        "deadletter": str(wd / "deadletter"),
    }
    ck = {k: str(wd / "checkpoints" / k) for k in sinks}
    ck["rollup_chunks"] = str(wd / "checkpoints" / "rollup_chunks")

    # Pre-r8 cycles ran rollup and chunk sinks as SEPARATE queries (own
    # checkpoints, flat _spark_metadata rollup sink). The fused query
    # cannot resume their offsets — starting it fresh over an old workdir
    # would re-append every file's buckets next to the legacy sink files.
    # The hot end is rebuildable by design (the batch cascade re-owns every
    # closed range), so require a fresh streaming workdir instead of
    # guessing.
    legacy = (
        os.path.isdir(ck["rollup_1m_stream"])
        or os.path.isdir(os.path.join(sinks["rollup_1m_stream"], "_spark_metadata"))
    ) and not os.path.isdir(ck["rollup_chunks"])
    if legacy:
        raise ValueError(
            f"{workdir}: pre-fusion streaming workdir (separate rollup/chunk "
            "checkpoints). The fused cycle cannot adopt its offsets — drain "
            "it with the old build or start a fresh streaming workdir (the "
            "batch cascade re-owns all closed ranges, so the old dir is "
            "discardable after a batch run)"
        )

    # The two drains share no state (own checkpoint, own output dirs).
    # Leaving the pool waits for both, so a failure in one re-raises here
    # only after the other has finished its drain.
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            # ONE query → both hot-end sinks: one source scan, one windowed
            # aggregation, one batching order for rollup+chunks.
            pool.submit(
                run_rollup_chunk_sink,
                stream_rollup_1m(
                    read_transcript_stream(spark, source, max_files=max_files),
                    watermark=watermark,
                ),
                sinks["rollup_1m_stream"],
                sinks["chunks_stream"],
                ck["rollup_chunks"],
            ),
            pool.submit(
                run_deadletter_capture,
                spark,
                source,
                sinks["deadletter"],
                ck["deadletter"],
                watermark=watermark,
                max_files=max_files,
                strict=strict_capture,
            ),
        ]
        q1, q3 = [f.result() for f in futures]

    def progress(q):
        return [json.loads(p if isinstance(p, str) else p.json) for p in q.recentProgress]

    def rows_in(ps):
        # ADVISORY: numInputRows summed over recentProgress (file sinks
        # report numOutputRows=-1 on Spark 4, and recentProgress keeps only
        # the last spark.sql.streaming.numRecentProgressUpdates entries —
        # a >100-micro-batch drain undercounts here). The dir counts below
        # are exact; this is a liveness signal, not an accounting one.
        return sum(int(p.get("numInputRows") or 0) for p in ps)

    def epoch_dirs(path):
        # exact: epochs that actually wrote output (watermark-only flush
        # batches and no-late-row batches write nothing)
        return len(list(Path(path).glob("batch_id=*"))) if os.path.isdir(path) else 0

    p1, p3 = progress(q1), progress(q3)
    # In non-strict mode a drain spanning several micro-batches can
    # under-capture on mtime-tie batching skew between the aggregation
    # query and the capture query — and an under-captured watermark-dropped
    # row is lost for good. Surface it loudly instead of leaving the risk
    # in a docstring.
    data_batches = sum(1 for p in p3 if int(p.get("numInputRows") or 0) > 0)
    if not strict_capture and data_batches > 1:
        print(
            f"stream_ingest: WARNING — drain spanned {data_batches} "
            "micro-batches in non-strict capture mode; if the aggregation "
            "batched these files differently, late rows can be missed. "
            "Pass strict_capture=True (--strict-capture; over-capture is "
            "harmless: the heal upsert is idempotent).",
            file=sys.stderr,
        )
    return {
        "sinks": sinks,
        "rollup_input_rows": rows_in(p1),
        "deadletter_input_rows": rows_in(p3),
        "capture_batches": data_batches,
        "chunk_epoch_dirs": epoch_dirs(sinks["chunks_stream"]),
        "deadletter_epoch_dirs": epoch_dirs(sinks["deadletter"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="dir of arriving transcript parquet files")
    ap.add_argument("--workdir", required=True, help="streaming sink + checkpoint root")
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument(
        "--strict-capture", action="store_true",
        help="include the current batch's max event time in the capture "
        "bound: captured ⊇ dropped under EVERY micro-batch interleaving "
        "(use when a drain can span more than --max-files files; costs "
        "over-capture — the first drain captures the pre-horizon backlog)",
    )
    ap.add_argument("--max-files", type=int, default=8)
    ap.add_argument("--cycles", type=int, default=1, help="availableNow drains to run")
    ap.add_argument(
        "--heal-into", default=None,
        help="batch pipeline workdir: run the captured dead-letter delta "
        "through backfill_pipeline after the last cycle",
    )
    ap.add_argument(
        "--clear-healed", action="store_true",
        help="after a successful --heal-into backfill, delete the dead-letter "
        "epoch dirs that were healed (safe: the backfill committed; a crash "
        "BEFORE this point leaves the dirs for the idempotent re-run)",
    )
    ap.add_argument(
        "--prune-epochs", default=None, metavar="ISO_DAY",
        help="after the last cycle, discard chunks_stream epoch dirs whose "
        "every (tier, p_day) starts before this day (the batch cascade's "
        "high-water mark)",
    )
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from pneuma_treatment_spark.session import get_spark

    spark = get_spark(
        "stream-ingest", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    summary: dict = {"cycles": []}
    for _ in range(args.cycles):
        summary["cycles"].append(
            run_stream_cycle(
                spark, args.source, args.workdir,
                watermark=args.watermark, max_files=args.max_files,
                strict_capture=args.strict_capture,
            )
        )
    dead = os.path.join(args.workdir, "deadletter")
    if args.heal_into:
        from pneuma_treatment_spark.plans.backfill import backfill_pipeline
        from pneuma_treatment_spark.streaming.rollup_stream import read_dead_letter

        healed_dirs = sorted(Path(dead).glob("batch_id=*")) if os.path.isdir(dead) else []
        if healed_dirs:
            summary["heal"] = backfill_pipeline(
                spark, args.heal_into, read_dead_letter(spark, dead)
            )
            if args.clear_healed:
                import shutil

                for d in healed_dirs:  # only dirs the heal actually read
                    shutil.rmtree(d, ignore_errors=True)
                summary["heal"]["cleared_epochs"] = len(healed_dirs)
        else:
            summary["heal"] = {"tables": {}, "affected_convs": 0}
    if args.prune_epochs:
        from pneuma_treatment_spark.streaming.rollup_stream import prune_stream_epochs

        summary["pruned"] = prune_stream_epochs(
            os.path.join(args.workdir, "chunks_stream"), args.prune_epochs
        )
    summary["total_wall_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
