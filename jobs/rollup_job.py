"""End-to-end rollup job: synth/ingest → gap-fill → treatment → tier
cascade → Gorilla chunks, every stage checkpointed + resumable.

Run locally or via spark-submit (M7 packaging):

    python jobs/rollup_job.py --workdir /tmp/ptsw --n-convs 4000
    spark-submit --py-files dist/pneuma_treatment_spark.zip jobs/rollup_job.py ...

Stage boundaries land exactly where the reference re-keys between its
numbered scripts (SURVEY.md §3): by series (treatment) → by (series, bucket)
(rollups) → by series (chunks). Each boundary is an idempotent partitioned
parquet table + manifest, so a killed job resumes at the first incomplete
stage (tests/test_resume.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pneuma_treatment_spark.compression.chunks import (
    TIER_WINDOW_DAYS,
    chunk_ttl_sql_predicate,
)
from pneuma_treatment_spark.io.tableio import TableIO, heal_asides
from pneuma_treatment_spark.operators.retention import ttl_sql_predicate
from pneuma_treatment_spark.operators.rollup import (
    rollup_from_tier,
    rollup_raw_clustered,
    with_turn_metrics,
)
from pneuma_treatment_spark.operators.treatment import TreatmentConfig
from pneuma_treatment_spark.plans.backfill import update_lineage
from pneuma_treatment_spark.plans.lineage import (
    PipelineRunner,
    load_manifest,
    manifest_schema,
)
from pneuma_treatment_spark.plans.stages import (
    LAYOUTS,
    build_chunks,
    build_filled,
    build_treated,
    check_transcripts,
)
from pneuma_treatment_spark.synth import generate_transcripts

#: tier TTLs (days) — finer tiers age out first (retention cascade)
DEFAULT_TTLS = {"1m": 90, "1h": 365, "1d": 3650}

#: the two branches below the ingest stage, each in stage order
TREATMENT_STAGES = ("filled", "treated")
ROLLUP_STAGES = ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")


def run_pipeline(
    spark,
    workdir: str,
    n_convs: int = 1000,
    seed: int = 42,
    mega_turns: int = 20000,
    chunked: bool = True,
    cfg: TreatmentConfig | None = None,
    input_table: str | None = None,
    ttl_now: str | None = None,
    stop_after: str | None = None,
    n_buckets: int = 8,
    stats: str = "full",
    shard_index: int = 0,
    shard_count: int = 1,
    chunk_window_days: dict[str, int] | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns a stage→metrics summary.

    ``input_table``: optional path to an existing transcripts parquet table;
    default synthesizes deterministically; malformed rows are rejected
    before any write (``stages.check_transcripts``). ``chunked=True`` is
    the only accepted value. ``stop_after``: stage name to halt
    after (used by the resume tests to simulate a mid-job kill) — only that
    stage and its upstream stages run, on the same two-branch executor as a
    full run; the branch not holding it is never submitted, and the TTL
    sweep is skipped.
    """
    stages = ("ingest", *TREATMENT_STAGES, *ROLLUP_STAGES)
    if stop_after is not None and stop_after not in stages:
        raise ValueError(f"stop_after={stop_after!r} is not a stage: {stages}")
    if not chunked:
        raise ValueError("chunked=False is gone: the treatment always runs chunk+halo")
    cfg = cfg or TreatmentConfig()
    windows = chunk_window_days or dict(TIER_WINDOW_DAYS)
    io = TableIO(spark, workdir, n_buckets=n_buckets)
    # tables a killed compaction swap left aside; healed here, before any
    # read, since a heal inside TableIO.read could race a concurrent swap
    heal_asides(Path(workdir))
    runner = PipelineRunner(
        io,
        stats=stats,
        config={
            "n_convs": n_convs,
            "seed": seed,
            "mega_turns": mega_turns,
            "input_table": input_table,
            "treatment": cfg.__dict__,
            # ops tooling (plans/backfill.py) ADOPTS these two from the
            # manifest — a backfill run with a contradicting bucket count
            # prunes the wrong p_bucket set (silent row duplication), and a
            # contradicting window map breaks chunk_ttl_sql_predicate's
            # written-with match (ADVICE r6)
            "n_buckets": n_buckets,
            "chunk_window_days": windows,
            # NB (r7): adding n_buckets/chunk_window_days to this dict
            # changed every stage signature — resuming a pre-r7 workdir
            # rebuilds from scratch once (correct: those params were never
            # part of the recorded identity, and resuming across the
            # recording boundary would adopt unverifiable values)
            # shard identity MUST be part of the stage signature: a different
            # shard against the same workdir must not see COMPLETE manifests
            # written by another shard (it would silently return that shard's
            # data and clobber overlapping p_day partitions)
            "shard_index": shard_index,
            "shard_count": shard_count,
        },
    )

    order = []

    def stage(name, build, **kw):
        order.append(name)
        ts_col, partition_cols = LAYOUTS[name]
        df = runner.run_stage(
            name, build, ts_col=ts_col, partition_cols=partition_cols, **kw
        )
        if stop_after == name:
            raise _StopPipeline(name)
        return df

    def read_input():
        if input_table:
            raw = spark.read.parquet(input_table)
            check_transcripts(raw, "input_table")
            return raw
        first = shard_index * n_convs // shard_count
        cnt = (shard_index + 1) * n_convs // shard_count - first
        return generate_transcripts(
            spark, cnt, seed=seed, mega_turns=mega_turns,
            first_conv=first, total_convs=n_convs,
        )

    try:
        ingest = stage("ingest", lambda io: with_turn_metrics(read_input()))

        def run_treatment_branch():
            filled = stage(
                "filled",
                lambda io: build_filled(ingest, cfg),
                deps=["ingest"],
            )
            stage(
                "treated",
                lambda io: build_treated(filled, cfg),
                deps=["filled"],
            )

        def run_rollup_branch():
            m1 = stage(
                "rollup_1m",
                # clustered variant: the aggregation's one exchange doubles
                # as the (p_day, p_bucket) write clustering — bit-identical
                # rows to rollup_raw (test_plans pins both the equality and
                # the single-Exchange plan)
                lambda io: rollup_raw_clustered(ingest, "1m", n_buckets=n_buckets),
                deps=["ingest"],
                pre_clustered=True,
            )
            h1 = stage(
                "rollup_1h",
                lambda io: rollup_from_tier(m1, "1m", "1h"),
                deps=["rollup_1m"],
            )
            d1 = stage(
                "rollup_1d",
                lambda io: rollup_from_tier(h1, "1h", "1d"),
                deps=["rollup_1h"],
            )
            # Runs INSIDE this branch: chunks depends only on the tiers, so
            # it must not wait for the treatment branch.
            stage(
                "chunks",
                lambda io: build_chunks(m1, h1, d1, windows),
                deps=["rollup_1m", "rollup_1h", "rollup_1d"],
            )

        # The treatment branch (filled → treated) and the rollup cascade
        # (1m → 1h → 1d → chunks) both depend only on the ingest table —
        # submit them from two driver threads so the second branch's jobs
        # back-fill executor capacity the first branch's stage tails leave
        # idle (guide §2.6 overlap; actions are sequential only because the
        # driver calls them sequentially). Stage signatures stay
        # deterministic: each branch reads only _sigs of its own deps. A
        # stop_after run submits only the branch holding its stage, so no
        # stage outside its upstream set ever starts.
        from concurrent.futures import ThreadPoolExecutor

        branches = [
            run
            for run, names in (
                (run_treatment_branch, TREATMENT_STAGES),
                (run_rollup_branch, ROLLUP_STAGES),
            )
            if stop_after is None or stop_after in names
        ]
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(run) for run in branches]:
                f.result()  # re-raises a branch failure in the caller
        if ttl_now:
            sweeps = {
                f"rollup_{tier}": ttl_sql_predicate(days, ttl_now)
                for tier, days in DEFAULT_TTLS.items()
            }
            sweeps["chunks"] = chunk_ttl_sql_predicate(
                DEFAULT_TTLS, ttl_now, window_days=windows
            )
            for table, predicate in sweeps.items():
                _ttl_sweep(io, table, predicate)
    except _StopPipeline:
        pass

    return {
        "stages": {
            n: {
                "rows": r.rows,
                "skipped": r.skipped,
                "wall_sec": round(r.wall_sec, 3),
                "n_partitions": r.n_partitions,
            }
            for n, r in runner.results.items()
        },
        "order": order,
    }


class _StopPipeline(Exception):
    pass


def _ttl_sweep(io: TableIO, table: str, predicate: str) -> None:
    """Drop ``table``'s expired partitions, record ``predicate`` in its
    manifest (a later backfill merge drops the recomputed rows it matches)
    and splice its lineage (manifest rows, per-day counts) the way a
    backfill merge does, so ``verify_partition_lineage`` stays green."""
    expired = io.delete_where(
        table, predicate, LAYOUTS[table][1],
        manifest_schema(load_manifest(io.root, table)),
    )
    update_lineage(io, table, {
        "removed": sum(r["count"] for r in expired),
        "added": 0,
        "aff_days": {r["p_day"] for r in expired},
        "ttl": predicate,
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--n-convs", type=int, default=1000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--mega-turns", type=int, default=20000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--input-table", default=None)
    ap.add_argument("--ttl-now", default=None)
    ap.add_argument(
        "--compact", action="store_true",
        help="compact the rollup tier and chunk tables after the run "
        "(small-file maintenance; see TableIO.compact)",
    )
    ap.add_argument(
        "--buckets", type=int, default=None,
        help="hash-bucket count (default 8 for a fresh pipeline; a backfill "
        "with no --buckets ADOPTS the count recorded in the table manifests, "
        "and an explicit contradicting value is a loud error)",
    )
    ap.add_argument("--stats", default="full", choices=["full", "fast"])
    ap.add_argument("--shard-index", type=int, default=0)
    ap.add_argument("--shard-count", type=int, default=1)
    ap.add_argument(
        "--backfill-table", default=None,
        help="path to a parquet delta of late/corrected raw turns "
        "(conv_id, turn_idx, role, text, tool, ts); applies it through "
        "every pipeline table with conversation-scoped recompute + "
        "partition-scoped merges instead of running the pipeline "
        "(plans/backfill.py)",
    )
    ap.add_argument(
        "--delete-convs", default=None,
        help="path to a parquet table of conv_ids to REMOVE from every "
        "pipeline table (compliance-shaped whole-conversation deletion; "
        "partition-scoped merges, lineage re-spliced — "
        "plans/backfill.delete_conversations)",
    )
    ap.add_argument(
        "--scrub-deadletter", action="append", default=[], metavar="DIR",
        help="with --delete-convs: also scrub the victims' rows out of "
        "this dead-letter capture dir (repeatable; an uncleared delta "
        "would re-insert them at the next heal)",
    )
    args = ap.parse_args()

    from pneuma_treatment_spark.session import get_spark

    spark = get_spark(
        "rollup-job", master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.delete_convs and args.backfill_table:
        ap.error("--delete-convs and --backfill-table are separate ops — run them one at a time")
    if args.scrub_deadletter and not args.delete_convs:
        ap.error(
            "--scrub-deadletter only acts with --delete-convs — alone it "
            "would silently scrub nothing (the victims come from the "
            "delete set)"
        )
    if args.delete_convs:
        from pneuma_treatment_spark.plans.backfill import delete_conversations

        if args.shard_count != 1:
            ap.error("--delete-convs: delete through the owning shard with --shard-count 1")
        t0 = time.perf_counter()
        summary = delete_conversations(
            spark,
            args.workdir,
            spark.read.parquet(args.delete_convs),
            n_buckets=args.buckets,  # None → adopt the recorded count
            deadletter_dirs=args.scrub_deadletter,
        )
        summary["total_wall_sec"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(summary))
        return
    if args.backfill_table:
        from pneuma_treatment_spark.plans.backfill import backfill_pipeline

        if args.shard_count != 1:
            ap.error(
                "--backfill-table does not compose with sharding: the delta "
                "would upsert every conversation into THIS shard's tables, "
                "duplicating conversations owned by other shards. Pre-filter "
                "the delta to the owning shard and run with --shard-count 1."
            )
        t0 = time.perf_counter()
        summary = backfill_pipeline(
            spark,
            args.workdir,
            spark.read.parquet(args.backfill_table),
            n_buckets=args.buckets,  # None → adopt the recorded count
        )
        summary["total_wall_sec"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(summary))
        return
    t0 = time.perf_counter()
    summary = run_pipeline(
        spark,
        args.workdir,
        n_convs=args.n_convs,
        seed=args.seed,
        mega_turns=args.mega_turns,
        input_table=args.input_table,
        ttl_now=args.ttl_now,
        n_buckets=args.buckets if args.buckets is not None else 8,
        stats=args.stats,
        shard_index=args.shard_index,
        shard_count=args.shard_count,
    )
    if args.compact:
        io = TableIO(
            spark, args.workdir,
            n_buckets=args.buckets if args.buckets is not None else 8,
        )
        for table in ROLLUP_STAGES:
            # A table may be absent (partial failure): skip it with a
            # message instead of letting io.compact surface a raw
            # path-not-found AnalysisException.
            if io.exists(table):
                schema = manifest_schema(load_manifest(io.root, table))
                io.compact(table, LAYOUTS[table][1], schema)
            else:
                print(f"compact: {table} not built, skipping", file=sys.stderr)
    summary["total_wall_sec"] = round(time.perf_counter() - t0, 3)
    summary["turns"] = summary["stages"]["ingest"]["rows"]
    summary["turns_per_sec"] = round(summary["turns"] / summary["total_wall_sec"], 1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
