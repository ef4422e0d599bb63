"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line as the
LAST stdout line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full compute, no driver
collect), and the whole suite runs REPS times (default 3): ``queries``
carries per-query MEDIANS (this shared box shows up to ~40% same-commit
run-to-run variance, so single samples cannot support regression
judgments). Each rep recomputes from the parquet sources (nothing is
cached; the pipeline rep uses a fresh temp workdir) — rep 1 additionally
absorbs residual codegen/JIT warmup, which the median then damps.

Round-5 protocol fixes (VERDICT r4 items 1-2):

- The checkpointed pipeline runs FIRST within each rep — it is the
  round-over-round headline. The deadline gate applies component-wise to
  reps beyond the guaranteed two, so at the default PIPE_REPS=2 it can
  only ever trim query reps; a trimmed pipeline sample is possible only
  when the caller raises PIPE_REPS above MIN_FULL_REPS.
- At least MIN_FULL_REPS (=2) reps ALWAYS complete, even if that overruns
  the budget on a slow host window; only rep 3+ is deadline-gated
  ($SPARK_GRAFT_BENCH_BUDGET_SEC, default 200 s from process start).
  ``reps_run`` records what happened; r4's single-rep artifact cannot
  recur.
- The full result object (including the per-query ``spread``
  {median,min,max} block) is written to ``BENCH/last_bench.json``; stdout
  gets a COMPACT line (no spread) printed last, sized well under the
  driver's 2000-char tail capture (r4's spread-bearing line overflowed it
  and nulled ``parsed``).
- $SPARK_GRAFT_BENCH_REPS is clamped to ≥1 (REPS=0 used to feed empty
  sample lists into statistics.median).
- The compact line carries host-health context: ``host_steal_pct`` over
  the whole bench and the raw ``pipe_reps_sec`` samples plus
  ``transcript_turns_per_sec_best`` — this VM's shared host shows erratic
  bandwidth/steal windows (BENCH/scaling_r05.md; two consecutive pipeline
  reps have measured 49.5 s and 142.2 s on the SAME engine), so a slow
  bench must be attributable to the host in the artifact itself.

The published amortized throughput number in BENCH/BASELINE.md still
comes from the dedicated 6.4M-turn scaling runs:
``python BENCH/run_scaling.py`` (pinned local[8] vs local[32]) and
``python BENCH/run_scaling_executors.py`` (1 vs 4 separate 8-core JVMs) —
the BASELINE.md N→4N protocol; committed runs in BENCH/.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_REPS_RAW = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
REPS = max(1, _REPS_RAW)
if _REPS_RAW < 1:
    print(f"bench: clamping SPARK_GRAFT_BENCH_REPS={_REPS_RAW} to 1", file=sys.stderr)
PIPE_REPS = max(0, int(os.environ.get("SPARK_GRAFT_PIPE_REPS", "2")))
PIPE_CONVS = int(os.environ.get("SPARK_GRAFT_PIPE_CONVS", "60000"))
# Reps 1..MIN_FULL_REPS always complete (even past the budget on a slow
# host window — single-sample artifacts are worse than a late bench);
# later reps are skipped if the previous rep's observed cost would
# overrun $SPARK_GRAFT_BENCH_BUDGET_SEC from process start.
MIN_FULL_REPS = 2
BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "200"))
_T0 = time.perf_counter()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies — this VM's host shows erratic bandwidth/steal
    windows (BENCH/scaling_r05.md); the compact line reports steal_pct so a
    slow bench is attributable to the host, not read as an engine delta."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        return 0, 0

HEADLINE = [
    "rollup_1m",
    "rollup_1h_cascade",
    "count_distinct_1m",
    "sliding_window_sum",
    "asof_next_type",
    "transition_counts",
    "interval_mask_counts",
    "gap_fill_oracle",
    "anomaly_run_merge",
    "error_metrics",
    "salted_agg_user",
    "dedup_exact",
    "simhash_pairs",
    "quality_score",
    "knn_cosine",
    "wide_record_parse",
    "occupancy_spill_1m",
    "revenue_by_nation",
    "cosine_dup_pairs",
    "winnow_fingerprints",
    "ivf_topk",
    "chunk_roundtrip",
    "treatment_pipeline",
]


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_transcript_pipeline(spark, n_convs: int = 60000, seed: int = 42):
    # 60k convs ≈ 1.3M turns (the round-3-comparable size). In-bench
    # turns/sec carries fixed-cost dilution at smaller sizes — compare
    # rounds on the same PIPE_CONVS.
    """Full engine pipeline (synth → gap-fill → treatment → tier cascade →
    Gorilla chunks), checkpointed stages, cold workdir. Returns turn count."""
    import shutil
    import tempfile

    from jobs.rollup_job import run_pipeline

    wd = tempfile.mkdtemp(prefix="bench_ptsw_")
    try:
        summary = run_pipeline(
            spark, wd, n_convs=n_convs, seed=seed, mega_turns=100000, stats="fast",
        )
        return summary["stages"]["ingest"]["rows"]
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def main() -> None:
    from pneuma_treatment_spark import queries as q
    from pneuma_treatment_spark.session import get_spark

    ticks0 = _cpu_ticks()
    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen/reader warmup so the first timed query doesn't absorb
    # cluster start-up (~4s showed up inside rollup_1m in earlier rounds).
    # Touch the full machinery once — scan, shuffle+window, Arrow/pandas
    # workers — so their class-load/codegen/worker-fork costs land here,
    # not inside the first timed query of each shape.
    import pandas as _pd
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(5000)
    _force(ev)
    _force(
        ev.withColumn(
            "r", _F.sum("value").over(_W.partitionBy("user_id").orderBy("ts"))
        ).groupBy("event_type").agg(_F.count(_F.lit(1)).alias("n"))
    )
    _force(
        ev.limit(200).groupBy("event_type").applyInPandas(
            lambda p: p[["event_id"]], "event_id long"
        )
    )

    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    if PIPE_REPS > 0:
        samples["transcript_pipeline"] = []
    n_turns = 0
    reps_run = 0
    qcost = pcost = 0.0  # last observed query-block / pipeline walls
    for rep in range(REPS):
        # Reps 1..MIN_FULL_REPS are never gated. Beyond them the deadline
        # gate applies COMPONENT-WISE using the last observed walls:
        # pipeline first (it is the round-over-round headline), each
        # component skipped only if it would itself overrun the budget —
        # so a trimmed pipeline sample is possible only when the caller
        # configures PIPE_REPS > MIN_FULL_REPS.
        gated = rep >= MIN_FULL_REPS
        if rep < PIPE_REPS:
            # gate the pipeline on ITS OWN last wall only — a rep-3 pipeline
            # sample that fits alone is kept even when the query block
            # wouldn't fit (the query gate below decides that separately)
            if not (gated and time.perf_counter() - _T0 + pcost > BUDGET_SEC):
                t0 = time.perf_counter()
                n_turns = run_transcript_pipeline(spark, n_convs=PIPE_CONVS)
                pcost = time.perf_counter() - t0
                samples["transcript_pipeline"].append(round(pcost, 3))
        if gated and time.perf_counter() - _T0 + qcost > BUDGET_SEC:
            break
        t0 = time.perf_counter()
        for name in HEADLINE:
            fn = q.Q[name]
            tq = time.perf_counter()
            _force(fn(spark, SF_DIR))
            samples[name].append(round(time.perf_counter() - tq, 3))
        qcost = time.perf_counter() - t0
        reps_run += 1

    timings = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    spread = {
        n: {"median": timings[n], "min": min(v), "max": max(v), "n": len(v)}
        for n, v in samples.items()
    }
    # PIPE_REPS=0 skips the pipeline entirely (query-only runs)
    pipe_sec = timings.get("transcript_pipeline", 0.0)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 3)
    ticks1 = _cpu_ticks()
    dt = ticks1[1] - ticks0[1]
    steal = round(100.0 * (ticks1[0] - ticks0[0]) / dt, 2) if dt else 0.0
    pipe_samples = samples.get("transcript_pipeline", [])
    compact = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": REPS,
        "reps_run": reps_run,
        "sf": float(sf),
        "transcript_turns": n_turns,
        "transcript_turns_per_sec": (
            round(n_turns / pipe_sec, 1) if pipe_sec else None
        ),
        # best rep = least host-contaminated sample (contention is
        # one-sided on this shared-host VM); compare rounds on the median
        # AND sanity-check the best against the documented envelope
        "transcript_turns_per_sec_best": (
            round(n_turns / min(pipe_samples), 1) if pipe_samples else None
        ),
        "pipe_reps_sec": pipe_samples,
        "host_steal_pct": steal,
        "cpus": CPUS,
    }
    full = dict(compact)
    full["spread"] = spread
    out = Path(__file__).resolve().parent / "BENCH" / "last_bench.json"
    try:
        out.write_text(json.dumps(full, indent=1) + "\n")
    except OSError as e:  # never let the artifact write kill the stdout line
        print(f"bench: could not write {out}: {e}", file=sys.stderr)
    # Compact line LAST on stdout: the driver tails ~2000 chars; the
    # spread block lives only in BENCH/last_bench.json.
    sys.stdout.flush()
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
