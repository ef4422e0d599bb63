"""Per-query profiling harness (guide §1.4 noop-sink isolation).

NOT the driver bench — bench.py is frozen for measurement. This tool exists
to (a) time individual queries warm with more reps, (b) dump
``explain("formatted")`` plans to a directory, (c) count Spark jobs + stages
per query via a status listener, so optimization work targets the real cost
(job launches / planning / exchanges vs executor compute).

Usage:
    python bench_extra.py --reps 5 [--explain plans/dump --suffix _before] [q1 q2 ...]
    python bench_extra.py --pipeline            # per-stage pipeline walls
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--explain", default=None, help="dir to write explain files")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--pipeline", action="store_true")
    ap.add_argument("--pipe-convs", type=int, default=60000)
    args = ap.parse_args()

    from pneuma_treatment_spark import queries as q
    from pneuma_treatment_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    if args.pipeline:
        import shutil
        import tempfile

        from jobs.rollup_job import run_pipeline

        wd = tempfile.mkdtemp(prefix="bx_pipe_")
        try:
            t0 = time.perf_counter()
            summary = run_pipeline(
                spark, wd, n_convs=args.pipe_convs, seed=42, mega_turns=100000,
                stats="fast",
            )
            wall = time.perf_counter() - t0
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        out = {
            "total": round(wall, 2),
            "stages": {
                n: r["wall_sec"] for n, r in summary["stages"].items()
            },
        }
        print(json.dumps(out))
        return

    # job/stage counting via the Java status tracker (job ids before/after)
    tracker = sc.statusTracker()

    names = args.queries or [n for n in q.Q]
    from bench import HEADLINE

    if not args.queries:
        names = HEADLINE
    results = {}
    for name in names:
        fn = q.Q[name]
        if args.explain:
            df = fn(spark, SF_DIR)
            p = Path(args.explain)
            p.mkdir(parents=True, exist_ok=True)
            (p / f"{name}{args.suffix}.txt").write_text(
                df._sc is not None and df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                or ""
            )
        walls = []
        jobs0 = len(tracker.getJobIdsForGroup(None) or [])
        for rep in range(args.reps):
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            walls.append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        alljobs = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        results[name] = {
            "median": round(statistics.median(walls), 3),
            "min": min(walls),
            "walls": walls,
            "jobs_per_rep": round((len(alljobs) - jobs0) / args.reps, 1),
        }
        print(name, json.dumps(results[name]), flush=True)
    total = round(sum(r["median"] for r in results.values()), 2)
    print(json.dumps({"total_median": total}))


if __name__ == "__main__":
    main()
