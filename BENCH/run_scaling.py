"""Scaling-efficiency protocol (BASELINE.md): run the identical pipeline job
at two parallelism levels on identical input, cold JVM + cold workdir each,
and report throughput at both plus efficiency = (T_lo/T_hi)/(hi/lo).

Methodology notes (single-box N-vs-4N proxy for an N-vs-4N-executor cluster):

* the low level is pinned to that many HARDWARE cores with ``taskset`` --
  otherwise ``local[8]`` is "8 task slots plus unlimited JVM shuffle/GC and
  Python-worker threads on all 32 cores", which inflates the small-cluster
  baseline and understates true scaling;
* tables and shuffle dirs live on tmpfs -- on a real cluster storage
  bandwidth scales with executors; a single shared disk is a local-mode
  artifact that would show up as a fake serial term.

Usage: python BENCH/run_scaling.py [--n-convs 300000] [--out BENCH/BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "BENCH"))
from hostmeta import cpu_ticks  # noqa: E402  (shared (steal, total) helper)



def run_once(
    cpus: int, n_convs: int, mega: int, seed: int, pin: bool, compact: bool = False
) -> dict:
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    wd = tempfile.mkdtemp(prefix=f"scale_{cpus}_", dir=base)
    shuffle_dir = tempfile.mkdtemp(prefix=f"scale_shuffle_{cpus}_", dir=base)
    env = dict(os.environ, SPARK_LOCAL_DIRS=shuffle_dir)
    cmd = [
        sys.executable,
        str(REPO / "jobs" / "rollup_job.py"),
        "--workdir", wd,
        "--n-convs", str(n_convs),
        "--mega-turns", str(mega),
        "--seed", str(seed),
        "--cpus", str(cpus),
        "--buckets", "8",
    ]
    if compact:
        cmd.append("--compact")
    if pin:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    try:
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        proc = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, timeout=3600, env=env
        )
        wall = time.perf_counter() - t0
        ticks1 = cpu_ticks()
        last = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")][-1]
        summary = json.loads(last)
        summary["proc_wall_sec"] = round(wall, 1)
        summary["cpus"] = cpus
        summary["pinned"] = pin
        dt = ticks1[1] - ticks0[1]
        summary["steal_pct"] = (
            round(100.0 * (ticks1[0] - ticks0[0]) / dt, 2) if dt else 0.0
        )
        return summary
    finally:
        shutil.rmtree(wd, ignore_errors=True)
        shutil.rmtree(shuffle_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=300000)
    ap.add_argument("--mega-turns", type=int, default=200000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--levels", type=int, nargs=2, default=[8, 32])
    ap.add_argument("--out", default=str(REPO / "BENCH" / "BASELINE.md"))
    ap.add_argument(
        "--compact", action="store_true",
        help="run tier compaction after each pipeline (measures the ops "
        "path, not just the build path; wall includes the compaction)",
    )
    args = ap.parse_args()

    lo, hi = args.levels
    n_hw = os.cpu_count() or hi
    runs = {
        lo: run_once(
            lo, args.n_convs, args.mega_turns, args.seed, pin=True,
            compact=args.compact,
        ),
        hi: run_once(
            hi, args.n_convs, args.mega_turns, args.seed, pin=(hi < n_hw),
            compact=args.compact,
        ),
    }
    t_lo, t_hi = runs[lo]["total_wall_sec"], runs[hi]["total_wall_sec"]
    tp_lo, tp_hi = runs[lo]["turns_per_sec"], runs[hi]["turns_per_sec"]
    eff = (t_lo / t_hi) / (hi / lo)

    lines = [
        "# BENCH/BASELINE -- scaling-efficiency evidence",
        "",
        "Protocol (BASELINE.md): identical full pipeline job (synth -> gap-fill ->",
        "treatment -> 1m/1h/1d rollup cascade -> Gorilla chunks, all stages",
        "checkpointed) at two parallelism levels, cold JVM + cold workdir each run.",
        f"The local[{lo}] run is pinned to {lo} hardware cores with taskset so the",
        "small level cannot borrow JVM/Python auxiliary threads from idle cores;",
        "tables + shuffle dirs on tmpfs (per-node storage scales with cluster size",
        "on a real deployment; a single shared disk is a local-mode artifact).",
        f"Input: {args.n_convs} conversations (~{runs[lo]['turns']} turns, seed {args.seed},",
        f"mega-conversation of {args.mega_turns} turns exercising the salted/chunked skew path).",
        *(
            ["Tier COMPACTION runs after each pipeline (--compact): the wall "
             "includes the ops path.", ""]
            if args.compact
            else [""]
        ),
        "| parallelism | pipeline wall (s) | turns/sec | host steal % | per-stage (s) |",
        "|---|---|---|---|---|",
    ]
    for p in (lo, hi):
        st = runs[p]["stages"]
        per = ", ".join(f"{k}={v['wall_sec']}" for k, v in st.items())
        lines.append(
            f"| local[{p}]{' (pinned)' if runs[p]['pinned'] else ''} | "
            f"{runs[p]['total_wall_sec']} | {runs[p]['turns_per_sec']} | "
            f"{runs[p]['steal_pct']} | {per} |"
        )
    lines += [
        "",
        f"**Scaling efficiency local[{lo}] -> local[{hi}]** = (T{lo}/T{hi}) / ({hi}/{lo})"
        f" = ({t_lo:.1f}/{t_hi:.1f}) / {hi // lo} = **{eff:.3f}**"
        f" -- {'PASS' if eff >= 0.8 else 'FAIL'} vs the >=0.8 criterion.",
        "",
        f"Throughput: {tp_lo} turns/sec at local[{lo}] -> {tp_hi} turns/sec at local[{hi}].",
        "",
    ]
    Path(args.out).write_text("\n".join(lines))
    print(json.dumps({"efficiency": round(eff, 3), "t_lo": t_lo, "t_hi": t_hi,
                      "tp_lo": tp_lo, "tp_hi": tp_hi,
                      "steal_pct": {p: runs[p]["steal_pct"] for p in (lo, hi)}}))


if __name__ == "__main__":
    main()
