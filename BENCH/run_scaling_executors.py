"""Executor-count scaling (the north_rule's actual N-vs-4N shape): emulate
executors as separate pinned Spark processes, data-parallel over
conversation shards.

Every pipeline stage keys by conv_id, so a shard-per-executor run produces
exactly the union of the single-executor run's outputs — the same way a real
cluster splits the table by partition. Unlike thread-level local[N] scaling,
each emulated executor has its own JVM, driver thread, GC, Python workers
and page-cache slice, so none of the single-process artifacts (shared
scheduler, allocator contention, auxiliary-thread spillover) pollute the
measurement.

Strong scaling (default): identical input at both levels.
  N=1: one pinned process over all conversations.
  N=4: four concurrent pinned processes, shard i of 4 each.
  efficiency = throughput(4 exec) / (4 x throughput(1 exec)).

Weak scaling (--weak): input grows with executors (each executor gets the
same per-executor work; on a real cluster this is "4x the nodes ingest 4x
the days in the same wall time").

HOST GATING (VERDICT r5 item 1). This box is a VM whose MEMORY BANDWIDTH IS
HETEROGENEOUS PER vCPU — a per-core STREAM-triad probe measured 0.07 GB/s
on one core and 12.3 GB/s on another IN THE SAME MINUTE (150x), with the
dead set shifting across minutes (BENCH/scaling_r06.md). Aggregate
fixed-core-range triads (the round-5 instrument) confound that lottery with
engine scaling. So each attempt:

1. PROBES every core serially (pinned 1-core triad each) and records the
   per-core GB/s table;
2. SELECTS the healthiest 4 x cores-per-exec cores; the attempt is unfit if
   fewer than that clear --min-gbs-per-core (host globally starved);
3. PINS the 1-exec level to the best cores-per-exec of the selection and
   the 4-exec level to all of it — the same decision a real cluster
   scheduler makes by draining unhealthy nodes. Giving the 1-exec level the
   BEST cores biases efficiency DOWNWARD (the 4-exec level includes the
   selection's tail), so a passing number is a lower bound, never flattered;
4. MEASURES the hardware scaling ceiling: concurrent triad aggregate on
   exec-0's cores vs on all selected cores. On this single-bus box a
   bandwidth-bound job cannot scale past that ratio; efficiency is
   reported both raw and relative to the ceiling (on a real 4-node
   cluster the ceiling is ~1.0 — a memory bus per node);
5. RE-PROBES the selected cores afterwards — if any fell below the floor,
   the host shifted mid-run and the attempt is discarded with forensics.

Unfit windows retry up to --max-attempts with --wait-sec between; every
attempt's per-core tables land in the artifact either way, so a failing
session leaves a committed host-unfit record instead of silence.

Usage: python BENCH/run_scaling_executors.py [--n-convs 100000] [--weak]
       [--cores-per-exec 8] [--max-attempts 3] [--min-gbs-per-core 0.5]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "BENCH"))
from hostmeta import cpu_ticks, steal_pct  # noqa: E402  (shared (steal, total) helper)

N_CORES = os.cpu_count() or 32


def probe_cores(cores: list[int] | None = None, dur: float = 2.0) -> dict[int, float]:
    """Serial per-core STREAM-triad (run_triad's fused out= kernel, one core
    at a time) → {core: GB/s}. Serial so cores never contend with each
    other — this measures the hypervisor's per-vCPU budget, nothing else."""
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from run_triad import _triad

    out: dict[int, float] = {}
    for c in cores if cores is not None else range(N_CORES):
        q: mp.Queue = mp.Queue()
        p = mp.Process(target=_triad, args=(c, q, dur))
        p.start()
        p.join(dur * 10 + 30)
        # a probe child that died (sched_setaffinity EINVAL under a
        # restricted cpuset, OOM) or hung must record 0.0 — an unhealthy
        # core the gate rejects — never block the session on q.get()
        try:
            val = q.get(timeout=5.0)
        except Exception:
            val = 0.0
        if p.is_alive():
            p.terminate()
            p.join()
        out[int(c)] = round(val, 2)
    return out


def triad_on(cores: list[int], dur: float = 3.0) -> float:
    """CONCURRENT STREAM-triad aggregate GB/s on an explicit core set (one
    pinned worker per core, all running together). Contrast with
    probe_cores (serial): the gap between sum-of-serial-probes and this
    concurrent aggregate IS the shared-bus contention a bandwidth-bound
    job pays on this box — on a real cluster each node has its own bus
    and the 4-node aggregate is ~4x by construction."""
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from run_triad import _triad

    q: mp.Queue = mp.Queue()
    ps = [mp.Process(target=_triad, args=(c, q, dur)) for c in cores]
    for p in ps:
        p.start()
    for p in ps:
        p.join(dur * 10 + 30)
    total = 0.0
    for p in ps:
        # a dead/hung worker contributes 0 → the aggregate (and thus the
        # hw ceiling) reads low and the window records unfit — never hang
        try:
            total += q.get(timeout=5.0)
        except Exception:
            pass
    for p in ps:
        if p.is_alive():
            p.terminate()
            p.join()
    return round(total, 2)


def _cmd(core_list: list[int], wd: str, n_convs: int, mega: int, seed: int,
         shard: int, nshards: int):
    return [
        "taskset", "-c", ",".join(str(c) for c in core_list),
        sys.executable, str(REPO / "jobs" / "rollup_job.py"),
        "--workdir", wd,
        "--n-convs", str(n_convs),
        "--mega-turns", str(mega),
        "--seed", str(seed),
        "--cpus", str(len(core_list)),
        "--buckets", "8",
        "--shard-index", str(shard),
        "--shard-count", str(nshards),
    ]


def run_level(assignments: list[list[int]], n_convs: int, mega: int, seed: int) -> dict:
    """One scaling level: len(assignments) concurrent processes, executor i
    pinned to assignments[i], covering conv shards 0..n-1 of ``n_convs``."""
    n_exec = len(assignments)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    dirs, procs = [], []
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    for i, cores in enumerate(assignments):
        wd = tempfile.mkdtemp(prefix=f"exec{n_exec}_{i}_", dir=base)
        sd = tempfile.mkdtemp(prefix=f"exec{n_exec}_{i}_shuffle_", dir=base)
        dirs += [wd, sd]
        env = dict(os.environ, SPARK_LOCAL_DIRS=sd)
        procs.append(
            subprocess.Popen(
                _cmd(cores, wd, n_convs, mega, seed, i, n_exec),
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                cwd=REPO, env=env,
            )
        )
    outs = [p.communicate(timeout=3600)[0] for p in procs]
    wall = time.perf_counter() - t0
    steal = steal_pct(ticks0, cpu_ticks())
    turns = 0
    for o in outs:
        last = [l for l in o.strip().splitlines() if l.startswith("{")][-1]
        turns += json.loads(last)["turns"]
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return {"n_exec": n_exec, "cores": assignments, "wall_sec": round(wall, 2),
            "turns": turns, "turns_per_sec": round(turns / wall, 1),
            "steal_pct": steal}


def attempt(args) -> dict:
    """One gated attempt: per-core probe → select healthy cores → 1-exec →
    4-exec → re-probe selection. ``fit`` says whether it counts."""
    cpe = args.cores_per_exec
    need = 4 * cpe
    rec: dict = {"mode": "weak" if args.weak else "strong"}
    pre = probe_cores(dur=args.probe_dur)
    rec["probe_pre"] = pre
    healthy = sorted(
        (c for c, g in pre.items() if g >= args.min_gbs_per_core),
        key=lambda c: -pre[c],
    )
    rec["n_healthy"] = len(healthy)
    if len(healthy) < need:
        rec["fit"] = False
        rec["unfit_reason"] = (
            f"only {len(healthy)}/{need} cores clear "
            f"{args.min_gbs_per_core} GB/s (host starved/heterogeneous)"
        )
        return rec
    sel = sorted(healthy[:need], key=lambda c: -pre[c])
    # executor 0 (also the 1-exec level) gets the BEST cpe cores; the
    # 4-exec level spans the whole selection incl. its tail → efficiency
    # is a lower bound, never flattered by the core lottery
    assignments = [sorted(sel[i * cpe:(i + 1) * cpe]) for i in range(4)]
    rec["selected"] = {str(c): pre[c] for c in sel}
    # hardware scaling ceiling: concurrent triad on exec-0's cores vs on
    # ALL selected cores, same session. A bandwidth-bound job cannot scale
    # past hw4/(4*hw1) on this box (single shared bus); the engine's
    # efficiency is judged against that ceiling, not against an ideal the
    # hardware itself can't reach. On a real 4-node cluster the ceiling is
    # ~1.0 by construction (a bus per node).
    hw1 = triad_on(assignments[0], args.probe_dur)
    hw4 = triad_on(sel, args.probe_dur)
    rec["hw_control"] = {
        "agg_1exec_gbs": hw1,
        "agg_4exec_gbs": hw4,
        "bandwidth_scaling_ceiling": round(hw4 / (4 * hw1), 3) if hw1 else 0.0,
    }
    if args.weak:
        one = run_level(assignments[:1], args.n_convs, args.mega_turns, args.seed)
        four = run_level(assignments, 4 * args.n_convs, args.mega_turns, args.seed)
    else:
        one = run_level(assignments[:1], args.n_convs, args.mega_turns, args.seed)
        four = run_level(assignments, args.n_convs, args.mega_turns, args.seed)
        assert one["turns"] == four["turns"], "shards must cover the same input"
    rec["one_exec"], rec["four_exec"] = one, four
    rec["efficiency"] = round(
        four["turns_per_sec"] / (4 * one["turns_per_sec"]), 3
    )
    ceil = rec["hw_control"]["bandwidth_scaling_ceiling"]
    if ceil:
        rec["eff_vs_hw_ceiling"] = round(rec["efficiency"] / ceil, 3)
    post = probe_cores(cores=sel, dur=args.probe_dur)
    rec["probe_post"] = post
    reasons = []
    fell = [c for c in sel if post[c] < args.min_gbs_per_core]
    if fell:
        reasons.append(
            f"cores {fell} fell below {args.min_gbs_per_core} GB/s after "
            "the run (host shifted mid-run)"
        )
    for lvl in (one, four):
        if lvl["steal_pct"] > args.max_steal_pct:
            reasons.append(
                f"{lvl['n_exec']}-exec steal {lvl['steal_pct']}% > "
                f"{args.max_steal_pct}%"
            )
    rec["fit"] = not reasons
    if reasons:
        rec["unfit_reason"] = "; ".join(reasons)
    return rec


def main() -> None:
    mp.set_start_method("spawn", force=True)
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=100000)
    ap.add_argument("--mega-turns", type=int, default=100000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--weak", action="store_true",
                    help="weak scaling: input grows with executors")
    ap.add_argument("--cores-per-exec", type=int, default=8)
    ap.add_argument("--max-attempts", type=int, default=3)
    ap.add_argument("--wait-sec", type=float, default=180.0,
                    help="pause between unfit windows before retrying")
    ap.add_argument("--max-steal-pct", type=float, default=3.0)
    ap.add_argument("--min-gbs-per-core", type=float, default=0.5,
                    help="per-core bandwidth floor a core must clear to be "
                         "schedulable (and keep clearing post-run)")
    ap.add_argument("--probe-dur", type=float, default=2.0)
    ap.add_argument("--out", default=str(REPO / "BENCH" / "SCALING_EXECUTORS.json"))
    args = ap.parse_args()

    attempts = []
    final = None
    for i in range(args.max_attempts):
        print(f"attempt {i + 1}/{args.max_attempts} ...", file=sys.stderr, flush=True)
        rec = attempt(args)
        rec["attempt"] = i + 1
        attempts.append(rec)
        print(json.dumps(rec), file=sys.stderr, flush=True)
        if rec["fit"]:
            final = rec
            break
        if i + 1 < args.max_attempts:
            time.sleep(args.wait_sec)

    result = {
        "protocol": (
            f"1 vs 4 emulated executors (pinned {args.cores_per_exec}-core "
            "processes, conv shards), "
            + ("WEAK scaling (input prop. to executors), " if args.weak else "")
            + "per-core-probe host-gated (healthiest-core scheduling)"
        ),
        "n_convs": args.n_convs,
        "gate": {"min_gbs_per_core": args.min_gbs_per_core,
                 "max_steal_pct": args.max_steal_pct},
        "attempts": attempts,
        "host_fit": final is not None,
    }
    if final is not None:
        result["turns"] = final["one_exec"]["turns"]
        result["one_exec"] = final["one_exec"]
        result["four_exec"] = final["four_exec"]
        result["efficiency"] = final["efficiency"]
        result["hw_control"] = final["hw_control"]
        result["eff_vs_hw_ceiling"] = final.get("eff_vs_hw_ceiling")
        result["pass"] = final["efficiency"] >= 0.8
        result["pass_vs_hw_ceiling"] = (
            final.get("eff_vs_hw_ceiling") is not None
            and final["eff_vs_hw_ceiling"] >= 0.8
        )
    else:
        result["verdict"] = (
            "host unfit in every attempted window — per-core forensics per "
            "attempt above; engine scaling cannot be judged from this session"
        )
    Path(args.out).write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
