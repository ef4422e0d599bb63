"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_rollup --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, drives the engine only through its public
functions on ``local[<cores>]`` in this one process, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``. The line
before it is a report with sample counts, per-operation walls and host
context (cores, steal %, load average); the same report and the recorded
spans are written to ``.perfbench/reports/``.

Order of a run: generate inputs from the seed; build the session three
times (the first builds the JVM; ``setup_s`` is the median of the three);
the first, cold operation; then warm operations for ``--seconds``, and at
least the workload's ``min_ops`` of them so every run medians the same
number of samples (``op_s``). Every operation is checked. With
``--trace 1`` the last build has the event log on and spans are recorded;
the run prints the per-layer metrics of its warm operations instead, with
the cold operation's wall, the peak RSS of the process tree, and
``trace.op_s``, the warm operations' median wall with tracing on: the
tracing overhead is ``trace.op_s`` minus ``op_s`` of the untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
E2E_UNITS = {"op_s": "s", "setup_s": "s", "bytes_per_turn": "B/turn"}
BUILDS = 3
#: no new operation starts this long after process start, so a run ends
#: within three minutes however slow the host is
DEADLINE_S = 140


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the driver
    JVM and its Python workers), sampled from /proc every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb, self.pids, self._halt = 0, set(), threading.Event()

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += children.get(p, [])
        return out

    def run(self) -> None:
        while not self._halt.wait(0.5):
            kb = 0
            for p in self.tree():
                self.pids.add(p)
                try:
                    with open(f"/proc/{p}/statm") as f:
                        kb += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
                except (OSError, IndexError, ValueError):
                    pass
            self.peak_kb = max(self.peak_kb, kb)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def build_session(work: Path, cores: int, event_log: Path | None):
    from pneuma_treatment_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false", "spark.eventLog.dir": str(event_log),
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark, sampler: RssSampler) -> None:
    """Stop the session, shut the JVM down and wait for every process this
    run started (JVM, Python workers) to exit; kill stragglers."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    me = os.getpid()
    end = time.time() + 15
    while time.time() < end:
        alive = [p for p in sampler.pids if p != me and os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run_ops(wl, spark, ops: list, seconds: float, min_ops: int, deadline: float,
            corrupt: bool, tracer=None) -> list[float]:
    """Append operations to ``ops`` until ``seconds`` have passed and
    ``min_ops`` have run, each checked; returns the successful ones' walls."""
    from workloads import table_files, written_bytes

    walls, t0, first = [], time.perf_counter(), len(ops)
    while len(ops) - first < min_ops or time.perf_counter() - t0 < seconds:
        i = len(ops)
        if time.perf_counter() > deadline or i >= wl.max_ops():
            break
        rec = {"i": i}
        try:
            wl.stage(i)
            before = table_files(*wl.out_dirs(i))
            with tracer.span("op", spark.sparkContext) if tracer else nullcontext() as sp:
                t = time.perf_counter()
                rec["turns"] = wl.op(spark, i)
                rec["wall_s"] = time.perf_counter() - t
            rec["bytes"] = written_bytes(before, table_files(*wl.out_dirs(i)))
            if sp is not None:
                rec["span"] = sp.group
                rec["extras"] = wl.layer_extras(spark, i)
            if corrupt:
                wl.corrupt(i)
            t = time.perf_counter()
            rec["problems"] = wl.check(spark, i)
            rec["check_s"] = time.perf_counter() - t
        except Exception as e:  # a failed operation is counted, not fatal
            rec["problems"] = [f"{type(e).__name__}: {e}"]
        rec["ok"] = not rec["problems"]
        ops.append(rec)
        wl.cleanup(i)
        if rec["ok"]:
            walls.append(rec["wall_s"])
    return walls


def run_epilogue(wl, spark, tracer, n_ops: int) -> dict:
    """A traced run's closing operation (checked, not part of any wall metric)."""
    rec = {"i": "epilogue"}
    try:
        with tracer.span("op", spark.sparkContext) as sp:
            rec["span"] = sp.group
            rec["extras"], rec["problems"] = wl.epilogue(spark, n_ops)
    except Exception as e:  # counted as a failed operation
        rec["problems"] = [f"{type(e).__name__}: {e}"]
    rec["ok"] = not rec["problems"]
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one output row after each operation (smoke test of the checks)")
    args = ap.parse_args()

    if not (ROOT / "pneuma_treatment_spark" / "session.py").is_file() or not (
        ROOT / "jobs" / "rollup_job.py"
    ).is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # everything this run writes stays under the checkout
    os.environ.update({
        "PYTHONPATH": str(ROOT), "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"), "SPARK_GRAFT_DRIVER_MEM": "2g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None
    from BENCH.hostmeta import cpu_ticks, steal_pct

    ticks0, load0 = cpu_ticks(), os.getloadavg()
    sampler = RssSampler()
    sampler.start()
    tracer = None
    if args.trace:
        from spans import Tracer, read_event_log

        tracer = Tracer()
    wl = WORKLOADS[args.workload](work, args.seed, args.size)
    deadline = t_start + DEADLINE_S
    ops: list[dict] = []
    spark = None
    try:
        wl.generate()
        builds, build_end = [], 0.0
        for b in range(BUILDS):
            if spark is not None:
                spark.stop()
            traced = tracer is not None and b == BUILDS - 1
            t = time.perf_counter()
            spark = build_session(work, cores, work / "eventlog" if traced else None)
            builds.append(time.perf_counter() - t)
            build_end = time.time()
        if tracer is not None:
            tracer.install(spark)
        run_ops(wl, spark, ops, 0, 1, deadline, args.corrupt, tracer)  # the cold one
        walls = run_ops(wl, spark, ops, args.seconds, wl.min_ops, deadline, args.corrupt, tracer)
        if tracer is not None:
            if hasattr(wl, "epilogue"):
                ops.append(run_epilogue(wl, spark, tracer, len(ops)))
            tracer.uninstall()
    finally:
        if spark is not None:
            stop_jvm(spark, sampler)
        sampler.stop()
    try:
        jobs = read_event_log(str(work / "eventlog")) if tracer is not None else []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    good = [o for o in ops if o["ok"]]
    failed = len(ops) - len(good)
    measured = walls or [o["wall_s"] for o in ops[1:] if "wall_s" in o] or [0.0]
    report = {
        "workload": args.workload, "seed": args.seed, "size": wl.p, "cores": cores,
        "builds_s": builds, "first_op_s": ops[0].get("wall_s") if ops else None,
        "op_walls_s": [o.get("wall_s") for o in ops], "samples": len(walls),
        "check_walls_s": [o.get("check_s") for o in ops],
        "problems": [p for o in ops for p in o["problems"]],
        "host": {"nproc": os.cpu_count(), "affinity": cores,
                 "steal_pct": steal_pct(ticks0, cpu_ticks()),
                 "loadavg_start": load0, "loadavg_end": os.getloadavg()},
        "run_s": time.perf_counter() - t_start,
    }
    if args.trace:
        from layers import layer_metrics, layer_units

        units = layer_units()
        metrics = layer_metrics(tracer, jobs, ops[1:], builds[0], build_end, walls, units)
        metrics["run.first_op_s"] = ops[0].get("wall_s", 0.0)
        metrics["run.peak_rss_mb"] = sampler.peak_kb / 1024
    else:
        metrics = {
            "op_s": statistics.median(measured),
            "setup_s": statistics.median(builds),
            "bytes_per_turn": statistics.median(
                [o["bytes"] / o["turns"] for o in (good or ops) if "bytes" in o] or [0.0]
            ),
        }
        units = E2E_UNITS
    reports = ROOT / ".perfbench" / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (reports / f"{name}.json").write_text(json.dumps(
        {"report": report, "metrics": metrics,
         "spans": [vars(s) for s in tracer.spans] if tracer else []}, indent=1, default=str))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
