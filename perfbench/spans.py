"""Spans around public engine calls, and Spark task counters from the event log.

A :class:`Tracer` wraps the public entry points the workloads call and the
layer boundaries below them (see :meth:`Tracer.install`). Each wrapped call records a span (name, parent,
thread, wall-clock start/end) in memory and tags the Spark jobs it submits
with a job group unique to that span, so jobs from the pipeline's two
concurrent branches are attributed to the right stage. Streaming queries
run their jobs under their own ``runId`` group; the wrapper records that id
on the span instead.

After the session stops, :func:`read_event_log` folds the uncompressed event
log into jobs, each with its group, interval and task counters (CPU,
shuffle, spill, Python-worker time and Arrow bytes); :func:`span_totals`
sums the jobs of a span and the spans below it.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; :meth:`install` patches the engine's public
    calls, :meth:`uninstall` restores them."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, sc):
        """A span on this thread, tagging the Spark jobs it submits with a
        job group of its own (restored to the enclosing one on exit)."""
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(name, f"pb-{next(self._ids)}-{name}", stack[-1].group if stack else None,
                  time.time())
        stack.append(sp)
        prev = sc.getLocalProperty(_GROUP_KEY)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            sc.setLocalProperty(_GROUP_KEY, prev)
            with self._lock:
                self.spans.append(sp)

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self, spark) -> None:
        from jobs import rollup_job, stream_ingest_job
        from pneuma_treatment_spark.io.tableio import TableIO
        from pneuma_treatment_spark.plans import backfill
        from pneuma_treatment_spark.plans.lineage import PipelineRunner
        from pneuma_treatment_spark.streaming import rollup_stream

        sc = spark.sparkContext
        tracer = self

        def call(name, note=None):
            """Wrap a function in a span; ``name`` may be computed from the
            call's arguments, ``note(span, result)`` records attributes."""
            def make(orig):
                def wrapped(*a, **kw):
                    with tracer.span(name(*a) if callable(name) else name, sc) as sp:
                        out = orig(*a, **kw)
                        if note is not None:
                            note(sp, out)
                        return out
                return wrapped
            return make

        def query(sp, q):  # a streaming query tags its jobs with its runId
            sp.attrs.update(run_id=str(q.runId), batches=len(q.recentProgress))

        def merged(sp, out):
            sp.attrs["parts_rewritten"] = out.get("parts_rewritten") or 0

        self._patch(rollup_job, "run_pipeline", call("pipeline"))
        self._patch(backfill, "backfill_pipeline", call("backfill"))
        self._patch(stream_ingest_job, "run_stream_cycle", call("stream.cycle"))
        self._patch(PipelineRunner, "run_stage", call(lambda runner, name, *_: f"stage.{name}"))
        self._patch(TableIO, "read", call("tableio.read"))
        self._patch(backfill, "merge_conv_scoped",
                    call(lambda io, table, *_: f"backfill.merge.{table}", merged))
        self._patch(rollup_stream, "run_rollup_chunk_sink", call("stream.rollup_sink", query))
        self._patch(rollup_stream, "run_deadletter_capture", call("stream.capture", query))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


@dataclass
class Job:
    group: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0
    arrow_bytes: int = 0
    task_run_ms: dict = field(default_factory=lambda: defaultdict(list))  # stage -> runs


def read_event_log(log_dir: str) -> list[Job]:
    """Every job of the one finished application log in ``log_dir``, with its
    group, interval and the summed task counters of the stages it ran."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get(_GROUP_KEY)
                jobs[jid] = Job(group, ev["Submission Time"] / 1000)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)  # skipped re-listings keep the runner
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                job = jobs[stage_job[sid]]
                m = ev.get("Task Metrics") or {}
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                job.task_run_ms[sid].append(m.get("Executor Run Time", 0))
                for acc in ev["Task Info"].get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == "time to run Python workers":
                        job.python_s += int(upd) / 1000
                    elif name in ("data sent to Python workers", "data returned from Python workers"):
                        job.arrow_bytes += int(upd)
    return list(jobs.values())


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def descendants(span: Span, spans: list[Span]) -> list[Span]:
    """``span`` and the spans opened below it on the same thread."""
    out, frontier = [span], [span]
    while frontier:
        groups = {s.group for s in frontier}
        frontier = [s for s in spans if s.parent in groups]
        out += frontier
    return out


def contained(span: Span, spans: list[Span]) -> list[Span]:
    """``span`` and every span, on any thread, that ran inside its interval.
    Valid for spans nothing else runs beside (an operation, a backfill)."""
    return [span] + [s for s in spans if s is not span and span.start <= s.start and s.end <= span.end]


def span_totals(span: Span, members: list[Span], jobs: list[Job]) -> dict:
    """Counters of the jobs tagged by ``members`` (spans, or the streaming
    queries they started), over ``span``'s wall: driver time (wall minus
    the union of the jobs' intervals), jobs, CPU, shuffle, spill, Python
    time, Arrow bytes and task skew (max ÷ median run time in the stage with
    the most task time)."""
    mine = {s.group for s in members} | {s.attrs["run_id"] for s in members if "run_id" in s.attrs}
    return job_totals([j for j in jobs if j.group in mine], span.wall)


def job_totals(jobs: list[Job], wall: float) -> dict:
    runs = [r for j in jobs for r in j.task_run_ms.values()]
    heavy = max(runs, key=sum, default=[])
    med = statistics.median(heavy) if heavy else 0
    return {
        "wall_s": wall,
        "driver_s": max(wall - _union_len([(j.submit, j.end) for j in jobs]), 0.0),
        "jobs": len(jobs),
        "exec_cpu_s": sum(j.cpu_s for j in jobs),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "python_s": sum(j.python_s for j in jobs),
        "arrow_bytes": sum(j.arrow_bytes for j in jobs),
        "skew": max(heavy) / med if med else 1.0,
    }


def jobs_within(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] (epoch seconds), whatever their group."""
    return [j for j in jobs if start <= j.submit <= end]
