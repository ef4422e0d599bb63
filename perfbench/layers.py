"""Per-layer metrics of a traced run, from its spans and its event log.

Every metric is a mean over the traced operations that exercised its layer,
so counters that sum (stage shuffle bytes) add up to the matching
pipeline-level total (``app.shuffle_bytes``: every job the event log shows
submitted during a pipeline operation, whatever its group). A layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from spans import contained, descendants, jobs_within, span_totals
from workloads import TABLES as STAGES

_STAGE_KEYS = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "shuffle_bytes", "spill_bytes", "skew")


def layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, in report order."""
    u = {"run.first_op_s": "s", "run.peak_rss_mb": "MB",
         "session.build_s": "s", "session.prewarm_jobs": "count",
         "pipeline.wall_s": "s", "pipeline.overlap": "ratio", "tableio.read_s": "s"}
    for s in STAGES:
        u.update({f"stage.{s}.wall_s": "s", f"stage.{s}.driver_s": "s",
                  f"stage.{s}.jobs": "count", f"stage.{s}.out_bytes": "B",
                  f"stage.{s}.files": "count", f"stage.{s}.exec_cpu_s": "s",
                  f"stage.{s}.shuffle_bytes": "B", f"stage.{s}.spill_bytes": "B",
                  f"stage.{s}.skew": "ratio"})
    for s in ("treated", "chunks"):
        u.update({f"stage.{s}.python_s": "s", f"stage.{s}.arrow_bytes": "B"})
    u.update({"chunks.bytes_per_point": "B/point", "gorilla.encode_mb_s": "MB/s",
              "gorilla.decode_mb_s": "MB/s"})
    u.update({f"backfill.merge.{s}_s": "s" for s in STAGES})
    u.update({"backfill.driver_s": "s", "backfill.jobs": "count",
              "backfill.parts_rewritten": "count", "backfill.bytes_rewritten_frac": "ratio",
              "stream.rollup_sink_s": "s", "stream.capture_s": "s", "stream.driver_s": "s",
              "stream.jobs_per_cycle": "count", "stream.batches_per_cycle": "count",
              "app.shuffle_bytes": "B", "trace.op_s": "s"})
    return u


def _op_metrics(op, spans, jobs, extras: dict) -> dict:
    inside = [s for s in contained(op, spans) if s is not op]
    named = lambda n: [s for s in inside if s.name == n]  # noqa: E731
    m = dict(extras)
    stage_wall = 0.0
    for st in STAGES:
        for sp in named(f"stage.{st}"):  # one per pipeline
            t = span_totals(sp, descendants(sp, spans), jobs)
            stage_wall += t["wall_s"]
            keys = _STAGE_KEYS + (("python_s", "arrow_bytes") if st in ("treated", "chunks") else ())
            m.update({f"stage.{st}.{k}": t[k] for k in keys})
    for sp in named("pipeline"):
        m["pipeline.wall_s"] = sp.wall
        m["pipeline.overlap"] = stage_wall / sp.wall
        m["app.shuffle_bytes"] = sum(j.shuffle_bytes for j in jobs_within(jobs, sp.start, sp.end))
    reads = named("tableio.read")
    if reads:
        m["tableio.read_s"] = sum(s.wall for s in reads)
    for sp in named("backfill"):
        t = span_totals(sp, contained(sp, spans), jobs)
        m["backfill.driver_s"], m["backfill.jobs"] = t["driver_s"], t["jobs"]
        merges = [s for s in inside if s.name.startswith("backfill.merge.")]
        m["backfill.parts_rewritten"] = sum(s.attrs.get("parts_rewritten", 0) for s in merges)
        for st in STAGES:
            m[f"backfill.merge.{st}_s"] = sum(s.wall for s in merges if s.name == f"backfill.merge.{st}")
    for sp in named("stream.cycle"):
        t = span_totals(sp, contained(sp, spans), jobs)
        m["stream.driver_s"], m["stream.jobs_per_cycle"] = t["driver_s"], t["jobs"]
        m["stream.rollup_sink_s"] = sum(s.wall for s in named("stream.rollup_sink"))
        m["stream.capture_s"] = sum(s.wall for s in named("stream.capture"))
        m["stream.batches_per_cycle"] = sum(s.attrs["batches"] for s in named("stream.rollup_sink"))
    return m


def layer_metrics(tracer, jobs, ops, cold_build_s, build_end, traced, units) -> dict:
    """All per-layer metrics named in ``units``; see the module docstring."""
    by_group = {s.group: s for s in tracer.spans}
    per_op = [
        _op_metrics(by_group[o["span"]], tracer.spans, jobs, o.get("extras", {}))
        for o in ops if "span" in o
    ]
    out = {}
    for k in units:
        vals = [m[k] for m in per_op if k in m]
        out[k] = sum(vals) / len(vals) if vals else 0.0
    out["session.build_s"] = cold_build_s
    out["session.prewarm_jobs"] = len([j for j in jobs if j.submit <= build_end])
    if traced:
        out["trace.op_s"] = statistics.median(traced)
    return out
