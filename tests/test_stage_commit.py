"""Stage commits read their table back through the schema it was written
with: no listing or footer job, the same schema Spark would infer, and a
stage that writes zero rows still commits and verifies."""

from __future__ import annotations

import datetime as dt
import json
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from jobs.rollup_job import run_pipeline
from pneuma_treatment_spark.io.tableio import TableIO, read_schema
from pneuma_treatment_spark.plans.lineage import PipelineRunner, verify_partition_lineage
from pneuma_treatment_spark.plans.stages import LAYOUTS

ARGS = dict(n_convs=40, seed=11, mega_turns=800)


@pytest.fixture()
def workdir(tmp_path):
    wd = str(tmp_path / "wd")
    yield wd
    shutil.rmtree(wd, ignore_errors=True)


def _jobs_in_group(spark, group, fn):
    """Spark job ids ``fn()`` submits, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_with_known_schema_launches_no_jobs(spark, workdir):
    """A 2-day x 8-bucket table read through its written schema launches no
    job at all; the inferred read of the same table launches its footer job
    (the control that shows the job group counts)."""
    io = TableIO(spark, workdir, n_buckets=8)
    df = spark.range(400).select(
        F.format_string("conv%03d", F.col("id")).alias("conv_id"),
        (F.lit(dt.datetime(2024, 3, 1)) + F.expr("make_interval(0, 0, 0, 0, CAST(id % 48 AS INT))"))
        .alias("ts"),
        F.col("id").alias("v"),
    )
    schema = io.write(df, "t")
    days = [p for p in Path(io.path("t")).iterdir() if p.name.startswith("p_day=")]
    assert len(days) == 2
    assert all(len(list(d.glob("p_bucket=*"))) == 8 for d in days)

    known = _jobs_in_group(spark, "read-known-schema", lambda: io.read("t", schema=schema))
    assert known == []
    inferred = _jobs_in_group(spark, "read-inferred", lambda: io.read("t"))
    assert len(inferred) >= 1
    assert io.read("t", schema=schema).schema == io.read("t").schema


def test_empty_stage_commits_and_verifies(spark, workdir):
    """A stage that writes zero rows leaves no data file to infer a schema
    from; it still returns an empty frame with the written schema, records
    rows=0 and n_partitions=0, and its lineage verifies green."""
    io = TableIO(spark, workdir)
    build = lambda _io: spark.range(0).select(  # noqa: E731
        F.col("id").cast("string").alias("conv_id"),
        F.col("id").cast("timestamp").alias("ts"),
        F.col("id").alias("v"),
    )
    runner = PipelineRunner(io)
    out = runner.run_stage("empty", build)
    want = read_schema(io.with_partition_cols(build(io)).schema, ["p_day", "p_bucket"])
    assert out.schema == want
    assert out.count() == 0
    r = runner.results["empty"]
    assert (r.rows, r.n_partitions) == (0, 0)
    m = json.loads((Path(workdir) / "_manifest" / "empty.json").read_text())
    assert (m["rows"], m["n_partitions"]) == (0, 0)
    assert verify_partition_lineage(io, "empty")
    # resumed: the skipped branch reads through the manifest schema too
    again = PipelineRunner(io)
    assert again.run_stage("empty", build).schema == want
    assert again.results["empty"].skipped


def test_stage_schemas_equal_inferred(spark, workdir, monkeypatch):
    """Every stage's returned frame carries exactly the schema Spark infers
    from its table, both on a fresh run and on a resume whose first three
    stages are skipped."""
    returned: dict[str, tuple] = {}
    real = PipelineRunner.run_stage

    def spy(self, name, *a, **kw):
        out = real(self, name, *a, **kw)
        returned[name] = (out.schema, self.results[name].skipped)
        return out

    monkeypatch.setattr(PipelineRunner, "run_stage", spy)
    io = TableIO(spark, workdir)

    def check(expect_skipped):
        assert {n for n, (_, skipped) in returned.items() if skipped} == expect_skipped
        for name, (schema, _) in returned.items():
            assert schema == spark.read.parquet(io.path(name)).schema, name
            m = json.loads((Path(workdir) / "_manifest" / f"{name}.json").read_text())
            assert m["schema"] == schema.json(), name

    run_pipeline(spark, workdir, **ARGS, stop_after="treated")
    assert set(returned) == {"ingest", "filled", "treated"}
    check(set())
    returned.clear()
    run_pipeline(spark, workdir, **ARGS)
    assert len(returned) == 7
    check({"ingest", "filled", "treated"})


def test_empty_input_commits_every_stage(spark, tmp_path):
    """An input with no rows — a table holding one zero-row parquet file, or
    the shard of a sharded run that owns no conversation — scans as a frame
    with no partitions, so no task reports the commit's row observation.
    Every stage still commits empty with rows == 0 and lineage green."""
    from pneuma_treatment_spark.synth import generate_transcripts

    empty_in = str(tmp_path / "empty_in")
    generate_transcripts(spark, 0, seed=1).coalesce(1).write.parquet(empty_in)
    assert spark.read.parquet(empty_in).count() == 0
    runs = {
        "input_table": dict(n_convs=1, seed=1, input_table=empty_in),
        "empty_shard": dict(n_convs=1, seed=1, mega_turns=0, shard_count=2, shard_index=0),
    }
    for what, kw in runs.items():
        wd = str(tmp_path / what)
        summary = run_pipeline(spark, wd, **kw)
        assert {s: r["rows"] for s, r in summary["stages"].items()} == dict.fromkeys(LAYOUTS, 0), what
        io = TableIO(spark, wd)
        for s in LAYOUTS:
            assert verify_partition_lineage(io, s), (what, s)


def test_ttl_sweep_keeps_lineage_green(spark, workdir):
    """The TTL sweep rewrites the tier and chunk tables; each swept table's
    manifest rows and per-day counts must follow, so lineage stays green."""
    kw = dict(n_convs=6, seed=11, mega_turns=0)
    run_pipeline(spark, workdir, **kw)
    io = TableIO(spark, workdir)
    swept = ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")
    before = {t: io.read(t).count() for t in swept}
    first_day = io.read("rollup_1m").agg(F.min("p_day")).first()[0]
    run_pipeline(spark, workdir, **kw, ttl_now=str(first_day + dt.timedelta(days=91)))
    assert io.read("rollup_1m").count() < before["rollup_1m"]  # the sweep expired rows
    for t in swept:
        m = json.loads((Path(workdir) / "_manifest" / f"{t}.json").read_text())
        assert m["rows"] == io.read(t).count(), t
        assert verify_partition_lineage(io, t), t
