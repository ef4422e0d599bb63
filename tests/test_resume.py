"""Kill-and-resume semantics (SURVEY.md §5 item 5): a job stopped after
stage k resumes without recomputing k stages and produces identical output."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest

from jobs.rollup_job import run_pipeline
from pneuma_treatment_spark.io.tableio import DAY_BUCKET, TableIO
from pneuma_treatment_spark.plans.lineage import verify_partition_lineage

ARGS = dict(n_convs=40, seed=11, mega_turns=800)


@pytest.fixture()
def workdir(tmp_path):
    wd = str(tmp_path / "wd")
    yield wd
    shutil.rmtree(wd, ignore_errors=True)


ALL_STAGES = {
    "ingest", "filled", "treated", "rollup_1m", "rollup_1h", "rollup_1d", "chunks",
}


@pytest.mark.parametrize(
    "stop_after, done",
    [
        # kill points on each branch of the two-branch executor
        ("treated", {"ingest", "filled", "treated"}),
        ("rollup_1h", {"ingest", "rollup_1m", "rollup_1h"}),
    ],
    ids=["treated", "rollup_1h"],
)
def test_resume_skips_completed_stages(spark, workdir, stop_after, done):
    # simulate a kill after `stop_after`: only it and its upstream stages ran
    s1 = run_pipeline(spark, workdir, **ARGS, stop_after=stop_after)
    assert set(s1["stages"]) == done
    assert not any(st["skipped"] for st in s1["stages"].values())

    # resume: completed stages skip, remaining stages run
    s2 = run_pipeline(spark, workdir, **ARGS)
    assert set(s2["stages"]) == ALL_STAGES
    assert {n for n, st in s2["stages"].items() if st["skipped"]} == done
    assert not s2["stages"]["rollup_1d"]["skipped"]

    # resumed output == fresh output
    io = TableIO(spark, workdir)
    resumed = io.read("rollup_1d").toPandas()
    fresh_dir = workdir + "_fresh"
    run_pipeline(spark, fresh_dir, **ARGS)
    fresh = TableIO(spark, fresh_dir).read("rollup_1d").toPandas()
    cols = sorted(resumed.columns)
    a = resumed[cols].sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    b = fresh[cols].sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    shutil.rmtree(fresh_dir, ignore_errors=True)


def test_partition_lineage_manifest(spark, workdir):
    run_pipeline(spark, workdir, **ARGS)
    io = TableIO(spark, workdir)
    for stage in ("ingest", "filled", "rollup_1m", "rollup_1h", "rollup_1d"):
        assert verify_partition_lineage(io, stage), stage


def test_config_change_invalidates_downstream(spark, workdir):
    """A rerun with a changed seed recomputes every stage and REPLACES its
    table: all seven tables equal a fresh run of the new seed, with lineage
    green on each. A write that kept the old run's partitions would leave
    its rows next to the new ones."""
    run_pipeline(spark, workdir, **ARGS)
    s2 = run_pipeline(spark, workdir, **{**ARGS, "seed": 12})
    assert not any(st["skipped"] for st in s2["stages"].values())

    fresh_dir = workdir + "_fresh"
    run_pipeline(spark, fresh_dir, **{**ARGS, "seed": 12})
    io, fresh = TableIO(spark, workdir), TableIO(spark, fresh_dir)
    try:
        for table in sorted(ALL_STAGES):
            rerun = io.read(table)
            want = fresh.read(table).select(*rerun.columns)
            assert rerun.exceptAll(want).count() == 0, table
            assert want.exceptAll(rerun).count() == 0, table
            assert verify_partition_lineage(io, table), table
    finally:
        shutil.rmtree(fresh_dir, ignore_errors=True)


def test_lineage_detects_tampered_table(spark, workdir):
    """The distributed recount must FAIL (cleanly, not crash) when a
    stage's data no longer matches its recorded per-partition counts, and
    when the counts table is absent (stats='fast' workdirs)."""
    import shutil as _sh
    from pathlib import Path

    run_pipeline(spark, workdir, **ARGS)
    io = TableIO(spark, workdir)
    assert verify_partition_lineage(io, "rollup_1d")
    # drop one day-partition directory from the table -> counts disagree
    table_dir = Path(io.path("rollup_1d"))
    victim = sorted(p for p in table_dir.iterdir() if p.name.startswith("p_day="))[0]
    _sh.rmtree(victim)
    assert verify_partition_lineage(io, "rollup_1d") is False
    # missing counts table (fast-stats manifests) -> clean False
    _sh.rmtree(Path(io.root) / "_manifest" / "ingest_partitions")
    assert verify_partition_lineage(io, "ingest") is False


def test_compact_collapses_small_files(spark, tmp_path):
    """TableIO.compact (Iceberg rewriteDataFiles analog) must collapse a
    fragmented table to few files per partition dir while preserving every
    row exactly and keeping the partition layout prunable."""
    import os

    from pyspark.sql import functions as F

    io = TableIO(spark, str(tmp_path / "ct"), n_buckets=2)
    e = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    schema = io.write(e, "t")
    # fragment it: 6 appends of 4-way-split slices -> many files per dir
    frag = io.with_partition_cols(e.limit(2000))
    for _ in range(6):
        frag.repartition(4).write.mode("append").partitionBy(
            "p_day", "p_bucket"
        ).parquet(io.path("t"))

    def nfiles():
        return sum(
            1
            for _, _, fs in os.walk(io.path("t"))
            for f in fs
            if f.endswith(".parquet")
        )

    before_rows = io.read("t").count()
    before_files = nfiles()
    before = io.read("t").groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).toPandas().sort_values("conv_id").reset_index(drop=True)

    io.compact("t", DAY_BUCKET, schema)
    after_files = nfiles()
    assert after_files < before_files / 2, (before_files, after_files)
    assert io.read("t").count() == before_rows
    after = io.read("t").groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).toPandas().sort_values("conv_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)
    # partition dirs survive (pruning layout intact)
    assert any(p.startswith("p_day=") for p in os.listdir(io.path("t")))


def test_compact_guards_and_conf_restore(spark, tmp_path):
    """compact() must NOT leave its temporary AQE advisory in the
    session."""
    from pyspark.sql import functions as F

    io = TableIO(spark, str(tmp_path / "cg"), n_buckets=2)
    e = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .limit(2000)
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )

    # advisory restore: set -> restored
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    schema = io.write(e, "t")
    io.compact("t", DAY_BUCKET, schema)
    assert spark.conf.get(key) == before


class _Killed(Exception):
    pass


@pytest.mark.parametrize("kill_after", [1, 2, 3])
def test_compact_swap_crash_heals(spark, tmp_path, monkeypatch, kill_after):
    """A compaction killed inside its directory swap (after the swap's
    ``kill_after``-th move or delete) must leave the table restorable: the
    next compact() restores it with identical rows and no leftover dir.
    Replacing the table by delete-then-move loses it to a kill between
    the two."""
    import os

    from pyspark.sql import functions as F

    io = TableIO(spark, str(tmp_path / "cs"), n_buckets=2)
    e = spark.range(2000).select(
        (F.col("id") % 37).cast("string").alias("conv_id"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 600).alias("ts"),
        (F.col("id") * 0.5).alias("value"),
    )
    schema = io.write(e, "t")
    want = io.read("t", schema).toPandas()

    calls = []

    def killing(fn):
        def wrapped(*a, **kw):
            out = fn(*a, **kw)
            calls.append(fn.__name__)
            if len(calls) == kill_after:
                raise _Killed(calls)
            return out
        return wrapped

    monkeypatch.setattr(shutil, "move", killing(shutil.move))
    monkeypatch.setattr(shutil, "rmtree", killing(shutil.rmtree))
    with pytest.raises(_Killed):
        io.compact("t", DAY_BUCKET, schema)
    monkeypatch.undo()

    io.compact("t", DAY_BUCKET, schema)
    assert os.listdir(tmp_path / "cs") == ["t"]
    got = io.read("t", schema).toPandas()
    key = ["conv_id", "ts", "value"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


def test_resume_after_killed_compaction_equals_fresh_run(spark, workdir, monkeypatch):
    """A compaction killed after its swap's first move leaves ``rollup_1h``
    parked aside; the next ``run_pipeline`` on the workdir moves it back
    before any stage reads it, and every table equals a fresh run with
    lineage green. The resumed stages read their tables, so without that
    heal the run fails on the missing path."""
    import os

    from pneuma_treatment_spark.plans.lineage import load_manifest, manifest_schema
    from pneuma_treatment_spark.plans.stages import LAYOUTS

    args = dict(n_convs=3, seed=1, mega_turns=0)
    run_pipeline(spark, workdir, **args)
    io = TableIO(spark, workdir)
    move, moves = shutil.move, []

    def killed_after_first(src, dst, *a, **kw):
        move(src, dst, *a, **kw)
        moves.append(src)
        raise _Killed(moves)

    monkeypatch.setattr(shutil, "move", killed_after_first)
    with pytest.raises(_Killed):
        io.compact(
            "rollup_1h", LAYOUTS["rollup_1h"][1],
            manifest_schema(load_manifest(workdir, "rollup_1h")),
        )
    monkeypatch.undo()
    assert not os.path.exists(io.path("rollup_1h"))

    run_pipeline(spark, workdir, **args)
    fresh_dir = workdir + "_fresh"
    run_pipeline(spark, fresh_dir, **args)
    fresh = TableIO(spark, fresh_dir)
    try:
        for table in sorted(ALL_STAGES):
            got = io.read(table)
            want = fresh.read(table).select(*got.columns)
            assert got.exceptAll(want).count() == 0, table
            assert want.exceptAll(got).count() == 0, table
            assert verify_partition_lineage(io, table), table
    finally:
        shutil.rmtree(fresh_dir, ignore_errors=True)


def test_manifest_write_is_atomic(spark, workdir, monkeypatch):
    """A crash while a stage manifest is being written leaves the previous
    manifest whole (never torn JSON), and the next run completes the stage."""
    import json
    from pathlib import Path

    from pneuma_treatment_spark.plans.lineage import PipelineRunner

    io = TableIO(spark, workdir)
    build = lambda _io: spark.range(5).selectExpr(  # noqa: E731
        "id", "'c' AS conv_id", "TIMESTAMP'2024-01-01 00:00:00' AS ts"
    )
    PipelineRunner(io, config={"v": 1}).run_stage("t", build)
    mpath = Path(workdir) / "_manifest" / "t.json"
    before = mpath.read_text()

    real_write = Path.write_text

    def torn_write(self, data, *a, **kw):
        real_write(self, data[: len(data) // 2], *a, **kw)
        raise KeyboardInterrupt("killed mid-write")

    monkeypatch.setattr(Path, "write_text", torn_write)
    with pytest.raises(KeyboardInterrupt):
        PipelineRunner(io, config={"v": 2}).run_stage("t", build)
    monkeypatch.undo()

    assert mpath.read_text() == before
    assert json.loads(before)["status"] == "COMPLETE"
    runner = PipelineRunner(io, config={"v": 2})
    runner.run_stage("t", build)
    assert not runner.results["t"].skipped and runner.results["t"].rows == 5
    assert json.loads(mpath.read_text())["signature"] == runner.results["t"].signature
