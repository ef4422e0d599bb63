"""Late-data backfill (plans/backfill.py).

The contract: applying a delta of late/corrected turns through
``backfill_pipeline`` must leave every pipeline table BIT-EQUAL to a
from-scratch rebuild on the updated input (the anti-drift gate for the
mirrored stage builds), keep the per-partition lineage contract green,
touch only the partitions the affected conversations live in, and be
idempotent (the crash-recovery story: re-run the same delta to heal a
partially-merged backfill)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jobs.rollup_job import run_pipeline
from pneuma_treatment_spark.io.tableio import TableIO
from pneuma_treatment_spark.plans.backfill import (
    _affected_buckets,
    backfill_pipeline,
    merge_conv_scoped,
)
from pneuma_treatment_spark.plans.lineage import read_stage, verify_partition_lineage
from pneuma_treatment_spark.plans.stages import LAYOUTS
from pneuma_treatment_spark.synth import generate_transcripts

ARGS = dict(n_convs=30, seed=11, mega_turns=800)
TABLES = tuple(LAYOUTS)
SORT_KEYS = {
    "chunks": ["conv_id", "tier", "metric", "start_ts"],
    "rollup_1m": ["conv_id", "tier", "bucket_ts"],
    "rollup_1h": ["conv_id", "tier", "bucket_ts"],
    "rollup_1d": ["conv_id", "tier", "bucket_ts"],
}


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    """Base pipeline + backfill in wd_a; from-scratch rebuild on the
    updated input in wd_b; both from the same deterministic raw table."""
    tmp = tmp_path_factory.mktemp("backfill")
    base_path = str(tmp / "base_raw")
    updated_path = str(tmp / "updated_raw")
    wd_a, wd_b = str(tmp / "wd_a"), str(tmp / "wd_b")

    generate_transcripts(
        spark, ARGS["n_convs"], seed=ARGS["seed"], mega_turns=ARGS["mega_turns"]
    ).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    convs = [r["conv_id"] for r in base.select("conv_id").distinct().orderBy("conv_id").limit(2).collect()]
    c_a, c_b = convs

    # Delta, upsert-keyed on (conv_id, turn_idx) — built with DataFrame ops
    # so every column type matches the raw table exactly:
    corrected = base.where((F.col("conv_id") == c_a) & (F.col("turn_idx") == 2)).withColumn(
        "text", F.lit("corrected text with a very different token count indeed")
    )
    last_a = base.where(F.col("conv_id") == c_a).orderBy(F.col("turn_idx").desc()).limit(1)
    late = last_a.select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("a late-arriving turn").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.col("ts") + F.expr("INTERVAL 90 SECONDS")).alias("ts"),
    ).unionByName(
        last_a.select(
            "conv_id",
            (F.col("turn_idx") + 2).alias("turn_idx"),
            F.lit("assistant").alias("role"),
            F.lit("and its reply, also late").alias("text"),
            F.lit("search").alias("tool"),
            (F.col("ts") + F.expr("INTERVAL 150 SECONDS")).alias("ts"),
        )
    )
    day_moved = base.where((F.col("conv_id") == c_b) & (F.col("turn_idx") == 0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 DAYS")
    )
    new_conv = (
        base.where(F.col("conv_id") == c_a)
        .where(F.col("turn_idx") < 4)
        .withColumn("conv_id", F.lit("conv_zz_backfill"))
    )
    delta = corrected.unionByName(late).unionByName(day_moved).unionByName(new_conv)
    delta_path = str(tmp / "delta")
    delta.write.parquet(delta_path)
    delta = spark.read.parquet(delta_path)

    base.join(
        delta.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).unionByName(delta).write.parquet(updated_path)

    run_pipeline(spark, wd_a, **ARGS, input_table=base_path)

    # snapshot ingest data-file mtimes before the backfill
    pre_mtimes = {}
    for root, _dirs, files in os.walk(os.path.join(wd_a, "ingest")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                pre_mtimes[p] = os.path.getmtime(p)

    summary = backfill_pipeline(spark, wd_a, spark.read.parquet(delta_path))

    run_pipeline(spark, wd_b, **ARGS, input_table=updated_path)

    yield dict(
        wd_a=wd_a, wd_b=wd_b, summary=summary, delta_path=delta_path,
        affected=[c_a, c_b, "conv_zz_backfill"], pre_mtimes=pre_mtimes,
    )
    for d in (wd_a, wd_b):
        shutil.rmtree(d, ignore_errors=True)


def _sorted_pdf(io: TableIO, table: str) -> pd.DataFrame:
    pdf = io.read(table).toPandas()
    keys = SORT_KEYS.get(table, ["conv_id", "turn_idx"])
    return pdf.sort_values(keys).reset_index(drop=True)[sorted(pdf.columns)]


def test_backfill_equals_rebuild(spark, env):
    io_a, io_b = TableIO(spark, env["wd_a"]), TableIO(spark, env["wd_b"])
    for t in TABLES:
        a, b = _sorted_pdf(io_a, t), _sorted_pdf(io_b, t)
        pd.testing.assert_frame_equal(a, b, check_dtype=False), t


def test_backfill_summary_shape(env):
    s = env["summary"]
    assert s["affected_convs"] == 3
    assert set(s["tables"]) == set(TABLES)
    ing = s["tables"]["ingest"]
    # upsert: every affected conv's old rows replaced + the delta's new rows
    assert ing["added"] > ing["removed"] > 0
    assert ing["parts_rewritten"] > 0


def test_backfill_lineage_stays_green(spark, env):
    io = TableIO(spark, env["wd_a"])
    for t in ("ingest", "filled", "treated", "rollup_1m", "rollup_1h", "rollup_1d", "chunks"):
        assert verify_partition_lineage(io, t), t


def test_backfill_leaves_unaffected_partitions_untouched(spark, env):
    """The scale contract: only partitions of affected buckets are
    rewritten — every data file in other buckets is physically untouched."""
    io = TableIO(spark, env["wd_a"])
    aff = spark.createDataFrame([(c,) for c in env["affected"]], ["conv_id"])
    aff_buckets = {
        r["b"]
        for r in aff.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(io.n_buckets)).cast("int").alias("b")
        ).collect()
    }
    checked = 0
    for p, mt in env["pre_mtimes"].items():
        bucket = next(
            (int(seg.split("=", 1)[1]) for seg in p.split(os.sep) if seg.startswith("p_bucket=")),
            None,
        )
        if bucket is not None and bucket not in aff_buckets:
            assert os.path.getmtime(p) == mt, p
            checked += 1
    assert checked > 0  # the fixture must actually exercise unaffected buckets


def test_backfill_is_idempotent(spark, env):
    io = TableIO(spark, env["wd_a"])
    before = {t: _sorted_pdf(io, t) for t in ("ingest", "rollup_1d", "chunks")}
    backfill_pipeline(spark, env["wd_a"], spark.read.parquet(env["delta_path"]))
    for t, pdf in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(io, t), pdf, check_dtype=False), t
    for t in ("ingest", "rollup_1m", "chunks"):
        assert verify_partition_lineage(io, t), t


def test_backfill_rejects_duplicate_keys(spark, env):
    """A duplicate (conv_id, turn_idx) would survive the anti-join and
    insert both rows — the guard must refuse before touching any table."""
    delta = spark.read.parquet(env["delta_path"])
    with pytest.raises(ValueError, match="duplicate"):
        backfill_pipeline(spark, env["wd_a"], delta.unionByName(delta.limit(1)))


@pytest.mark.parametrize("horizon", ["some_days", "every_row"])
def test_backfill_keeps_ttl_expired_rows_out(spark, tmp_path, horizon):
    """A correcting backfill after a TTL sweep recomputes the affected
    conversations' whole history from ``ingest``, which the sweep never
    touches; the merge must not write the expired partitions back. Every
    swept table keeps its swept rows, with lineage green."""
    import datetime as dt

    from jobs.rollup_job import DEFAULT_TTLS
    from pneuma_treatment_spark.compression.chunks import chunk_ttl_sql_predicate
    from pneuma_treatment_spark.operators.retention import ttl_sql_predicate

    wd = str(tmp_path / "wd")
    kw = dict(n_convs=4, seed=5, mega_turns=0)
    run_pipeline(spark, wd, **kw)
    io = TableIO(spark, wd)
    days = read_stage(io, "rollup_1d").agg(F.min("p_day"), F.max("p_day")).first()
    unswept_1m = read_stage(io, "rollup_1m").count()
    now = str(
        days[0] + dt.timedelta(days=91) if horizon == "some_days"
        else days[1] + dt.timedelta(days=4000)
    )
    run_pipeline(spark, wd, **kw, ttl_now=now)
    preds = {f"rollup_{t}": ttl_sql_predicate(d, now) for t, d in DEFAULT_TTLS.items()}
    preds["chunks"] = chunk_ttl_sql_predicate(DEFAULT_TTLS, now)
    swept = {t: read_stage(io, t).count() for t in preds}
    assert swept["rollup_1m"] < unswept_1m

    fix = read_stage(io, "ingest").where(F.col("turn_idx") == 0).withColumn(
        "text", F.lit("a corrected first turn")
    )
    backfill_pipeline(spark, wd, fix)
    for t, pred in preds.items():
        assert read_stage(io, t).count() == swept[t], t
        assert read_stage(io, t).where(pred).count() == 0, t
        assert verify_partition_lineage(io, t), t


def test_merge_drops_emptied_partition(spark, tmp_path):
    """A corrected ts that pulls the ONLY conversation out of a day must
    drop that (day, bucket) dir — dynamic overwrite alone cannot (it only
    replaces partitions present in the written frame)."""
    io = TableIO(spark, str(tmp_path / "t"), n_buckets=2)
    rows = spark.createDataFrame(
        [("cx", 0, "2024-01-01 10:00:00"), ("cx", 1, "2024-01-01 11:00:00"),
         ("cy", 0, "2024-02-01 10:00:00")],
        ["conv_id", "turn_idx", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    io.write(rows, "tab")
    # move ALL of cx to a different day
    moved = rows.where(F.col("conv_id") == "cx").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 10 DAYS")
    )
    aff = spark.createDataFrame([("cx",)], ["conv_id"])
    stats = merge_conv_scoped(io, "tab", moved, aff, _affected_buckets(aff, io.n_buckets))
    assert stats["stale_dropped"] == 1
    out = io.read("tab").toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert sorted(out["p_day"].astype(str).unique()) == ["2024-01-11", "2024-02-01"]
    assert len(out) == 3
    # the emptied dir is physically gone, INCLUDING its emptied day parent,
    # and every day dir left holds a bucket dir (no empty husk)
    tab = tmp_path / "t" / "tab"
    assert not (tab / "p_day=2024-01-01").exists()
    assert all(any(b.name.startswith("p_bucket=") for b in d.iterdir())
               for d in tab.glob("p_day=*"))


def test_merge_one_predicate_over_many_partitions(spark, tmp_path):
    """An affected conversation spanning 70 partitions of a day-only
    table merges through the one flat partition predicate: the table
    equals a rebuild, and every other partition keeps its file names and
    sizes."""
    import datetime as dt

    io = TableIO(spark, str(tmp_path / "t"), n_buckets=2)
    day0 = dt.datetime(2024, 1, 1, 10)
    rows = spark.createDataFrame(
        [("cx", d, day0 + dt.timedelta(days=d), 1.0) for d in range(70)]
        + [("cy", d, day0 + dt.timedelta(days=d, hours=1), 2.0) for d in range(80)],
        "conv_id string, turn_idx int, ts timestamp, v double",
    )
    io.write(rows, "tab", partition_cols=("p_day",))
    tab = tmp_path / "t" / "tab"

    def files(days):
        return {
            str(f.relative_to(tab)): f.stat().st_size
            for d in days for f in (tab / f"p_day={d}").glob("*.parquet")
        }

    untouched = [(day0 + dt.timedelta(days=d)).date() for d in range(70, 80)]
    before = files(untouched)
    assert len(before) >= len(untouched)
    fixed = rows.where(F.col("conv_id") == "cx").withColumn("v", F.lit(3.0))
    stats = merge_conv_scoped(
        io, "tab", fixed, spark.createDataFrame([("cx",)], ["conv_id"]), [],
        partition_cols=("p_day",),
    )
    assert stats["parts_rewritten"] == 70 and stats["stale_dropped"] == 0
    assert stats["removed"] == stats["added"] == 70
    assert files(untouched) == before

    want_io = TableIO(spark, str(tmp_path / "want"), n_buckets=2)
    want_io.write(
        rows.where(F.col("conv_id") == "cy").unionByName(fixed), "tab",
        partition_cols=("p_day",),
    )
    _assert_same_rows(io.read("tab"), want_io.read("tab"), "tab")


class _Killed(Exception):
    pass


@pytest.mark.parametrize("table", ["ingest", "rollup_1h"])
def test_rerun_heals_backfill_killed_before_lineage_splice(
    spark, tmp_path, monkeypatch, table
):
    """A backfill killed after ``table``'s merge wrote the table but before
    its lineage splice is healed by re-running the same delta (the
    documented recovery): every table equals a fresh run over the updated
    input, and all seven lineages are green. The re-run's merge sees
    removed == added, so a manifest total adjusted by those counts would
    keep the total of the killed run."""
    from pneuma_treatment_spark.plans import backfill

    args = dict(n_convs=12, seed=3, mega_turns=0)
    base_path, delta_path = str(tmp_path / "raw"), str(tmp_path / "delta")
    generate_transcripts(spark, 12, seed=3).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    c = base.select("conv_id").distinct().orderBy("conv_id").first()["conv_id"]
    last = base.where(F.col("conv_id") == c).orderBy(F.col("turn_idx").desc()).limit(1)
    last.select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("a late turn three hours on").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.col("ts") + F.expr("INTERVAL 3 HOURS")).alias("ts"),
    ).write.parquet(delta_path)
    delta = spark.read.parquet(delta_path)
    upd_path = str(tmp_path / "upd")
    base.unionByName(delta).write.parquet(upd_path)

    wd_a, wd_b = str(tmp_path / "wa"), str(tmp_path / "wb")
    run_pipeline(spark, wd_a, **args, input_table=base_path)
    splice = backfill.update_lineage

    def killed_at(io, name, stats):
        if name == table:
            raise _Killed(name)
        splice(io, name, stats)

    monkeypatch.setattr(backfill, "update_lineage", killed_at)
    with pytest.raises(_Killed):
        backfill_pipeline(spark, wd_a, delta)
    monkeypatch.undo()
    backfill_pipeline(spark, wd_a, delta)

    run_pipeline(spark, wd_b, **args, input_table=upd_path)
    io_a, io_b = TableIO(spark, wd_a), TableIO(spark, wd_b)
    for t in TABLES:
        _assert_same_rows(read_stage(io_a, t), read_stage(io_b, t), t)
        assert verify_partition_lineage(io_a, t), t


def test_backfill_rejects_contradicting_cfg(spark, env):
    from pneuma_treatment_spark.operators.treatment import TreatmentConfig

    with pytest.raises(ValueError, match="treatment config"):
        backfill_pipeline(
            spark,
            env["wd_a"],
            spark.read.parquet(env["delta_path"]),
            cfg=TreatmentConfig(tol=1.25),
        )


def test_backfill_adopts_manifest_with_group_buckets(spark, tmp_path):
    """A workdir whose filled manifest still records the retired
    ``group_buckets`` treatment knob must backfill (the key is dropped on
    adoption) to the same tables as a rebuild on the updated input."""
    import json

    args = dict(n_convs=8, seed=3, mega_turns=0)
    base_path = str(tmp_path / "raw")
    generate_transcripts(spark, 8, seed=3).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    c = base.select("conv_id").distinct().orderBy("conv_id").first()["conv_id"]
    delta = base.where((F.col("conv_id") == c) & (F.col("turn_idx") == 1)).withColumn(
        "text", F.lit("a corrected turn for the manifest compatibility test")
    )
    dpath = str(tmp_path / "delta")
    delta.write.parquet(dpath)
    upd_path = str(tmp_path / "upd")
    base.join(
        spark.read.parquet(dpath).select("conv_id", "turn_idx"),
        ["conv_id", "turn_idx"], "left_anti",
    ).unionByName(spark.read.parquet(dpath)).write.parquet(upd_path)

    wd_a, wd_b = str(tmp_path / "wa"), str(tmp_path / "wb")
    run_pipeline(spark, wd_a, **args, input_table=base_path)
    mpath = os.path.join(wd_a, "_manifest", "filled.json")
    m = json.loads(open(mpath).read())
    m["config"]["treatment"]["group_buckets"] = 256
    with open(mpath, "w") as f:
        json.dump(m, f)

    backfill_pipeline(spark, wd_a, spark.read.parquet(dpath))
    run_pipeline(spark, wd_b, **args, input_table=upd_path)
    io_a, io_b = TableIO(spark, wd_a), TableIO(spark, wd_b)
    for t in ("filled", "treated", "chunks"):
        pd.testing.assert_frame_equal(
            _sorted_pdf(io_a, t), _sorted_pdf(io_b, t), check_dtype=False
        )


def test_backfill_rejects_contradicting_buckets(spark, env):
    """ADVICE r6: a wrong --buckets prunes the wrong p_bucket set and
    silently duplicates affected conversations' old rows — must refuse
    against the recorded count before touching any table."""
    with pytest.raises(ValueError, match="n_buckets"):
        backfill_pipeline(
            spark,
            env["wd_a"],
            spark.read.parquet(env["delta_path"]),
            n_buckets=env_n_buckets_plus_one(env["wd_a"]),
        )


def env_n_buckets_plus_one(workdir: str) -> int:
    import json

    m = json.loads(open(os.path.join(workdir, "_manifest", "filled.json")).read())
    return int(m["config"]["n_buckets"]) + 1


def test_delete_conversations_equals_filtered_rebuild(spark, tmp_path):
    """Whole-conversation deletion (VERDICT r6 item 5): post-delete tables
    bit-equal a from-scratch build on the filtered input, partitions whose
    last row left are dropped, lineage stays green, and a repeat delete is
    a no-op."""
    from pneuma_treatment_spark.plans.backfill import delete_conversations

    args = dict(n_convs=10, seed=13, mega_turns=0)
    base_path = str(tmp_path / "raw")
    generate_transcripts(spark, 10, seed=13).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    victims = [
        r["conv_id"]
        for r in base.select("conv_id").distinct().orderBy("conv_id").limit(2).collect()
    ]
    filt_path = str(tmp_path / "filtered")
    base.where(~F.col("conv_id").isin(victims)).write.parquet(filt_path)

    wd_a, wd_b = str(tmp_path / "wa"), str(tmp_path / "wb")
    run_pipeline(spark, wd_a, **args, input_table=base_path)
    summary = delete_conversations(
        spark, wd_a, spark.createDataFrame([(c,) for c in victims], ["conv_id"])
    )
    run_pipeline(spark, wd_b, **args, input_table=filt_path)

    assert summary["affected_convs"] == 2
    assert summary["tables"]["ingest"]["removed"] > 0
    assert summary["tables"]["ingest"]["added"] == 0

    io_a, io_b = TableIO(spark, wd_a), TableIO(spark, wd_b)
    for t in TABLES:
        pd.testing.assert_frame_equal(
            _sorted_pdf(io_a, t), _sorted_pdf(io_b, t), check_dtype=False
        ), t
    for t in TABLES:
        assert verify_partition_lineage(io_a, t), t

    # the victims' rows are physically gone everywhere
    for t in TABLES:
        assert io_a.read(t).where(F.col("conv_id").isin(victims)).count() == 0, t

    # idempotent: repeating the delete changes nothing
    again = delete_conversations(
        spark, wd_a, spark.createDataFrame([(victims[0],)], ["conv_id"])
    )
    assert again["tables"]["ingest"]["removed"] == 0
    pd.testing.assert_frame_equal(
        _sorted_pdf(io_a, "chunks"), _sorted_pdf(io_b, "chunks"), check_dtype=False
    )

    shutil.rmtree(wd_a, ignore_errors=True)
    shutil.rmtree(wd_b, ignore_errors=True)


def test_scrub_deadletter_removes_victims_only(spark, tmp_path):
    """Compliance deletion must reach the dead-letter raw-text store: the
    victims' rows leave every epoch dir, other rows are byte-identical,
    an epoch emptied entirely disappears, and a re-scrub is a no-op."""
    from pneuma_treatment_spark.plans.backfill import scrub_deadletter

    dead = tmp_path / "dead"
    rows0 = [("cv", 0, "user", "victim secret", None, "2024-01-01 10:00:00"),
             ("ck", 0, "user", "kept text", None, "2024-01-01 10:01:00")]
    rows1 = [("cv", 1, "user", "victim only epoch", None, "2024-01-01 11:00:00")]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    for i, rows in enumerate((rows0, rows1)):
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(dead / f"batch_id={i}"))

    victims = spark.createDataFrame([("cv",)], ["conv_id"])
    out = scrub_deadletter(spark, str(dead), victims)
    assert out["rows_removed"] == 2
    assert out["epochs_rewritten"] == ["batch_id=0"]
    assert out["epochs_removed"] == ["batch_id=1"]
    left = spark.read.option("basePath", str(dead)).parquet(str(dead)).collect()
    assert len(left) == 1 and left[0]["conv_id"] == "ck" and left[0]["text"] == "kept text"
    again = scrub_deadletter(spark, str(dead), victims)
    assert again["rows_removed"] == 0 and not again["epochs_rewritten"]


def test_crashed_scrub_aside_is_invisible_and_heals(spark, tmp_path):
    """A crash inside the scrub swap must never let readers resurrect the
    pre-scrub contents: the aside dir is dot-prefixed (invisible to Spark
    listing and batch_id=* globs), a concurrent heal reads only the
    scrubbed rows, and the next scrub restores the aside before acting."""
    from pneuma_treatment_spark.plans.backfill import scrub_deadletter
    from pneuma_treatment_spark.streaming.rollup_stream import read_dead_letter

    dead = tmp_path / "dead"
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    spark.createDataFrame(
        [("ck", 0, "user", "kept", None, "2024-01-01 10:00:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        str(dead / "batch_id=0")
    )
    # simulate a crash mid-swap: the ORIGINAL (victim-bearing) epoch sits
    # in the aside, the rewritten dir never landed
    spark.createDataFrame(
        [("cv", 0, "user", "victim secret", None, "2024-01-01 11:00:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        str(dead / ".aside.batch_id=1")
    )

    # readers see only live epochs — the aside's raw text is invisible
    rows = read_dead_letter(spark, str(dead)).collect()
    assert [r["conv_id"] for r in rows] == ["ck"]

    # the next scrub heals the aside back, then scrubs it like any epoch
    out = scrub_deadletter(
        spark, str(dead), spark.createDataFrame([("cv",)], ["conv_id"])
    )
    assert out["rows_removed"] == 1 and out["epochs_removed"] == ["batch_id=1"]
    assert not (dead / ".aside.batch_id=1").exists()
    left = read_dead_letter(spark, str(dead)).collect()
    assert [r["conv_id"] for r in left] == ["ck"]


def test_adopt_buckets_is_loud_without_a_record(tmp_path):
    """No recorded bucket count + no explicit --buckets must ERROR: a
    guessed default is exactly the wrong-bucket-set pruning the adoption
    exists to prevent."""
    from pneuma_treatment_spark.plans.backfill import _adopt_recorded_buckets

    with pytest.raises(ValueError, match="record"):
        _adopt_recorded_buckets({}, None)
    assert _adopt_recorded_buckets({}, 16) == 16
    assert _adopt_recorded_buckets({"n_buckets": 8}, None) == 8


def test_backfill_adopts_recorded_chunk_windows(spark, tmp_path):
    """A chunks table written with a CUSTOM window map must be re-encoded
    with the same map on backfill (ADVICE r6) — mixed maps would break
    chunk_ttl_sql_predicate's written-with contract. Pinned by bit-equality
    to a from-scratch rebuild under the same custom map."""
    args = dict(n_convs=10, seed=7, mega_turns=0)
    windows = {"1m": 3, "1h": 20, "1d": 150}
    base_path = str(tmp_path / "raw")
    generate_transcripts(spark, 10, seed=7).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    c = base.select("conv_id").distinct().orderBy("conv_id").first()["conv_id"]
    last = base.where(F.col("conv_id") == c).orderBy(F.col("turn_idx").desc()).limit(1)
    delta = last.select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("late turn for the window-map test").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.col("ts") + F.expr("INTERVAL 2 DAYS")).alias("ts"),
    )
    dpath = str(tmp_path / "delta")
    delta.write.parquet(dpath)
    upd_path = str(tmp_path / "upd")
    base.unionByName(spark.read.parquet(dpath)).write.parquet(upd_path)

    wd_a, wd_b = str(tmp_path / "wa"), str(tmp_path / "wb")
    run_pipeline(spark, wd_a, **args, input_table=base_path, chunk_window_days=windows)
    backfill_pipeline(spark, wd_a, spark.read.parquet(dpath))
    run_pipeline(spark, wd_b, **args, input_table=upd_path, chunk_window_days=windows)
    io_a, io_b = TableIO(spark, wd_a), TableIO(spark, wd_b)
    pd.testing.assert_frame_equal(
        _sorted_pdf(io_a, "chunks"), _sorted_pdf(io_b, "chunks"), check_dtype=False
    )
    shutil.rmtree(wd_a, ignore_errors=True)
    shutil.rmtree(wd_b, ignore_errors=True)


def _assert_same_rows(a, b, what):
    a = a.select(*b.columns)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, what


def test_delete_all_then_backfill_equals_fresh_run(spark, tmp_path):
    """Erasing every conversation leaves seven empty tables, with no
    partition directory left to read a layout from. A backfill into them
    lays its rows out by the declared stage layouts and equals a fresh run
    over the delta, lineage green."""
    from pneuma_treatment_spark.plans.backfill import delete_conversations

    base_path, delta_path = str(tmp_path / "raw"), str(tmp_path / "delta")
    generate_transcripts(spark, 4, seed=17).write.parquet(base_path)
    generate_transcripts(spark, 3, seed=19).write.parquet(delta_path)
    wd_a, wd_b = str(tmp_path / "wa"), str(tmp_path / "wb")
    run_pipeline(spark, wd_a, n_convs=4, seed=17, input_table=base_path)
    delete_conversations(spark, wd_a, spark.read.parquet(base_path))
    io_a, io_b = TableIO(spark, wd_a), TableIO(spark, wd_b)
    for t in TABLES:
        assert read_stage(io_a, t).count() == 0, t
        assert verify_partition_lineage(io_a, t), t

    backfill_pipeline(spark, wd_a, spark.read.parquet(delta_path))
    run_pipeline(spark, wd_b, n_convs=3, seed=19, input_table=delta_path)
    for t in TABLES:
        _assert_same_rows(read_stage(io_a, t), read_stage(io_b, t), t)
        assert verify_partition_lineage(io_a, t), t


def test_delete_set_and_delta_read_from_ingest(spark, tmp_path):
    """An erasure whose delete set is a query over ``ingest`` must not read
    ``ingest`` again once the first merge has rewritten its files: every
    victim row leaves all seven tables. The same holds for a correction
    delta read from ``ingest``: the tables equal a fresh run over the
    corrected input."""
    from pneuma_treatment_spark.plans.backfill import delete_conversations

    base_path, fixed_path = str(tmp_path / "raw"), str(tmp_path / "fixed")
    generate_transcripts(spark, 6, seed=23).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    victims = [r["conv_id"] for r in base.select("conv_id").distinct().orderBy("conv_id").limit(2).collect()]
    fix_conv = [r["conv_id"] for r in base.select("conv_id").distinct().orderBy(F.desc("conv_id")).limit(1).collect()]
    wd_a, wd_b = str(tmp_path / "wa"), str(tmp_path / "wb")
    run_pipeline(spark, wd_a, n_convs=6, seed=23, input_table=base_path)
    io_a = TableIO(spark, wd_a)

    delete_conversations(
        spark, wd_a, read_stage(io_a, "ingest").where(F.col("conv_id").isin(victims)).select("conv_id")
    )
    for t in TABLES:
        assert read_stage(io_a, t).where(F.col("conv_id").isin(victims)).count() == 0, t
        assert verify_partition_lineage(io_a, t), t

    fix = F.col("conv_id").isin(fix_conv) & (F.col("turn_idx") == 1)
    corrected = F.when(fix, F.lit("a corrected turn of five tokens")).otherwise(F.col("text"))
    base.where(~F.col("conv_id").isin(victims)).withColumn("text", corrected).write.parquet(fixed_path)
    backfill_pipeline(
        spark, wd_a,
        read_stage(io_a, "ingest").where(fix).withColumn("text", corrected)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
    )
    run_pipeline(spark, wd_b, n_convs=6, seed=23, input_table=fixed_path)
    io_b = TableIO(spark, wd_b)
    for t in TABLES:
        _assert_same_rows(read_stage(io_a, t), read_stage(io_b, t), t)
        assert verify_partition_lineage(io_a, t), t
