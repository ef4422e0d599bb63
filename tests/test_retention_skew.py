"""Retention (mask nulling + TTL) and skew (salted two-phase agg) tests."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jobs.rollup_job import run_pipeline
from pneuma_treatment_spark.io.tableio import DAY_BUCKET, TableIO
from pneuma_treatment_spark.operators.retention import apply_interval_mask, ttl_sql_predicate
from pneuma_treatment_spark.operators.rollup import rollup_raw, with_turn_metrics
from pneuma_treatment_spark.operators.skew import salted_agg
from pneuma_treatment_spark.plans.lineage import read_stage, verify_partition_lineage
from pneuma_treatment_spark.plans.stages import LAYOUTS


def test_interval_mask_nulling(spark):
    rows = [
        ("a", dt.datetime(2024, 1, 1, 0, m), float(m)) for m in range(10)
    ] + [("b", dt.datetime(2024, 1, 1, 0, m), float(m)) for m in range(10)]
    df = spark.createDataFrame(rows, "conv_id string, bucket_ts timestamp, token_rate double")
    mask = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 0, 2), dt.datetime(2024, 1, 1, 0, 5)),
            ("a", dt.datetime(2024, 1, 1, 0, 8), dt.datetime(2024, 1, 1, 0, 9)),
        ],
        "conv_id string, start_ts timestamp, end_ts timestamp",
    )
    out = apply_interval_mask(df, mask, metric_cols=("token_rate",)).toPandas()
    a = out[out.conv_id == "a"].set_index(out[out.conv_id == "a"].bucket_ts.dt.minute)
    # half-open [start, end): minutes 2,3,4 and 8 observed; 5 and 9 not
    assert set(a.index[a.is_observed]) == {2, 3, 4, 8}
    assert a.loc[3, "token_rate"] == 3.0
    assert pd.isna(a.loc[6, "token_rate"])
    # key 'b' has no intervals → fully nulled but rows kept
    b = out[out.conv_id == "b"]
    assert len(b) == 10 and b["token_rate"].isna().all()
    # drop mode removes unobserved rows
    dropped = apply_interval_mask(
        df, mask, metric_cols=("token_rate",), remove_filtered=True
    )
    assert dropped.count() == 4


def test_interval_mask_keeps_duplicate_rows(spark):
    """Legitimate duplicate fact rows must survive the mask (the round-1
    groupBy(*columns) formulation silently deduplicated them)."""
    row = ("a", dt.datetime(2024, 1, 1, 0, 3), 1.5)
    df = spark.createDataFrame(
        [row, row, row], "conv_id string, bucket_ts timestamp, token_rate double"
    )
    mask = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 1, 0, 10))],
        "conv_id string, start_ts timestamp, end_ts timestamp",
    )
    out = apply_interval_mask(df, mask, metric_cols=("token_rate",))
    assert out.count() == 3
    assert out.where(F.col("is_observed")).count() == 3


def test_interval_mask_no_fact_shuffle(spark):
    """The fact side must reach the broadcast join without an exchange: the
    only hash shuffle in the whole plan is the tiny mask-side collect_list."""
    rows = [("a", dt.datetime(2024, 1, 1, 0, m), float(m)) for m in range(10)]
    df = spark.createDataFrame(rows, "conv_id string, bucket_ts timestamp, token_rate double")
    mask = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 2), dt.datetime(2024, 1, 1, 0, 5))],
        "conv_id string, start_ts timestamp, end_ts timestamp",
    )
    out = apply_interval_mask(df, mask, metric_cols=("token_rate",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert final.count("Exchange hashpartitioning") <= 1  # mask agg only


def test_interval_mask_preserves_rowcount(spark, transcripts_df):
    tier = rollup_raw(with_turn_metrics(transcripts_df), "1h")
    mask = tier.groupBy("conv_id").agg(
        F.min("bucket_ts").alias("start_ts"),
        F.max("bucket_ts").alias("end_ts"),  # half-open: max bucket excluded
    )
    out = apply_interval_mask(tier, mask)
    assert out.count() == tier.count()


def test_ttl_delete(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    rows = [
        ("c1", dt.datetime(2024, 1, d, 12, 0), 1.0) for d in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, v double")
    schema = io.write(df, "tier")
    io.delete_where(
        "tier", ttl_sql_predicate(ttl_days=5, now_date="2024-01-20"), DAY_BUCKET, schema
    )
    left = io.read("tier").toPandas()
    assert len(left) == 6  # days 15..20 survive (p_day >= now - 5)
    assert left["ts"].dt.day.min() == 15


def test_salted_agg_exact(spark, transcripts_df):
    m = with_turn_metrics(transcripts_df)
    plain = (
        m.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("token_count").alias("tok"),
            F.max("turn_idx").alias("mx"),
        )
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    salted = (
        salted_agg(
            m,
            ["conv_id"],
            {"n": ("*", "count"), "tok": ("token_count", "sum"), "mx": ("turn_idx", "max")},
            salt_buckets=16,
        )
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(plain, salted[plain.columns], check_dtype=False)


def test_delete_where_rejects_data_column_predicate(spark, tmp_path):
    """A TTL predicate naming a data column would drop whole partitions
    that still hold live rows: it is rejected before anything is read or
    dropped."""
    io = TableIO(spark, str(tmp_path / "t"))
    rows = [("c1", dt.datetime(2024, 1, d, 12, 0), float(d)) for d in range(1, 6)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, v double")
    schema = io.write(df, "tier")
    before = sorted(os.listdir(io.path("tier")))
    for pred in ("v > 2", "p_day < date'2024-01-03' AND v > 1"):
        with pytest.raises(ValueError, match="partition columns"):
            io.delete_where("tier", pred, DAY_BUCKET, schema)
    assert sorted(os.listdir(io.path("tier"))) == before
    assert io.read("tier", schema).count() == 5


def _files(io, table):
    """{partition dir: {file name: size}} of a table's data files."""
    root = io.path(table)
    out = {}
    for d, _, fs in os.walk(root):
        got = {f: os.path.getsize(os.path.join(d, f)) for f in fs if f.endswith(".parquet")}
        if got:
            out[os.path.relpath(d, root)] = got
    return out


SWEPT = ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")
PIPE = dict(n_convs=6, seed=11, mega_turns=0)


def test_ttl_sweep_touches_only_expired_partitions(spark, tmp_path):
    """The sweep drops expired partition dirs and leaves every surviving
    partition's files exactly as they were (same names and sizes): it
    does not rewrite the table."""
    wd = str(tmp_path / "wd")
    run_pipeline(spark, wd, **PIPE)
    io = TableIO(spark, wd)
    before = {t: _files(io, t) for t in SWEPT}
    first_day = read_stage(io, "rollup_1m").agg(F.min("p_day")).first()[0]
    run_pipeline(spark, wd, **PIPE, ttl_now=str(first_day + dt.timedelta(days=91)))
    after = {t: _files(io, t) for t in SWEPT}
    assert set(after["rollup_1m"]) < set(before["rollup_1m"])  # some days expired
    for t in SWEPT:
        assert after[t], t
        for part, files in after[t].items():
            assert files == before[t].get(part), (t, part)
        assert verify_partition_lineage(io, t), t


def test_ttl_expiring_every_row_keeps_table_readable(spark, tmp_path):
    """A sweep that expires EVERY row of a tier leaves that tier reading
    empty through its manifest schema with lineage green; compact() on it
    does not crash, and a rerun whose config changed regrows it (with no
    stray data file left at the table root)."""
    wd = str(tmp_path / "wd")
    run_pipeline(spark, wd, **PIPE)
    io = TableIO(spark, wd)
    last_day = read_stage(io, "rollup_1m").agg(F.max("p_day")).first()[0]
    run_pipeline(spark, wd, **PIPE, ttl_now=str(last_day + dt.timedelta(days=91)))
    empty = read_stage(io, "rollup_1m")
    assert empty.count() == 0
    assert {"conv_id", "bucket_ts", "p_day", "p_bucket"} <= set(empty.columns)
    assert verify_partition_lineage(io, "rollup_1m")
    schema = empty.schema
    io.compact("rollup_1m", LAYOUTS["rollup_1m"][1], schema)
    assert read_stage(io, "rollup_1m").count() == 0
    assert verify_partition_lineage(io, "rollup_1m")

    run_pipeline(spark, wd, **{**PIPE, "seed": 12})
    assert read_stage(io, "rollup_1m").count() > 0
    assert verify_partition_lineage(io, "rollup_1m")
    assert not any(f.endswith(".parquet") for f in os.listdir(io.path("rollup_1m")))
