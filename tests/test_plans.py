"""Physical-plan audits: the optimizations we rely on at 100 TB must be
visible in `.explain` output at any scale — filter/column pushdown into the
parquet scan, broadcast for small dims, partition pruning on p_day, and
whole-stage codegen around the hot expressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pneuma_treatment_spark import queries as q
from pneuma_treatment_spark.io.tableio import TableIO

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = q.pricing_summary(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    df = q.quality_score(spark, SF)
    plan = _plan(df)
    # scan must read only doc_id + text, not lang/source/n_chars
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_broadcast_join_for_small_mask(spark):
    df = q.interval_mask_counts(spark, SF)
    assert "BroadcastHashJoin" in _plan(df)


def test_star_join_broadcasts_dims(spark):
    """revenue_by_nation must broadcast customer and nation (J8) and push
    the orderdate filter into the orders scan."""
    df = q.revenue_by_nation(spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_whole_stage_codegen_on_rollup(spark):
    df = q.rollup_1m(spark, SF)
    df.collect()  # AQE finalizes the physical plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans appear as "*(n)" stage markers in the executed plan
    assert "*(1)" in plan and "*(2)" in plan
    # the aggregation must be hash-based, two-phase (map-side partial_)
    assert "HashAggregate" in plan and "partial_" in plan


def test_partition_pruning_on_p_day(spark, transcripts_df, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    io.write(transcripts_df, "tx")
    df = io.read("tx").where(F.col("p_day") == "2024-01-05")
    plan = _plan(df)
    # pruned partition filter appears as a partition filter, not a data filter
    assert "PartitionFilters" in plan and "p_day" in plan.split("PartitionFilters", 1)[1][:200]
    files_scanned = df.count()
    all_rows = io.read("tx").count()
    assert files_scanned < all_rows


def test_ann_cell_partition_pruning(spark, tmp_path):
    """The ANN scale path: embeddings written partitioned by ivf_cell let an
    nprobe query prune to its cells at the scan (PartitionFilters), reading
    only nprobe/n_cells of the data."""
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.operators.similarity import (
        ivf_train_centroids,
        with_ivf_cell,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf_train_centroids(emb, n_cells=8, seed=7)
    path = str(tmp_path / "emb_by_cell")
    with_ivf_cell(emb, cents).write.partitionBy("ivf_cell").parquet(path)
    pruned = spark.read.parquet(path).where(F.col("ivf_cell").isin([0, 3]))
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    assert "ivf_cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() < spark.read.parquet(path).count()


def test_gap_fill_single_exchange(spark, transcripts_df):
    """Join-free densify: the grid explodes inside the same key-partitioned
    window pass the fills use — the whole gap-fill must cost ONE hash
    exchange (the old grid-groupBy + left-join shape cost three)."""
    from pneuma_treatment_spark.operators.gapfill import gap_fill
    from pneuma_treatment_spark.operators.rollup import with_turn_metrics

    df = gap_fill(
        with_turn_metrics(transcripts_df),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_cascade_avoids_extra_shuffle(spark):
    """1h-from-1m must add exactly one exchange over the 1m agg (the re-key
    by coarser bucket), not re-read raw twice."""
    df = q.rollup_1h_cascade(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial plans; audit the final one only
    final = plan.split("== Initial Plan ==")[0]
    # exactly two hash repartitions: raw→(type,1m-bucket), 1m→(type,1h-bucket)
    assert final.count("Exchange hashpartitioning") == 2
    assert final.count("FileScan parquet") == 1  # raw scanned once


def test_chunk_write_single_exchange(spark):
    """write_chunks must add exactly ONE exchange (the conv-keyed shuffle
    feeding the mapInArrow encode) on top of an already-aggregated rollup
    input."""
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.compression.chunks import write_chunks

    e = spark.read.parquet(f"{SF}/events.parquet")
    r = (
        e.groupBy(
            F.col("user_id").cast("string").alias("conv_id"),
            F.date_trunc("minute", F.col("ts").cast("timestamp")).alias("bucket_ts"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n_events"))
        .withColumn("tier", F.lit("1m"))
    )
    # formatted explain mentions each node twice (tree + detail section);
    # count tree lines only
    base_exchanges = _plan(r).count("+- Exchange")
    plan = _plan(write_chunks(r, metrics=("n_events",)))
    assert plan.count("+- Exchange") == base_exchanges + 1, plan


def test_fan_out_probe_gating(spark):
    """fan_out must (a) widen a compact single-split scan, (b) pass a deep
    post-shuffle plan through UNTOUCHED without running the partition probe
    (the probe forces physical planning — the node-count gate, not a
    rendered-plan string, decides)."""
    from pneuma_treatment_spark import session as sess

    shallow = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert shallow.rdd.getNumPartitions() == 1  # one row group → one split
    assert sess.fan_out(shallow).rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism

    e = spark.read.parquet(f"{SF}/events.parquet")
    deep = (
        e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .join(e.select("user_id", "event_type").distinct(), "user_id")
        .where(F.col("n") > 0).select("user_id", "event_type", "n")
    )
    assert sess._count_plan_nodes(
        deep._jdf.queryExecution().analyzed(), sess._PROBE_MAX_PLAN_NODES + 1
    ) > sess._PROBE_MAX_PLAN_NODES
    assert sess.fan_out(deep) is deep  # identical object: no probe, no exchange


def test_text_rides_no_treatment_or_rollup_shuffle(spark):
    """Join-back audit (the bandwidth contract in jobs/rollup_job.py): the
    payload column `text` must appear in NO Exchange feeding the treatment
    or rollup stages — it crosses the wire exactly twice in the whole
    pipeline, both inside the `filled` stage (the payload join-back and the
    day/bucket write clustering)."""
    from pneuma_treatment_spark.io.tableio import TableIO
    from pneuma_treatment_spark.operators.gapfill import gap_fill
    from pneuma_treatment_spark.operators.rollup import rollup_raw, with_turn_metrics
    from pneuma_treatment_spark.operators.treatment import (
        TreatmentConfig,
        treat_transcripts,
    )
    from pneuma_treatment_spark.synth import generate_transcripts

    import shutil
    import tempfile

    ingest = with_turn_metrics(generate_transcripts(spark, 20, seed=5, mega_turns=500))
    narrowed = ingest.select(
        "conv_id", "turn_idx", "role", "ts", "token_count", "is_tool_call"
    )
    filled = gap_fill(
        narrowed, lerp_cols=("token_count",), lerp_ts_cols=("ts",)
    ).join(ingest.select("conv_id", "turn_idx", "text", "tool"),
           ["conv_id", "turn_idx"], "left")
    # the pipeline's stage boundary: treated reads `filled` back from its
    # table, so the payload join belongs to the filled stage's plan only
    wd = tempfile.mkdtemp(prefix="textaudit_")
    try:
        io = TableIO(spark, wd)
        io.write(ingest, "ingest")
        io.write(filled, "filled")
        treated_plan = _plan(
            treat_transcripts(
                io.read("filled").select(
                    "conv_id", "turn_idx", "ts", "token_count", "is_filled"
                ),
                TreatmentConfig(),
            )
        )
        rollup_plan = _plan(rollup_raw(io.read("ingest"), "1m"))
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    for plan, label in ((treated_plan, "treated"), (rollup_plan, "rollup_1m")):
        for line in plan.splitlines():
            assert not (
                "Exchange" in line and "text" in line
            ), f"{label}: text in an exchange: {line}"
        # treatment/rollup plans must not reference the payload at all
        assert "text#" not in plan, label


def test_treatment_fused_exchange_count(spark, transcripts_df):
    """Fusion guarantees: the treatment chain is ONE full-frame exchange
    end-to-end with or without flags (A+B+C+D in a single Python pass).
    With precomputed flags, the tiny flags side is broadcast — neither the
    former SQL run-merge window exchange nor a second Python pass for
    stage D may reappear."""
    from pneuma_treatment_spark.operators.gapfill import gap_fill
    from pneuma_treatment_spark.operators.rollup import with_turn_metrics
    from pneuma_treatment_spark.operators.treatment import (
        TreatmentConfig,
        conv_anomaly_flags,
        raw_anomaly_col,
        treat_transcripts,
    )

    cfg = TreatmentConfig(chunk_len=256)
    filled = gap_fill(
        with_turn_metrics(transcripts_df).select(
            "conv_id", "turn_idx", "role", "ts", "token_count"
        ),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    )
    filled.cache().count()
    try:
        def above_cache(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.split("InMemoryTableScan")[0]

        one = above_cache(treat_transcripts(filled, cfg))
        assert one.count("Exchange hashpartitioning") == 1, one

        rawed = filled.withColumn("raw_anomaly", raw_anomaly_col(cfg))
        flagged = above_cache(
            treat_transcripts(filled, cfg, flags=conv_anomaly_flags(rawed))
        )
        # flags ride a broadcast, not a full-frame hash exchange
        assert flagged.count("Exchange hashpartitioning") == 1, flagged
        assert "BroadcastExchange" in flagged or "BroadcastHashJoin" in flagged
    finally:
        filled.unpersist()


def test_rollup_clustered_single_exchange_and_equality(spark):
    """rollup_raw_clustered: ONE exchange (the (p_day, p_bucket) repartition
    that doubles as the write clustering — guide §2.4 shared exchange) and
    rows bit-identical to rollup_raw, with partition cols matching
    TableIO.with_partition_cols."""
    from pneuma_treatment_spark.operators.rollup import (
        rollup_raw,
        rollup_raw_clustered,
        with_turn_metrics,
    )
    from pneuma_treatment_spark.synth import generate_transcripts

    raw = with_turn_metrics(generate_transcripts(spark, 40, seed=11, mega_turns=500))
    fused = rollup_raw_clustered(raw, "1m", n_buckets=8)
    plan = _plan(fused)
    assert plan.count("+- Exchange") == 1, plan

    cur = rollup_raw(raw, "1m")
    flat = fused.select(*cur.columns)
    assert flat.exceptAll(cur).count() == 0
    assert cur.exceptAll(flat).count() == 0
    # partition cols must equal what TableIO would derive on the written frame
    io = TableIO(spark, "/tmp/unused", n_buckets=8)
    io_cols = io.with_partition_cols(cur, "bucket_ts")
    assert {"p_day", "p_bucket"} <= set(io_cols.columns)
    assert fused.select(*io_cols.columns).exceptAll(io_cols).count() == 0
    # a bare string is a misplaced argument, not a layout
    with pytest.raises(TypeError):
        io.with_partition_cols(cur, "bucket_ts", "p_day")
