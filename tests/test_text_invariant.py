"""Per-turn text byte-equality under stable (conv_id, turn_idx) ordering —
the input_hint invariant (SURVEY.md §5 item 3): the pipeline may add columns
and rows (gap-fill) but must never mutate an original turn's text."""

from __future__ import annotations

from pyspark.sql import functions as F

from pneuma_treatment_spark.operators.gapfill import gap_fill
from pneuma_treatment_spark.operators.rollup import with_turn_metrics
from pneuma_treatment_spark.operators.treatment import (
    TreatmentConfig,
    conv_anomaly_flags,
    raw_anomaly_col,
    treat_transcripts,
)


def test_text_preserved_through_pipeline(spark, transcripts_df, transcripts_pdf):
    filled = gap_fill(
        with_turn_metrics(transcripts_df),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    )
    cfg = TreatmentConfig(chunk_len=512)
    flags = conv_anomaly_flags(filled.withColumn("raw_anomaly", raw_anomaly_col(cfg)))
    treated = treat_transcripts(filled, cfg, flags=flags)
    out = (
        treated.where(~F.col("is_filled"))
        .select("conv_id", "turn_idx", "text", "role", "tool")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orig = (
        transcripts_pdf[["conv_id", "turn_idx", "text", "role", "tool"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(out) == len(orig)
    assert (out["conv_id"] == orig["conv_id"]).all()
    assert (out["turn_idx"].to_numpy() == orig["turn_idx"].to_numpy()).all()
    # byte equality including nulls
    assert (out["text"].fillna("\0") == orig["text"].fillna("\0")).all()
    assert (out["role"] == orig["role"]).all()
    assert (out["tool"].fillna("\0") == orig["tool"].fillna("\0")).all()


def test_filled_rows_flagged_and_textless(spark, transcripts_df):
    filled = gap_fill(with_turn_metrics(transcripts_df))
    ins = filled.where(F.col("is_filled"))
    assert ins.where(F.col("text").isNotNull()).count() == 0
