"""Engine == oracle, exact, at every stage (SURVEY.md §5 item 2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pneuma_treatment_spark.operators.gapfill import gap_fill
from pneuma_treatment_spark.operators.rollup import rollup_cascade, rollup_raw, with_turn_metrics
from pneuma_treatment_spark.operators.treatment import (
    TreatmentConfig,
    conv_anomaly_flags,
    raw_anomaly_col,
    treat_transcripts,
)
from pneuma_treatment_spark.reference_impl import oracle as O
from tests.conftest import assert_pdf_equal

CFG = TreatmentConfig(chunk_len=256)  # small chunks so the mega-conv spans many
# chunk_len == the fused halo (halo_a + merge_gap + halo_d = 72): every row
# also serves both neighbour chunks, the tightest chunking the guard allows
HALO_CFG = TreatmentConfig(chunk_len=72)
# the longest fixture conversation (turns 0..2999) fits one chunk, but its
# last turns lie in the halo zone, so they also form a halo-only chunk-1
# slice: treated without flags, that slice must be skipped, not flagged
TAIL_CFG = TreatmentConfig(chunk_len=3036)


def _token_counts(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    stripped = out["text"].str.strip()
    out["token_count"] = stripped.str.split(r"\s+").str.len()
    out.loc[stripped == "", "token_count"] = 0
    out.loc[out["text"].isna(), "token_count"] = np.nan
    return out


@pytest.fixture(scope="module")
def filled_oracle(transcripts_pdf):
    return O.oracle_gap_fill(_token_counts(transcripts_pdf))


@pytest.fixture(scope="module")
def filled_spark(spark, transcripts_df):
    df = gap_fill(
        with_turn_metrics(transcripts_df),
        ffill_cols=("role",),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    )
    df.cache().count()
    return df


def test_gap_fill_parity(filled_spark, filled_oracle):
    got = filled_spark.select(
        "conv_id", "turn_idx", "is_filled", "role", "token_count", "ts"
    ).toPandas()
    assert_pdf_equal(got, filled_oracle, ["conv_id", "turn_idx"])


def _flags(filled, cfg):
    """The pipeline's flags: the SQL raw-anomaly twin, aggregated per conv."""
    return conv_anomaly_flags(filled.withColumn("raw_anomaly", raw_anomaly_col(cfg)))


@pytest.mark.parametrize(
    "cfg, flags",
    [(TreatmentConfig(), False), (CFG, True), (HALO_CFG, True), (TAIL_CFG, False)],
    ids=["whole-series", "chunked", "chunked-at-halo", "one-chunk-halo-tail"],
)
def test_treatment_parity(filled_spark, filled_oracle, cfg, flags):
    if cfg is TAIL_CFG:
        span = int(filled_oracle["turn_idx"].max()) + 1
        assert cfg.chunk_len - (cfg.halo_a + cfg.merge_gap + cfg.halo_d) < span <= cfg.chunk_len
    got = treat_transcripts(
        filled_spark, cfg, flags=_flags(filled_spark, cfg) if flags else None
    ).toPandas()
    want = O.oracle_treat(filled_oracle, CFG)
    cols = [
        "conv_id", "turn_idx", "tokens_filled", "sg_tokens", "med_tokens",
        "raw_anomaly", "is_anomaly", "treated_tokens", "conv_has_anomaly",
        "g_ns", "g_na",
    ]
    assert_pdf_equal(got[cols], want[cols], ["conv_id", "turn_idx"])


@pytest.mark.parametrize(
    "cfg, flags", [(TreatmentConfig(), False), (CFG, True)], ids=["whole-series", "chunked"]
)
def test_treatment_parity_small_batches(
    filled_spark, filled_oracle, cfg, flags, small_arrow_batches
):
    """Series straddling Arrow batch boundaries are carried into the next
    batch whole: the result still equals the oracle bit for bit."""
    test_treatment_parity(filled_spark, filled_oracle, cfg, flags)


def test_treatment_parity_precomputed_flags(filled_spark, filled_oracle):
    """The pipeline path: conv_has_anomaly flags precomputed via the SQL
    raw-anomaly twin (raw_anomaly_col — same exchange as gap-fill in the
    real pipeline) + conv_anomaly_flags, passed into the treatment.
    Must equal the oracle bit-for-bit, and the SQL mask itself must equal
    the kernel mask row-for-row."""
    rawed = filled_spark.withColumn("raw_anomaly", raw_anomaly_col(CFG))
    got = treat_transcripts(filled_spark, CFG, flags=conv_anomaly_flags(rawed)).toPandas()
    want = O.oracle_treat(filled_oracle, CFG)
    cols = [
        "conv_id", "turn_idx", "tokens_filled", "sg_tokens", "med_tokens",
        "raw_anomaly", "is_anomaly", "treated_tokens", "conv_has_anomaly",
        "g_ns", "g_na",
    ]
    assert_pdf_equal(got[cols], want[cols], ["conv_id", "turn_idx"])

    # SQL mask == kernel mask, row for row (not just the per-conv any)
    sql_raw = rawed.select("conv_id", "turn_idx", "raw_anomaly").toPandas()
    merged = sql_raw.merge(
        want[["conv_id", "turn_idx", "raw_anomaly"]],
        on=["conv_id", "turn_idx"],
        suffixes=("_sql", "_kernel"),
    )
    assert (merged["raw_anomaly_sql"] == merged["raw_anomaly_kernel"]).all()


def test_fusion_guards(spark, filled_spark):
    """Silent-corruption guards: halo > chunk_len refuses eagerly; a
    conversation longer than a chunk without its flag — no flags at all,
    or a flags frame missing it — fails loudly instead of dropping rows or
    routing the conversation down the wrong branch; and a negative
    turn_idx fails loudly instead of dropping its rows."""
    with pytest.raises(ValueError, match="halo"):
        treat_transcripts(filled_spark, TreatmentConfig(chunk_len=16))

    with pytest.raises(Exception, match="pass flags="):
        treat_transcripts(filled_spark, CFG).collect()

    partial = spark.createDataFrame(
        [("conv00000000", True)], "conv_id string, conv_has_anomaly boolean"
    )
    with pytest.raises(Exception, match="conv_has_anomaly is null"):
        treat_transcripts(filled_spark, CFG, flags=partial).collect()

    # turns -5..19: the negative rows' own chunk is -1; dropping them
    # would return 20 of 25 rows without an error
    negative = spark.createDataFrame(
        [("c", t, float(t % 7)) for t in range(-5, 20)],
        "conv_id string, turn_idx long, token_count double",
    )
    with pytest.raises(Exception, match="negative turn_idx"):
        treat_transcripts(negative, CFG).collect()


def test_rollup_parity(spark, transcripts_df, transcripts_pdf):
    m = with_turn_metrics(transcripts_df)
    got = rollup_raw(m, "1h").toPandas()
    want = O.oracle_rollup(_token_counts(transcripts_pdf), "1h")
    assert_pdf_equal(got, want, ["conv_id", "bucket_ts"])


def test_cascade_equals_direct(spark, transcripts_df):
    """1m→1h→1d cascade must equal direct aggregation bit-for-bit."""
    m = with_turn_metrics(transcripts_df)
    tiers = rollup_cascade(m)
    for tier in ("1h", "1d"):
        direct = rollup_raw(m, tier).toPandas()
        cascaded = tiers[tier].toPandas()
        assert_pdf_equal(cascaded, direct, ["conv_id", "bucket_ts"], check_exact=True)
