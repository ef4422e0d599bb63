"""Design-ratio mega-conversation stress (COVERAGE.md §2.10, marked slow).

ONE synthetic conversation of 6M turns — ~2000x the bench's per-series
median and far past what one task should hold whole — runs through the
chunk+halo treatment, with the pipeline's SQL-twin flags, and must match
the whole-series pandas oracle bit-for-bit. The fixture is sf-independent (generated distributed via
``spark.range`` + integer-LCG expressions; the identical numpy arithmetic
rebuilds it for the oracle — integer ops are exact in both engines, so no
cross-engine float drift can leak into the input).

What this proves beyond tests/test_treatment_parity.py (100k-turn mega):
the halo algebra at ~92 chunks per stage with anomaly runs crossing chunk
boundaries, and that per-task memory stays bounded by chunk_len + 2*halo
rows (~66k) while the series is 6M — the structural property that lets a
10^8-turn conversation flow through fixed-memory executors.

Run with ``pytest -m slow`` (deselected by default via pytest.ini).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pneuma_treatment_spark.operators.treatment import (
    TreatmentConfig,
    conv_anomaly_flags,
    raw_anomaly_col,
    treat_transcripts,
)
from pneuma_treatment_spark.reference_impl import oracle as O

N = 6_000_000
A, C, M = 1103515245, 12345, 2**31  # LCG family shared with the ANN oracles

CMP_COLS = [
    "tokens_filled", "sg_tokens", "med_tokens", "raw_anomaly", "is_anomaly",
    "treated_tokens", "conv_has_anomaly", "g_ns", "g_na",
]


@pytest.mark.slow
def test_mega_conversation_design_ratio_parity(spark):
    cfg = TreatmentConfig(chunk_len=65536)

    h = (F.col("id") * A + C) % M
    df = spark.range(N).select(
        F.lit("mega-0").alias("conv_id"),
        F.col("id").alias("turn_idx"),
        (
            (h % 97).cast("double")
            + F.when(h % 5000 == 0, F.lit(500.0)).otherwise(F.lit(0.0))
        ).alias("token_count"),
    )
    got = (
        treat_transcripts(
            df,
            cfg,
            flags=conv_anomaly_flags(df.withColumn("raw_anomaly", raw_anomaly_col(cfg))),
        )
        .select("turn_idx", *CMP_COLS)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert len(got) == N

    idx = np.arange(N, dtype=np.int64)
    hv = (idx * A + C) % M
    tok = (hv % 97).astype(np.float64) + np.where(hv % 5000 == 0, 500.0, 0.0)
    want = O.oracle_treat(
        pd.DataFrame({"conv_id": "mega-0", "turn_idx": idx, "token_count": tok}),
        cfg,
    )
    assert bool(want["conv_has_anomaly"].iloc[0])  # spikes must actually fire
    assert int(want["raw_anomaly"].sum()) > 500
    for col in CMP_COLS:
        g = got[col].to_numpy()
        w = want.sort_values("turn_idx")[col].to_numpy()
        assert np.array_equal(g, w), f"{col}: chunk+halo != whole-series oracle"
