"""Malformed transcripts are rejected before the ingest table is written.

Each fault below used to pass the ingest stage: duplicate keys were
counted twice by the tiers, a negative ``turn_idx`` fell out of every
treatment chunk, a null ``turn_idx`` row was replaced by a gap-filled
row, a null ``ts`` crashed the chunk encoder after six stages had
committed, and a null ``conv_id`` crashed the treatment. The ingest build
now refuses them with a ``ValueError`` naming the rule and the row count,
so neither branch starts and no stage manifest is written.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jobs.rollup_job import run_pipeline
from pneuma_treatment_spark.synth import generate_transcripts


def _row():
    """The one row each single-row fault lands on."""
    return (F.col("conv_id") == "conv00000003") & (F.col("turn_idx") == 1)


def _null_at_row(col: str):
    return lambda df: df.withColumn(
        col, F.when(_row(), F.lit(None).cast(df.schema[col].dataType)).otherwise(F.col(col))
    )


CASES = {
    "duplicate-key": (lambda df: df.unionByName(df.limit(3)), "duplicate key in 3 of"),
    "negative-turn-idx": (
        lambda df: df.withColumn(
            "turn_idx", F.when(_row(), F.lit(-1)).otherwise(F.col("turn_idx"))
        ),
        "negative turn_idx in 1 of",
    ),
    "null-turn-idx": (_null_at_row("turn_idx"), "null key in 1 of"),
    "null-ts": (_null_at_row("ts"), "null ts in 1 of"),
    "null-conv-id": (_null_at_row("conv_id"), "null key in 1 of"),
}


@pytest.mark.parametrize("case", list(CASES))
def test_malformed_input_rejected_before_any_write(spark, tmp_path, case):
    corrupt, message = CASES[case]
    base = str(tmp_path / "base")
    generate_transcripts(spark, 12, seed=5, max_turns=20).write.parquet(base)
    bad = str(tmp_path / "bad")
    corrupt(spark.read.parquet(base)).write.parquet(bad)

    wd = tmp_path / "wd"
    with pytest.raises(ValueError, match=message):
        run_pipeline(spark, str(wd), n_convs=12, input_table=bad)
    assert not list((wd / "_manifest").glob("*.json"))
