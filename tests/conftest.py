from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pneuma_treatment_spark.session import get_spark  # noqa: E402
from pneuma_treatment_spark.synth import generate_transcripts_pdf  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pneuma-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf() -> pd.DataFrame:
    # 40 conversations incl. one 3000-turn mega-conversation; seeded.
    return generate_transcripts_pdf(n_convs=40, seed=7, mega_turns=3000)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf)
    df.cache().count()
    return df


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow batches of 7 rows (a prime) for one test, so the Python
    stages' series straddle batch boundaries; the conf is restored after."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


def assert_pdf_equal(left: pd.DataFrame, right: pd.DataFrame, keys: list[str], **kw):
    """Order-insensitive exact comparison on shared columns."""
    cols = [c for c in left.columns if c in right.columns]
    l = left[cols].sort_values(keys).reset_index(drop=True)
    r = right[cols].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(l, r, check_dtype=False, check_like=True, **kw)
