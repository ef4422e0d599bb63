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


def splice_chunk(blob: bytes, tp: bytes | None = None, vp: bytes | None = None) -> bytes:
    """A Gorilla chunk blob with its timestamp and/or value payload replaced
    (lengths re-declared to match): builds foreign or corrupt chunks on top
    of a real encoder header."""
    import struct

    (tplen,) = struct.unpack_from("<I", blob, 24)
    vh = 28 + tplen
    tp = blob[28:vh] if tp is None else tp
    vp = blob[vh + 12:] if vp is None else vp
    return b"".join([blob[:24], struct.pack("<I", len(tp)), tp,
                     blob[vh:vh + 8], struct.pack("<I", len(vp)), vp])


def reuse_class_chunk(ts, vals) -> bytes:
    """Hand-encode a 4-point chunk [v0, v1, v2, v2] whose value stream uses
    the paper's '10' previous-window-reuse record, which this codec never
    writes: a '11' record for v1 opens a (lead=0, mlen=64) window, v2 reuses
    it, v3 repeats. v1 must differ from v0."""
    import numpy as np

    from pneuma_treatment_spark.compression.gorilla import encode_chunks

    bits_v = np.asarray(vals, dtype=np.float64).view(np.uint64)
    x1 = int(bits_v[1] ^ bits_v[0])
    x2 = int(bits_v[2] ^ bits_v[1])
    stream = (
        "11" + format(0, "06b") + format(63, "06b") + format(x1, "064b")
        + "10" + format(x2, "064b")
        + "0"
    )
    stream += "0" * ((-len(stream)) % 8)
    vp = bytes(int(stream[i:i + 8], 2) for i in range(0, len(stream), 8))
    (native,) = encode_chunks(ts, vals, [4])
    return splice_chunk(bytes(native), vp=vp)
