"""Property-based tests (hypothesis) for the pure-numpy layers: the Gorilla
codec must round-trip ANY float64 payload bit-for-bit (NaN/inf included —
nulls are load-bearing), and the run-merge kernel must match a direct
reimplementation of the reference's index loop."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from pneuma_treatment_spark import kernels as K
from pneuma_treatment_spark.compression.gorilla import decode_chunks, encode_chunks
from tests.conftest import reuse_class_chunk

finite_or_special = st.floats(
    allow_nan=True, allow_infinity=True, allow_subnormal=True, width=64
)


@settings(max_examples=200, deadline=None)
@given(
    ts0=st.integers(min_value=-(2**40), max_value=2**40),
    deltas=st.lists(st.integers(min_value=0, max_value=2**33), max_size=64),
    data=st.data(),
)
def test_gorilla_roundtrip_any_floats(ts0, deltas, data):
    ts = np.cumsum(np.array([ts0] + deltas, dtype=np.int64))
    vals = data.draw(
        arrays(np.float64, shape=len(ts), elements=finite_or_special)
    )
    (blob,) = encode_chunks(ts, vals, np.array([len(ts)]))
    lens, ts2, vals2 = decode_chunks([blob])
    assert lens[0] == len(ts) and np.array_equal(ts, ts2)
    # bit-level equality: NaN payloads and signed zeros must survive
    assert np.array_equal(vals.view(np.uint64), vals2.view(np.uint64))


def _merge_reference(mask: np.ndarray, max_gap: int = 10) -> np.ndarray:
    """Direct transcription of processor.py:391-399: anomaly indices whose
    difference is < max_gap pull the gap in between into the anomaly set."""
    out = mask.astype(bool).copy()
    idx = list(np.flatnonzero(out))
    for k in range(1, len(idx)):
        if idx[k] - idx[k - 1] < max_gap:
            out[idx[k - 1] : idx[k]] = True
    return out


@settings(max_examples=300, deadline=None)
@given(
    mask=st.lists(st.booleans(), max_size=80),
    max_gap=st.integers(min_value=2, max_value=12),
)
def test_merge_anomaly_runs_matches_reference_loop(mask, max_gap):
    m = np.array(mask, dtype=bool)
    got = K.merge_anomaly_runs(m, max_gap)
    want = _merge_reference(m, max_gap)
    assert np.array_equal(got, want)


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       min_value=-1e9, max_value=1e9)),
        max_size=50,
    )
)
def test_interpolate_matches_pandas(vals):
    x = np.array([np.nan if v is None else v for v in vals], dtype=np.float64)
    got = K.interpolate_linear_both(x)
    want = (
        pd.Series(x).interpolate(method="linear", limit_direction="both").to_numpy()
    )
    assert np.allclose(got, want, equal_nan=True, rtol=0, atol=1e-9)


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6),
        min_size=1, max_size=60,
    ),
    window=st.sampled_from([5, 9, 25]),
)
def test_savgol_poly1_equals_least_squares_line(vals, window):
    """Independent derivation (the scipy cross-check skips in this
    container): SG with polyorder 1 is the least-squares LINE over the
    edge-padded window evaluated at the center — which equals the window
    mean. Check against np.polyfit per position."""
    x = np.array(vals, dtype=np.float64)
    got = K.savgol_poly1(x, window)
    r = window // 2
    padded = np.pad(x, r, mode="edge")
    t = np.arange(window, dtype=np.float64)
    for i in range(len(x)):
        win = padded[i : i + window]
        coef = np.polyfit(t, win, 1)
        center = coef[0] * r + coef[1]
        assert abs(got[i] - center) <= 1e-7 * max(1.0, abs(center))


@settings(max_examples=60, deadline=None)
@given(
    vals=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, min_value=-1e4, max_value=1e4),
        min_size=1, max_size=40,
    ),
    sigma=st.sampled_from([1.5, 4.0, 12.0]),
)
def test_gaussian1d_equals_direct_weighted_sum(vals, sigma):
    """Independent derivation: per-point truncated gaussian dot product over
    the symmetric-padded series (scipy's 'reflect' mode)."""
    x = np.array(vals, dtype=np.float64)
    got = K.gaussian1d(x, sigma)
    radius = int(4.0 * sigma + 0.5)
    w = np.exp(-0.5 * (np.arange(-radius, radius + 1) / sigma) ** 2)
    w /= w.sum()
    padded = np.pad(x, radius, mode="symmetric")
    for i in range(len(x)):
        direct = float(np.dot(padded[i : i + 2 * radius + 1], w[::-1]))
        assert abs(got[i] - direct) <= 1e-9 * max(1.0, abs(direct))


@settings(max_examples=60, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=12),
    foreign_at=st.sets(st.integers(min_value=0, max_value=12), max_size=4),
    data=st.data(),
)
def test_decode_chunks_mixed_foreign_batches(sizes, foreign_at, data):
    """ANY batch holding at least one foreign '10'-reuse-class chunk raises
    ValueError wherever the chunk sits, and the same native chunks without
    it round-trip bit-exactly (batch offsets stay right at every size)."""
    blobs, series = [], []
    for i, n in enumerate(sizes):
        if i in foreign_at:
            v = data.draw(
                arrays(np.float64, shape=4, elements=finite_or_special)
            )
            # v1 must differ from v0 so the '11' record that opens the
            # reused window is emitted (xor of equal bits is the '0' class)
            if v.view(np.uint64)[1] == v.view(np.uint64)[0]:
                v = v.copy()
                v[1] = 1.5 if v.view(np.uint64)[0] != np.float64(1.5).view(np.uint64) else 2.5  # noqa: E501
            blobs.append(reuse_class_chunk(np.arange(4, dtype=np.int64) * 7 + i, v))
        else:
            ts = np.cumsum(
                np.array(
                    data.draw(
                        st.lists(
                            st.integers(min_value=0, max_value=2**20),
                            min_size=n, max_size=n,
                        )
                    ),
                    dtype=np.int64,
                )
            )
            vals = data.draw(
                arrays(np.float64, shape=n, elements=finite_or_special)
            )
            (blob,) = encode_chunks(ts, vals, [n])
            blobs.append(blob)
            series.append((ts, vals))
    if any(i in foreign_at for i in range(len(sizes))):
        with pytest.raises(ValueError):
            decode_chunks(blobs)
        blobs = [b for i, b in enumerate(blobs) if i not in foreign_at]
    lens, tsb, vb = decode_chunks(blobs)
    assert list(lens) == [len(t) for t, _ in series]
    if len(tsb):
        assert np.array_equal(tsb, np.concatenate([t for t, _ in series]))
        assert np.array_equal(
            vb.view(np.uint64),
            np.concatenate([v for _, v in series]).view(np.uint64),
        )
