"""Gorilla codec: encode→decode == identity (SURVEY.md §5 item 4)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pneuma_treatment_spark.compression.gorilla import decode_chunks, encode_chunks
from tests.conftest import reuse_class_chunk, splice_chunk

rng = np.random.default_rng(99)


def _roundtrip(ts, vals):
    (blob,) = encode_chunks(ts, vals, [len(ts)])
    lens, ts2, vals2 = decode_chunks([blob])
    assert list(lens) == [len(ts)]
    np.testing.assert_array_equal(np.asarray(ts, dtype=np.int64), ts2)
    # bit-exact including NaN payloads
    np.testing.assert_array_equal(
        np.asarray(vals, dtype=np.float64).view(np.uint64), vals2.view(np.uint64)
    )
    return blob


def test_regular_grid_constant_values():
    ts = np.arange(0, 3600_000_000, 60_000_000, dtype=np.int64)  # 1-min grid
    vals = np.full(len(ts), 3.25)
    blob = _roundtrip(ts, vals)
    # regular grid + constant values → ~1 bit/point + fixed header
    assert len(blob) < 44 + len(ts) * 0.5


def test_noisy_series():
    n = 5000
    ts = np.cumsum(rng.integers(1, 10_000_000, n)).astype(np.int64)
    vals = rng.normal(100, 15, n)
    _roundtrip(ts, vals)


def test_nulls_and_special_floats():
    ts = np.arange(10, dtype=np.int64) * 1_000_000
    vals = np.array([1.5, np.nan, np.nan, 0.0, -0.0, np.inf, -np.inf, 1e-308, 1e308, 2.5])
    _roundtrip(ts, vals)


def test_irregular_dod_classes():
    # deltas hitting every dod bucket incl. the 64-bit raw escape
    deltas = np.array([100, 100, 101, 90, 400, 100, 3000, 100, 10**12, 100, 100])
    ts = np.concatenate([[0], np.cumsum(deltas)]).astype(np.int64)
    vals = rng.normal(0, 1, len(ts))
    _roundtrip(ts, vals)


def test_negative_dod_and_backward_ts():
    ts = np.array([0, 1000, 1900, 2100, 2100, 5000], dtype=np.int64)
    vals = np.array([1.0, 1.0, 2.0, 2.0, 3.0, 3.0])
    _roundtrip(ts, vals)


@pytest.mark.parametrize("n", [0, 1, 2, 3])
def test_tiny_series(n):
    ts = np.arange(n, dtype=np.int64) * 7_000_000
    vals = rng.normal(0, 1, n)
    _roundtrip(ts, vals)


def test_compression_ratio_rollup_like():
    """Rollup-ish series (regular grid, slowly varying rounded values)
    should compress well below raw 16 B/point."""
    n = 2000
    ts = np.arange(n, dtype=np.int64) * 60_000_000
    vals = np.round(np.cumsum(rng.normal(0, 0.05, n)) + 10, 2)
    (blob,) = encode_chunks(ts, vals, [n])
    assert len(blob) < n * 16 * 0.6


def test_spark_chunk_tables(spark, transcripts_df):
    """Chunks store the INT partials; the read path re-derives every rate
    bit-for-bit equal to the tier the chunks were written from."""
    from pneuma_treatment_spark.compression.chunks import (
        points_with_rates,
        read_chunks,
        write_chunks,
    )
    from pneuma_treatment_spark.operators.rollup import rollup_raw, with_turn_metrics

    tier = rollup_raw(with_turn_metrics(transcripts_df), "1m")
    chunks = write_chunks(tier)
    got = points_with_rates(read_chunks(chunks)).toPandas()
    cols = ["turn_count", "token_sum", "tool_calls",
            "token_rate", "tool_call_rate", "turns_norm"]
    want = tier.select("conv_id", "bucket_ts", *cols).toPandas()
    assert len(got) == len(want)
    merged = want.merge(got, on=["conv_id", "bucket_ts"], suffixes=("", "_dec"))
    assert len(merged) == len(want)
    for c in cols:
        lhs = merged[c].to_numpy(np.float64)
        rhs = merged[f"{c}_dec"].to_numpy(np.float64)
        np.testing.assert_array_equal(lhs.view(np.uint64), rhs.view(np.uint64), c)


def test_chunks_straddling_arrow_batches(spark, transcripts_df):
    """Encode with 7-row Arrow batches (a prime), so series straddle batch
    boundaries: the chunks must be byte-identical to the default-batch
    encode, and each must decode back to its tier rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.compression.chunks import DEFAULT_METRICS, write_chunks
    from pneuma_treatment_spark.operators.rollup import rollup_raw, with_turn_metrics

    tier = rollup_raw(with_turn_metrics(transcripts_df), "1m")
    tier.cache().count()
    keys = ["conv_id", "tier", "p_day", "metric"]
    want = write_chunks(tier).toPandas().sort_values(keys).reset_index(drop=True)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = write_chunks(tier).toPandas().sort_values(keys).reset_index(drop=True)
    finally:
        spark.conf.set(conf, old)
        tier.unpersist()
    pd.testing.assert_frame_equal(got, want)

    rows = tier.select(
        "conv_id", F.unix_micros("bucket_ts").alias("us"), *DEFAULT_METRICS
    ).toPandas().sort_values(["conv_id", "us"])
    lens, ts, vals = decode_chunks(list(got["chunk"]))
    offs = np.concatenate([[0], np.cumsum(lens)])
    for i, r in enumerate(got.itertuples(index=False)):
        conv = rows[rows["conv_id"] == r.conv_id]
        s_us = pd.Timestamp(r.start_ts).value // 1000
        e_us = pd.Timestamp(r.end_ts).value // 1000
        sel = conv[(conv["us"] >= s_us) & (conv["us"] <= e_us)]
        np.testing.assert_array_equal(ts[offs[i]:offs[i + 1]], sel["us"].to_numpy())
        np.testing.assert_array_equal(
            vals[offs[i]:offs[i + 1]], sel[r.metric].to_numpy(np.float64)
        )


def test_chunk_compression_on_partials(spark, transcripts_df):
    """Storing int partials (not rate doubles) must actually compress: the
    whole chunk table, headers included, beats 16 bytes/point."""
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.compression.chunks import write_chunks
    from pneuma_treatment_spark.operators.rollup import rollup_raw, with_turn_metrics

    tier = rollup_raw(with_turn_metrics(transcripts_df), "1h")
    r = (
        write_chunks(tier)
        .agg(F.sum(F.length("chunk")).alias("b"), F.sum("n_points").alias("p"))
        .collect()[0]
    )
    assert r["b"] < r["p"] * 16


def _edge_shape_series(seed: int, count: int, tiny: list) -> list:
    """(ts, vals) series across edge shapes: empty, 1-3-point and n-point
    chunks; int-valued, ±1e9-scale, constant and NaN-laced doubles."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(count):
        n = int(rng.integers(0, 40)) if i % 5 else int(rng.choice(tiny))
        ts = np.sort(rng.integers(0, 10**12, n)).astype(np.int64)
        kind = i % 4
        if kind == 0:
            vals = rng.integers(-5000, 5000, n).astype(np.float64)
        elif kind == 1:
            vals = rng.normal(0, 1e9, n)
        elif kind == 2:
            vals = np.full(n, -2.5)
        else:
            vals = rng.normal(0, 1, n)
            vals[rng.random(n) < 0.3] = np.nan
        out.append((ts, vals))
    return out


def _encode_all(series: list) -> list:
    return encode_chunks(
        np.concatenate([t for t, _ in series]),
        np.concatenate([v for _, v in series]),
        np.array([len(t) for t, _ in series]),
    )


def test_decode_chunks_batch_equals_single():
    """Batched decode must return every series bit-exactly across edge
    shapes, and equal what each blob decodes to alone."""
    refs = _edge_shape_series(99, 300, [0, 1, 2])
    blobs = _encode_all(refs)
    lens, tsb, vb = decode_chunks(blobs)
    off = 0
    for i, (ts, vals) in enumerate(refs):
        nl = int(lens[i])
        assert nl == len(ts)
        assert np.array_equal(tsb[off:off + nl], ts)
        assert np.array_equal(
            vb[off:off + nl].view(np.uint64), vals.view(np.uint64)
        )
        _, t1, v1 = decode_chunks([blobs[i]])
        assert np.array_equal(t1, ts)
        assert np.array_equal(v1.view(np.uint64), vals.view(np.uint64))
        off += nl


#: sha256 over the concatenated blobs of the 400 seed-13 edge-shape series,
#: as written by the codec's original per-chunk encoder: chunk tables
#: written by earlier builds must keep decoding, so the bytes must not move
GOLDEN_SHA256 = "cfc4d66fd24bbb177d71b1cc4912650dcf6d44acd32aee420a3ca9a5176a4539"


def test_encode_chunks_batch_byte_identical():
    """Batched encode writes the pinned on-disk bytes, and each blob is
    BYTE-IDENTICAL to encoding its series alone."""
    series = _edge_shape_series(13, 400, [0, 1, 2, 3])
    batch = _encode_all(series)
    assert hashlib.sha256(b"".join(map(bytes, batch))).hexdigest() == GOLDEN_SHA256
    for (ts, vals), blob in zip(series[:40], batch):
        assert bytes(encode_chunks(ts, vals, [len(ts)])[0]) == bytes(blob)
    # lengths that do not tile the arrays are refused, not silently cut
    for ts, vals, lens in (([1, 2, 3], [1.0, 2.0, 3.0], [2]), ([1, 2], [1.0], [2])):
        with pytest.raises(ValueError):
            encode_chunks(ts, vals, lens)
    # empty batches are valid no-ops on both sides
    assert encode_chunks(np.zeros(0), np.zeros(0), np.zeros(0, dtype=np.int64)) == []
    l0, t0, v0 = decode_chunks([])
    assert len(l0) == 0 and len(t0) == 0 and len(v0) == 0


def test_decode_rejects_paper_reuse_class():
    """A foreign chunk using the paper's '10' previous-window-reuse value
    record (this codec never writes it) raises ValueError, alone and
    between native chunks, instead of decoding to wrong values."""
    ts = np.array([0, 60, 120, 180], dtype=np.int64)
    foreign = reuse_class_chunk(ts, np.array([1.5, 2.5, 3.5, 3.5]))
    with pytest.raises(ValueError):
        decode_chunks([foreign])
    rng = np.random.default_rng(3)
    native = [
        bytes(encode_chunks(np.arange(i + 2, dtype=np.int64) * 60 + i,
                            rng.normal(0, 1, i + 2), [i + 2])[0])
        for i in range(10)
    ]
    with pytest.raises(ValueError):
        decode_chunks(native[:5] + [foreign] + native[5:])
    lens, _, _ = decode_chunks(native)
    assert list(lens) == [i + 2 for i in range(10)]


def test_corrupt_chunks_raise_value_error():
    """Malformed blobs must surface as ValueError (module contract), not a
    numpy IndexError, struct.error or assert from inside the decode —
    including when the FINAL record claims bits past the payload end, and
    for a blob truncated at any length, alone or ahead of a good blob."""
    (ts3,) = encode_chunks([0, 60, 120], [0.0, 0.0, 0.0], [3])
    (ts2,) = encode_chunks([0, 60], [0.0, 1.0], [2])
    ts3, ts2 = bytes(ts3), bytes(ts2)
    bad = [
        # ts stream: n=3 but the payload opens with '1111' (claims 68 bits)
        # in 2 bytes
        splice_chunk(ts3, tp=bytes([0b11110000, 0])),
        # value stream: '11' lead=0 mlen-1=63 inside a 2-byte payload
        splice_chunk(ts2, vp=bytes([0b11000000 | 0b00111111, 0b11000000])),
        b"GOR2" + ts2[4:],       # bad magic
        ts2 + b"\0",             # trailing bytes past the declared payloads
        ts3[:4] + (1 << 20).to_bytes(4, "little") + ts3[8:],  # n overclaims
    ]
    for blob in bad:
        with pytest.raises(ValueError):
            decode_chunks([blob])

    ts = np.arange(20, dtype=np.int64) * 60_000_000 + np.arange(20) ** 3
    good = bytes(encode_chunks(ts, np.random.default_rng(5).normal(0, 1, 20), [20])[0])
    for cut in range(len(good)):
        for batch in ([good[:cut]], [good[:cut], good]):
            with pytest.raises(ValueError):
                decode_chunks(batch)


def test_read_chunks_range_prunes_before_decode(spark, transcripts_df):
    """Time-range chunk read: the (start_ts, end_ts) stat filter must drop
    non-overlapping chunks BEFORE decode (chunk-count strictly shrinks),
    and the decoded window must equal the full decode filtered to the same
    bounds — including partially-overlapping boundary chunks."""
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.compression.chunks import (
        read_chunks,
        read_chunks_range,
        write_chunks,
    )
    from pneuma_treatment_spark.operators.rollup import rollup_raw, with_turn_metrics

    tier = rollup_raw(with_turn_metrics(transcripts_df), "1m")
    chunks = write_chunks(tier)
    chunks.cache().count()

    b = tier.agg(F.min("bucket_ts").alias("mn"), F.max("bucket_ts").alias("mx")).select(
        (F.col("mn") + (F.col("mx") - F.col("mn")) / 3).cast("string").alias("lo"),
        (F.col("mn") + (F.col("mx") - F.col("mn")) * 2 / 3).cast("string").alias("hi"),
    ).first()
    lo, hi = b["lo"], b["hi"]

    total_chunks = chunks.count()
    surviving = chunks.where(
        (F.col("end_ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("start_ts") <= F.lit(hi).cast("timestamp"))
    ).count()
    assert 0 < surviving < total_chunks  # pruning actually bites

    got = read_chunks_range(chunks, lo, hi).toPandas()
    want = (
        read_chunks(chunks)
        .where(
            (F.col("bucket_ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("bucket_ts") <= F.lit(hi).cast("timestamp"))
        )
        .toPandas()
    )
    key = ["conv_id", "tier", "metric", "bucket_ts"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) and len(g) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(g, w)
    chunks.unpersist()


def test_chunk_ttl_prunes_window_partitions(spark, tmp_path):
    """Chunk-table retention (VERDICT r5 item 5): chunks are windowed per
    tier (TIER_WINDOW_DAYS) and written partitioned by (tier, p_day =
    window start), so a TTL delete (a) never touches a live point — a
    boundary window whose coverage extends past the cutoff survives until
    FULLY expired, (b) drops whole partition dirs, (c) prunes the scan
    that selects them by partition columns (on real Iceberg:
    metadata-only), and (d) keeps the nested tier/p_day directory layout
    of the surviving partitions."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.compression.chunks import (
        TIER_WINDOW_DAYS,
        chunk_ttl_sql_predicate,
        read_chunks,
        write_chunks,
    )
    from pneuma_treatment_spark.io.tableio import TableIO

    rows = []
    # 1m tier: one bucket per hour over 2024-01-01..05 (1-day windows)
    for d in range(1, 6):
        for h in range(0, 24, 6):
            rows.append(("c0", "1m", f"2024-01-0{d} {h:02d}:00:00", 2, 10, 1))
    # 1h tier: one bucket per day over Dec 2023..Feb 2024 (30-day windows)
    for off in range(0, 75, 5):
        ts = pd.Timestamp("2023-12-01") + pd.Timedelta(days=off)
        rows.append(("c1", "1h", str(ts), 3, 20, 0))
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["conv_id", "tier", "bucket_ts", "turn_count",
                     "token_sum", "tool_calls"],
        )
    ).withColumn("bucket_ts", F.col("bucket_ts").cast("timestamp"))

    io = TableIO(spark, str(tmp_path))
    schema = io.write(write_chunks(df), "chunks",
                      partition_cols=["tier", "p_day"])

    before = io.read("chunks").toPandas()
    # no chunk crosses its window: [p_day, p_day + wdays)
    for r in before.itertuples(index=False):
        w = TIER_WINDOW_DAYS[r.tier]
        lo = pd.Timestamp(r.p_day)
        assert lo <= r.start_ts <= r.end_ts < lo + pd.Timedelta(days=w)

    pred = chunk_ttl_sql_predicate({"1m": 1, "1h": 10}, "2024-01-05")
    # (c) the drop's selection scan prunes on partition columns only
    plan = (
        io.read("chunks", schema).where(pred)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "p_day" in plan.split("PartitionFilters")[1][:400]

    io.delete_where("chunks", pred, ["tier", "p_day"], schema)
    after = io.read("chunks").toPandas()

    # (a) exact survivor set at the 7d/45d default windows:
    # 1m windows are 2023-12-28 (covers Jan 1-3 data, last day Jan 3 <
    # now-1 → fully expired, dropped) and 2024-01-04 (survives);
    # 1h windows are 2023-11-04 (covers through Dec 18 < now-10 → dropped),
    # 2023-12-19 and 2024-02-02 (survive). The 2023-12-19 window's START is
    # older than the plain-TTL cutoff (2023-12-26) but it covers through
    # 2024-02-01 — NOT fully expired, so it must survive (boundary
    # semantics: no live point is ever deleted).
    def key(pdf):
        return set(map(tuple, pdf[["tier", "p_day", "conv_id", "metric"]].astype(str).values))

    cut_1m = pd.Timestamp("2023-12-29").date()
    keep = before[
        ((before.tier == "1m") & (before.p_day >= cut_1m))
        | ((before.tier == "1h") & (before.p_day >= pd.Timestamp("2023-11-12").date()))
    ]
    assert key(after) == key(keep) and len(after) < len(before)
    assert ("1h", "2023-12-19") in {(t, str(p)) for t, p in zip(after.tier, after.p_day)}

    # (b)+(d) expired dirs gone, nested layout preserved
    root = tmp_path / "chunks"
    assert (root / "tier=1m" / "p_day=2024-01-04").exists()
    assert not (root / "tier=1m" / "p_day=2023-12-28").exists()
    assert not (root / "tier=1h" / "p_day=2023-11-04").exists()
    assert (root / "tier=1h" / "p_day=2023-12-19").exists()

    # surviving chunk contents decode bit-identically to the original
    dec = read_chunks(io.read("chunks")).toPandas().sort_values(
        ["conv_id", "tier", "metric", "bucket_ts"]).reset_index(drop=True)
    src = df.toPandas()
    surv_1m = pd.Timestamp("2024-01-04").date()  # surviving window start
    assert (dec[dec.tier == "1m"]["bucket_ts"].dt.date >= surv_1m).all()
    m = dec[(dec.tier == "1m") & (dec.metric == "token_sum")]
    assert set(m.value) == {10.0} and len(m) == len(
        src[(src.tier == "1m") & (pd.to_datetime(src.bucket_ts).dt.date >= surv_1m)]
    )
