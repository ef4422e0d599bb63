"""Gorilla time-series codec: delta-of-delta timestamps + XOR floats.

Implements the encoding of Pelkonen et al., "Gorilla: A Fast, Scalable,
In-Memory Time Series Database" (VLDB 2015, public paper), generalized to
microsecond int64 timestamps and float64 values (the paper uses seconds /
float64):

Timestamps (delta-of-delta, zigzag-free bucket classes):
  header: n (uint32), t0 (int64 raw), d0 = t1 - t0 (int64 raw)
  per point i >= 2, dod = (t_i - t_{i-1}) - (t_{i-1} - t_{i-2}):
    dod == 0                  -> '0'
    dod in [-63, 64]          -> '10'   + 7  bits (dod + 63)
    dod in [-255, 256]        -> '110'  + 9  bits (dod + 255)
    dod in [-2047, 2048]      -> '1110' + 12 bits (dod + 2047)
    else                      -> '1111' + 64 bits raw (two's complement)

Values (XOR with predecessor):
  v0: 64 bits raw. For each xor = bits(v_i) ^ bits(v_{i-1}):
    xor == 0 -> '0'
    else '11' + 6 bits leading-zero count + 6 bits length-1
              + that many meaningful bits

(The paper stores 5 leading bits / 6 length bits with 64 meaning "use 32";
we use a flat 6+6 with length-1 so a full 64-bit payload is representable.
The paper's '10' previous-window-reuse record is never written and is
rejected on decode: without it every record's length is readable at its own
start. Documented deviations — this is our own codec, not a wire-format
port.)

Both directions run over MANY chunks at once. Encode computes per-element
(code, bitlen) pairs with numpy and packs them in one searchsorted scatter +
packbits. Decode walks the concatenated record boundaries (one scalar index
per record) and does all field extraction, delta/XOR reconstruction and
output scatter once over the batch. Any malformed blob raises ValueError.

NaN-safe: NaN payload bits round-trip exactly (XOR operates on raw bit
patterns) — required because empty rollup windows are null, not 0
(SURVEY.md §1.2).
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"GOR1"

_TS_BOUNDS = (64, 256, 2048)  # class upper bounds (inclusive) on dod
_TS_OFFS = (63, 255, 2047)
_TS_PAYLOAD = (7, 9, 12)
_TS_PREFIX = (0b10, 0b110, 0b1110)
_TS_PREFIX_LEN = (2, 3, 4)


# --------------------------------------------------------------------------
# bit helpers (vectorized)
# --------------------------------------------------------------------------

def _pack_codes(codes: np.ndarray, bitlens: np.ndarray) -> bytes:
    """Pack per-element MSB-first codes of varying bit length into bytes."""
    codes = codes.astype(np.uint64)
    bitlens = bitlens.astype(np.int64)
    total = int(bitlens.sum())
    if total == 0:
        return b""
    starts = np.concatenate([[0], np.cumsum(bitlens)[:-1]])
    elem = np.repeat(np.arange(len(codes)), bitlens)
    bit_in_elem = np.arange(total) - starts[elem]
    shift = (bitlens[elem] - 1 - bit_in_elem).astype(np.uint64)
    bits = ((codes[elem] >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


def _gather_fields(bits: np.ndarray, starts: np.ndarray, width: int) -> np.ndarray:
    """Vectorized fixed-width MSB-first field extraction from a bit array:
    value_r = Σ_j bits[starts_r + j] << (width-1-j). One (m, width) gather
    per class instead of per-bit Python reads."""
    if len(starts) == 0:
        return np.empty(0, dtype=np.uint64)
    j = np.arange(width, dtype=np.int64)
    g = bits[starts[:, None] + j[None, :]].astype(np.uint64)
    w = (np.uint64(1) << (width - 1 - j).astype(np.uint64))
    return (g * w[None, :]).sum(axis=1, dtype=np.uint64)


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    out = np.zeros(len(x), dtype=np.int64)
    v = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(shift))
        out[m] += shift
        v[m] >>= np.uint64(shift)
    out[x != 0] += 1
    return out


def _trailing_zeros_u64(x: np.ndarray) -> np.ndarray:
    lsb = x & (~x + np.uint64(1))
    return np.where(x == 0, 64, _bit_length_u64(lsb) - 1)


# --------------------------------------------------------------------------
# batched decode: many chunks in one vectorized pass
# --------------------------------------------------------------------------

def _ts_record_lengths(bits: np.ndarray) -> np.ndarray:
    B = len(bits)
    bp = np.concatenate([bits, np.zeros(4, dtype=np.uint8)])
    return np.select(
        [bp[:B] == 0, bp[1:B + 1] == 0, bp[2:B + 2] == 0, bp[3:B + 3] == 0],
        [1, 9, 12, 16],
        default=68,
    ).astype(np.int64)


def _val_record_lengths(bits: np.ndarray) -> np.ndarray:
    B = len(bits)
    bp = np.concatenate([bits, np.zeros(14, dtype=np.uint8)])
    mlen_at = np.zeros(B, dtype=np.int64)
    for j in range(6):
        mlen_at += bp[8 + j:8 + j + B].astype(np.int64) << (5 - j)
    return np.where(bp[:B] == 0, 1, 15 + mlen_at)


def _payload_bits(
    payloads: list, lens: np.ndarray, idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The payloads of chunks ``idx`` unpacked into one bit array, with each
    chunk's first bit and one-past-last bit in it."""
    sel_lens = lens[idx]
    bits = np.unpackbits(
        np.frombuffer(b"".join(payloads[i] for i in idx), dtype=np.uint8)
    )
    offs = 8 * np.concatenate([[0], np.cumsum(sel_lens)[:-1]])
    return bits, offs, offs + 8 * sel_lens


def _walk_records(
    L: np.ndarray, offsets: np.ndarray, counts: np.ndarray, ends: np.ndarray,
    stream: str,
) -> np.ndarray:
    """Concatenated record-boundary walk: one scalar index per record, with
    the cursor reset to each chunk's bit offset. The ONLY per-record Python
    in the decode. ``L[p]`` is the length of a record starting at bit p —
    readable at p itself, since no record this codec writes refers to an
    earlier one. A walk that reaches its chunk's payload end with records
    left, or whose final record runs past it, raises ValueError: the
    payload is truncated or holds records this codec does not write."""
    starts = np.empty(int(counts.sum()), dtype=np.int64)
    k = 0
    for p, m, end in zip(offsets.tolist(), counts.tolist(), ends.tolist()):
        for j in range(k, k + m):
            if p >= end:
                raise ValueError(f"corrupt Gorilla {stream} stream")
            starts[j] = p
            p += L[p]
        if p > end:
            raise ValueError(f"corrupt Gorilla {stream} stream")
        k += m
    return starts


def _extract_xors(bits: np.ndarray, s_ch: np.ndarray) -> np.ndarray:
    """Vectorized variable-width XOR payload extraction for '11'-class value
    records starting at ``s_ch``: xor_r = Σ_{j<mlen} bit[p+14+j] <<
    (63 - lead_r - j) — the shift depends only on (lead, j), so one masked
    (m, 64) gather covers all widths at once."""
    lead = _gather_fields(bits, s_ch + 2, 6).astype(np.int64)
    mlen = _gather_fields(bits, s_ch + 8, 6).astype(np.int64) + 1
    j = np.arange(64, dtype=np.int64)
    mask = j[None, :] < mlen[:, None]
    idx = np.where(mask, s_ch[:, None] + 14 + j[None, :], 0)
    g = bits[idx].astype(np.uint64) * mask
    shift = np.where(mask, 63 - lead[:, None] - j[None, :], 0).astype(np.uint64)
    return (g << shift).sum(axis=1, dtype=np.uint64)


def _segmented_cumsum(x: np.ndarray, seg_starts: np.ndarray, seg_counts: np.ndarray) -> np.ndarray:
    """Inclusive cumsum restarting at each segment start (vectorized)."""
    cs = np.cumsum(x)
    prefix = np.where(seg_starts > 0, cs[seg_starts - 1], 0)
    return cs - np.repeat(prefix, seg_counts)


def decode_chunks(blobs: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY chunks in one vectorized pass.

    Returns ``(lengths, ts, vals)`` where ``lengths[i]`` is chunk i's point
    count and ``ts``/``vals`` are the concatenated series. Per-chunk numpy
    dispatch (~300 µs per chunk) would be the read path's wall at
    chunk-table scale — a rollup tier stores millions of small chunks — so
    all field extraction, delta/XOR reconstruction and output scatter run
    once over the whole batch; the only per-record Python is one scalar
    index in the boundary walk. Any malformed blob raises ValueError for
    the whole batch."""
    nchunks = len(blobs)
    # header fields parse VECTORIZED from one gathered buffer (structured
    # dtype over the packed "<Iqq…Q" layout); the python loop only checks
    # the framing and slices payload views
    head_buf = bytearray(nchunks * 32)
    tps: list = []
    vps: list = []
    u32 = struct.Struct("<I")
    for i, blob in enumerate(blobs):
        blob = bytes(blob)
        if len(blob) < 28 or blob[:4] != _MAGIC:
            raise ValueError("not a Gorilla chunk: bad magic or short header")
        (tplen,) = u32.unpack_from(blob, 24)
        vh_off = 28 + tplen
        if len(blob) < vh_off + 12:
            raise ValueError("Gorilla chunk truncated before its value header")
        (vplen,) = u32.unpack_from(blob, vh_off + 8)
        if len(blob) != vh_off + 12 + vplen:
            raise ValueError("Gorilla chunk length does not match its header")
        head_buf[i * 32:i * 32 + 20] = blob[4:24]
        tps.append(blob[28:vh_off])
        head_buf[i * 32 + 20:i * 32 + 28] = blob[vh_off:vh_off + 8]
        vps.append(blob[vh_off + 12:])
    hdt = np.dtype(
        {"names": ["n", "t0", "d0", "b0"],
         "formats": ["<u4", "<i8", "<i8", "<u8"],
         "offsets": [0, 4, 12, 20], "itemsize": 32}
    )
    heads = np.frombuffer(bytes(head_buf), dtype=hdt)
    n_arr = heads["n"].astype(np.int64)
    t0_arr = heads["t0"].astype(np.int64)
    d0_arr = heads["d0"].astype(np.int64)
    b0_arr = heads["b0"].astype(np.uint64)
    tp_len = np.fromiter(map(len, tps), np.int64, nchunks)
    vp_len = np.fromiter(map(len, vps), np.int64, nchunks)
    # every record is at least one bit: refuse a point count the payloads
    # cannot hold before sizing any output by it
    if (n_arr - 2 > 8 * tp_len).any() or (n_arr - 1 > 8 * vp_len).any():
        raise ValueError("Gorilla chunk counts more points than its payloads hold")

    out_starts = np.concatenate([[0], np.cumsum(n_arr)[:-1]])
    total = int(n_arr.sum())
    ts_out = np.zeros(total, dtype=np.int64)
    vals_out = np.zeros(total, dtype=np.uint64)

    # ---- timestamps --------------------------------------------------------
    has1 = n_arr >= 1
    has2 = n_arr >= 2
    ts_out[out_starts[has1]] = t0_arr[has1]
    ts_out[out_starts[has2] + 1] = (t0_arr + d0_arr)[has2]
    tsel = n_arr > 2
    if tsel.any():
        sel_idx = np.flatnonzero(tsel)
        bits, sel_off, sel_ends = _payload_bits(tps, tp_len, sel_idx)
        ms = n_arr[sel_idx] - 2
        L = _ts_record_lengths(bits)
        starts = _walk_records(L, sel_off, ms, sel_ends, "timestamp")
        rl = L[starts]
        dod = np.zeros(len(starts), dtype=np.int64)
        for length, prelen, pay, offv in ((9, 2, 7, 63), (12, 3, 9, 255), (16, 4, 12, 2047)):
            m = rl == length
            dod[m] = _gather_fields(bits, starts[m] + prelen, pay).astype(np.int64) - offv
        m = rl == 68
        if m.any():
            dod[m] = _gather_fields(bits, starts[m] + 4, 64).view(np.int64)
        seg_starts = np.concatenate([[0], np.cumsum(ms)[:-1]])
        deltas = np.repeat(d0_arr[sel_idx], ms) + _segmented_cumsum(dod, seg_starts, ms)
        tail = np.repeat((t0_arr + d0_arr)[sel_idx], ms) + _segmented_cumsum(
            deltas, seg_starts, ms
        )
        idx = np.repeat(out_starts[sel_idx] + 2, ms) + (
            np.arange(len(tail)) - np.repeat(seg_starts, ms)
        )
        ts_out[idx] = tail

    # ---- values ------------------------------------------------------------
    vsel = n_arr >= 1
    if vsel.any():
        sel_idx = np.flatnonzero(vsel)
        bits, sel_off, sel_ends = _payload_bits(vps, vp_len, sel_idx)
        ms = n_arr[sel_idx] - 1
        L = _val_record_lengths(bits)
        starts = _walk_records(L, sel_off, ms, sel_ends, "value")
        changed = bits[starts] == 1
        s_ch = starts[changed]
        # a walked changed record has >= 15 bits, so s_ch + 1 is in range;
        # the first '10' reuse record of a chunk sits at a true record start
        if not bits[s_ch + 1].all():
            raise ValueError("Gorilla '10' window-reuse value records are not supported")
        xors = np.zeros(len(starts), dtype=np.uint64)
        xors[changed] = _extract_xors(bits, s_ch)
        # per-chunk XOR-accumulate in ONE global pass: the chunks with points
        # tile the output, so lay out b0 at each chunk start and its xors
        # after it, accumulate, then cancel the cross-chunk prefix
        # (P_c = acc[start_c] ^ b0_c; XOR is its own inverse)
        b0 = b0_arr[sel_idx]
        astarts = out_starts[sel_idx]
        fill = np.ones(total, dtype=bool)
        fill[astarts] = False
        vals_out[astarts] = b0
        vals_out[fill] = xors
        acc = np.bitwise_xor.accumulate(vals_out)
        vals_out = acc ^ np.repeat(acc[astarts] ^ b0, ms + 1)

    return n_arr, ts_out, vals_out.view(np.float64)


# --------------------------------------------------------------------------
# batched encode: many chunks in one vectorized pass
# --------------------------------------------------------------------------

def _segment_index(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated [starts_i, starts_i+1, …) index ranges."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    return np.repeat(starts, counts) + (
        np.arange(total) - np.repeat(np.concatenate([[0], np.cumsum(counts)[:-1]]), counts)
    )


def _pack_segmented(
    codes: np.ndarray, lens: np.ndarray, entry_starts: np.ndarray, entry_counts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Pack per-chunk entry runs into ONE bit stream, padding each chunk to a
    byte boundary so its payload slices out byte-aligned, exactly as if the
    chunk were packed alone. Returns (packed, byte_offsets) with
    ``byte_offsets`` of length nchunks+1."""
    n = len(entry_starts)
    seg_bits = np.zeros(n, dtype=np.int64)
    if len(lens):
        cl = np.cumsum(lens)
        ends = entry_starts + entry_counts
        hi = np.where(ends > 0, cl[np.maximum(ends - 1, 0)], 0)
        lo = np.where(entry_starts > 0, cl[entry_starts - 1], 0)
        seg_bits = np.where(entry_counts > 0, hi - lo, 0)
    pad = (-seg_bits) % 8
    # interleave a zero-code pad entry after each chunk's entries
    m = len(codes)
    out_codes = np.zeros(m + n, dtype=np.uint64)
    out_lens = np.zeros(m + n, dtype=np.int64)
    dst = _segment_index(
        np.concatenate([[0], np.cumsum(entry_counts + 1)[:-1]]), entry_counts
    )
    out_codes[dst] = codes
    out_lens[dst] = lens
    pad_pos = np.cumsum(entry_counts + 1) - 1
    out_lens[pad_pos] = pad
    packed = _pack_codes(out_codes, out_lens)
    byte_offsets = np.concatenate([[0], np.cumsum((seg_bits + pad) // 8)])
    return packed, byte_offsets


def _ts_entries(dod: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized delta-of-delta entry construction (the timestamp classes
    of the module docstring). Returns (codes, lens, entries_per_dod)."""
    n = len(dod)
    codes = np.zeros(n, dtype=np.uint64)
    lens = np.ones(n, dtype=np.int64)
    done = dod == 0
    for bound, off, pay, pre, prelen in zip(
        _TS_BOUNDS, _TS_OFFS, _TS_PAYLOAD, _TS_PREFIX, _TS_PREFIX_LEN
    ):
        sel = (~done) & (dod >= -(bound - 1)) & (dod <= bound)
        codes[sel] = (np.uint64(pre) << np.uint64(pay)) | (dod[sel] + off).astype(np.uint64)
        lens[sel] = prelen + pay
        done |= sel
    rest = ~done
    per = np.where(rest, 2, 1).astype(np.int64)
    total = int(per.sum())
    out_codes = np.zeros(total, dtype=np.uint64)
    out_lens = np.empty(total, dtype=np.int64)
    starts = (
        np.concatenate([[0], np.cumsum(per)[:-1]]) if len(per)
        else np.zeros(0, dtype=np.int64)
    )
    out_codes[starts] = codes
    out_lens[starts] = lens
    s_r = starts[rest]
    out_codes[s_r] = 0b1111
    out_lens[s_r] = 4
    out_codes[s_r + 1] = dod[rest].astype(np.uint64)
    out_lens[s_r + 1] = 64
    return out_codes, out_lens, per


def _val_entries(xor: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized XOR entry construction: '0' for repeats, explicit
    '11'+6+6+payload for changes (never the '10' window-reuse record, which
    would save ≤12 bits per changed point at the cost of a sequential
    encode). Control bits and payload are separate pack entries so no single
    code exceeds 64 bits."""
    nz = xor != 0
    lead = (64 - _bit_length_u64(xor)).astype(np.uint64)
    trail = _trailing_zeros_u64(xor).astype(np.uint64)
    mlen = np.where(nz, 64 - lead - trail, 0).astype(np.uint64)
    per = np.where(nz, 4, 1).astype(np.int64)
    total = int(per.sum())
    out_codes = np.zeros(total, dtype=np.uint64)
    out_lens = np.empty(total, dtype=np.int64)
    starts = (
        np.concatenate([[0], np.cumsum(per)[:-1]]) if len(per)
        else np.zeros(0, dtype=np.int64)
    )
    out_lens[starts] = 1
    s_nz = starts[nz]
    m = int(nz.sum())
    if m:
        out_codes[s_nz] = 0b11
        out_lens[s_nz] = 2
        out_codes[s_nz + 1] = lead[nz]
        out_lens[s_nz + 1] = 6
        out_codes[s_nz + 2] = mlen[nz] - np.uint64(1)
        out_lens[s_nz + 2] = 6
        out_codes[s_nz + 3] = xor[nz] >> trail[nz]
        out_lens[s_nz + 3] = mlen[nz].astype(np.int64)
    return out_codes, out_lens, per


def encode_chunks(
    ts_concat: np.ndarray, vals_concat: np.ndarray, lengths: np.ndarray
) -> list:
    """Encode MANY series (concatenated, with per-series ``lengths``) in one
    vectorized pass; returns one blob per series. The blob bytes are the
    on-disk format, pinned by a golden digest in tests/test_gorilla.py.
    Per-chunk numpy dispatch (~260 µs on 2-8-point series) would be the
    write path's wall when a tier stores millions of tiny chunks."""
    ts_concat = np.asarray(ts_concat, dtype=np.int64)
    vals_concat = np.asarray(vals_concat, dtype=np.float64)
    lengths = np.asarray(lengths, dtype=np.int64)
    if len(ts_concat) != len(vals_concat) or int(lengths.sum()) != len(ts_concat):
        raise ValueError("series lengths must tile the ts and value arrays exactly")
    nch = len(lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])

    # ---- headers -----------------------------------------------------------
    has1 = lengths >= 1
    has2 = lengths >= 2
    t0 = np.where(has1, ts_concat[np.minimum(starts, len(ts_concat) - 1)] if len(ts_concat) else 0, 0)
    d0 = np.where(
        has2,
        (ts_concat[np.minimum(starts + 1, len(ts_concat) - 1)] - t0) if len(ts_concat) else 0,
        0,
    )
    bits_all = vals_concat.view(np.uint64) if len(vals_concat) else np.zeros(0, np.uint64)
    b0 = np.where(has1, bits_all[np.minimum(starts, max(len(bits_all) - 1, 0))] if len(bits_all) else 0, 0).astype(np.uint64)

    # ---- ts payloads (chunks with n > 2) -----------------------------------
    mts = np.maximum(lengths - 2, 0)
    dod_idx = _segment_index(starts + 2, mts)
    dod = (
        ts_concat[dod_idx] - 2 * ts_concat[dod_idx - 1] + ts_concat[dod_idx - 2]
        if len(dod_idx)
        else np.zeros(0, np.int64)
    )
    t_codes, t_lens, t_per = _ts_entries(dod)
    # per-chunk entry counts from per-dod entry counts
    ch_of_dod = np.repeat(np.arange(nch), mts)
    t_entry_counts = np.bincount(ch_of_dod, weights=t_per, minlength=nch).astype(np.int64)
    t_entry_starts = np.concatenate([[0], np.cumsum(t_entry_counts)[:-1]])
    tp_all, tp_off = _pack_segmented(t_codes, t_lens, t_entry_starts, t_entry_counts)

    # ---- value payloads (chunks with n > 1) --------------------------------
    mv = np.maximum(lengths - 1, 0)
    x_idx = _segment_index(starts + 1, mv)
    xor = (
        bits_all[x_idx] ^ bits_all[x_idx - 1] if len(x_idx) else np.zeros(0, np.uint64)
    )
    v_codes, v_lens, v_per = _val_entries(xor)
    ch_of_x = np.repeat(np.arange(nch), mv)
    v_entry_counts = np.bincount(ch_of_x, weights=v_per, minlength=nch).astype(np.int64)
    v_entry_starts = np.concatenate([[0], np.cumsum(v_entry_counts)[:-1]])
    vp_all, vp_off = _pack_segmented(v_codes, v_lens, v_entry_starts, v_entry_counts)

    # ---- assembly ----------------------------------------------------------
    hdt = np.dtype(
        {"names": ["n", "t0", "d0"], "formats": ["<u4", "<i8", "<i8"],
         "offsets": [0, 4, 12], "itemsize": 20}
    )
    heads = np.zeros(nch, dtype=hdt)
    heads["n"] = lengths
    heads["t0"] = t0
    heads["d0"] = d0
    head_bytes = heads.tobytes()
    b0_bytes = b0.astype("<u8").tobytes()
    tp_len = (tp_off[1:] - tp_off[:-1]).astype("<u4")
    vp_len = (vp_off[1:] - vp_off[:-1]).astype("<u4")
    tp_len_b = tp_len.tobytes()
    vp_len_b = vp_len.tobytes()
    tp_mv = memoryview(tp_all)
    vp_mv = memoryview(vp_all)
    out = []
    for i in range(nch):
        out.append(
            b"".join(
                (
                    _MAGIC,
                    head_bytes[i * 20:(i + 1) * 20],
                    tp_len_b[i * 4:(i + 1) * 4],
                    tp_mv[tp_off[i]:tp_off[i + 1]],
                    b0_bytes[i * 8:(i + 1) * 8],
                    vp_len_b[i * 4:(i + 1) * 4],
                    vp_mv[vp_off[i]:vp_off[i + 1]],
                )
            )
        )
    return out
