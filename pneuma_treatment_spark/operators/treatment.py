"""Per-series treatment: SG smooth → rolling-median reconstruction →
tolerance anomaly mask → run merge → replace → Gaussian smooth → derivative.

Faithful re-expression of the reference's per-vehicle loop
(reference ``src/processor.py:314-465``) over transcript token-count
series, with the one documented substitution (SURVEY.md §7.1): the
non-deterministic per-vehicle XGBoost reconstruction (``processor.py:112-133``)
is replaced by a centered rolling median, keeping the tolerance-mask,
run-merge and replacement logic (``processor.py:366-399``) semantically
identical.

Execution shape (vs the reference's sequential ``for v_id in ids`` loop):
ONE kernel, :func:`_treat_kernel`, runs the whole chain — stages A+B+C
(SG window 25, median window 5, run merge radius merge_gap, replacement)
then stage D (Gaussian sigma-12 smooth + gradient, ``processor.py:401-448``
incl. the no-anomaly passthrough branch) — per series slice, in ONE sorted
Arrow stream per task (``mapInArrow``, see :mod:`..seriesmap`). A slice
is one chunk (conv_id, turn_idx // chunk_len) plus halo rows halo_a +
merge_gap + halo_d on either side, so no conversation lands whole on one
executor. Every stage is bounded-support, so halo ≥ the chain's total
dependency radius ⇒ own rows equal the whole-series output bit-for-bit.

The one conv-global bit is ``conv_has_anomaly`` (== any raw_anomaly: the
run merge only fills rows between existing raw anomalies), resolved per
slice: halo rows only → skipped; own rows only → the whole conversation
(the input is dense), so the in-slice any; both → a conversation longer
than a chunk, which reads the caller's ``flags`` (:func:`raw_anomaly_col`
+ :func:`conv_anomaly_flags`) and raises without them.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pneuma_treatment_spark import kernels as K
from pneuma_treatment_spark.seriesmap import key_starts, map_sorted_series, series_units


@dataclass(frozen=True)
class TreatmentConfig:
    sg_window: int = 25          # processor.py:324 (window_length=25, polyorder=1)
    med_window: int = 5          # XGBoost-substitute reconstruction support
    tol: float = 6.0             # tolerance mask threshold (processor.py:302: 0.1 on accel)
    merge_gap: int = 10          # merge anomaly runs < 10 apart (processor.py:303)
    gauss_sigma: float = 12.0    # processor.py:91 (gaussian_filter1d sigma=12)
    chunk_len: int = 4096        # series slice length (mega-conversations span many)

    @property
    def halo_a(self) -> int:
        return max(self.sg_window // 2, self.med_window // 2) + 1

    @property
    def halo_d(self) -> int:
        return int(4.0 * self.gauss_sigma + 0.5) + 1


def _run_merge_values(raw: np.ndarray, turns: np.ndarray, gap: int) -> np.ndarray:
    """Anomaly run merge on turn-index VALUES: row j becomes anomalous when
    its nearest raw anomalies at-or-before and at-or-after satisfy
    ``next_turn - prev_turn < gap`` — exactly the former SQL window
    formulation (``last(anom_idx) over asc`` / ``over desc``); equals
    :func:`kernels.merge_anomaly_runs` (position-based) on dense turn_idx.
    Bounded support: a row's decision only reads raw flags within ``gap``
    turn values, so chunk+halo execution with halo ≥ gap + mask radius is
    exact."""
    idx = np.flatnonzero(raw)
    out = raw.copy()
    if idx.size < 2:
        return out
    pos = np.arange(len(raw))
    kr = np.searchsorted(idx, pos, side="right")  # count of anomalies ≤ j
    kl = np.searchsorted(idx, pos, side="left")   # idx[kl] = first anomaly ≥ j
    has_prev = kr > 0
    has_next = kl < idx.size
    prev_t = turns[idx[np.maximum(kr - 1, 0)]]
    next_t = turns[idx[np.minimum(kl, idx.size - 1)]]
    out |= has_prev & has_next & ((next_t - prev_t) < gap)
    return out


def _f64(b: pa.RecordBatch, name: str) -> np.ndarray:
    """A column as float64 numpy (nulls → NaN, the kernels' missing value)."""
    return pc.cast(b.column(name), pa.float64()).to_numpy(zero_copy_only=False)


# the kernel's output columns, in table order
_ADDED = [
    ("tokens_filled", T.DoubleType()),
    ("sg_tokens", T.DoubleType()),
    ("med_tokens", T.DoubleType()),
    ("raw_anomaly", T.BooleanType()),
    ("is_anomaly", T.BooleanType()),
    ("treated_tokens", T.DoubleType()),
    ("conv_has_anomaly", T.BooleanType()),
    ("g_ns", T.DoubleType()),
    ("g_na", T.DoubleType()),
]


def _treat_kernel(
    b: pa.RecordBatch, cfg: TreatmentConfig, bounds: np.ndarray, own: np.ndarray
) -> dict:
    """Stages A–D per series slice of a unit sorted by (series key,
    turn_idx): interpolate, SG smooth, rolling-median reconstruction,
    tolerance mask, run merge, replacement (A+B+C), then the Gaussian
    smooth + gradient of stage D. ``own`` marks the slice's own-chunk
    rows; ``conv_has_anomaly`` (D's branch) follows the module's per-slice
    rule, and a skipped halo-only slice leaves its (dropped) rows unset."""
    x = _f64(b, "token_count")
    t = b.column("turn_idx").to_numpy(zero_copy_only=False)
    joined = "conv_has_anomaly" in b.schema.names
    if joined:
        flag = b.column("conv_has_anomaly")
        is_null = flag.is_null().to_numpy(zero_copy_only=False)
        flag_val = flag.fill_null(False).to_numpy(zero_copy_only=False)
    n = len(x)
    out = {
        name: np.empty(n, dtype=bool if isinstance(dtype, T.BooleanType) else float)
        for name, dtype in _ADDED
    }
    for s, e in zip(bounds[:-1], bounds[1:]):
        mine = own[s:e]
        if not mine.any():
            continue
        seg = K.interpolate_linear_both(x[s:e])
        sg = K.savgol_poly1(seg, cfg.sg_window)
        med = K.rolling_median(seg, cfg.med_window)
        raw = K.anomaly_mask(seg, med, cfg.tol)
        merged = _run_merge_values(raw, t[s:e], cfg.merge_gap)
        treated = np.where(merged, med, seg)
        if mine.all():
            has = bool(merged.any())
        elif not joined or is_null[s]:
            # the in-slice any sees one chunk only: guessing would route
            # the conversation down the wrong branch silently
            raise ValueError(
                f"conv_has_anomaly is null for {b.column('conv_id')[s].as_py()!r}, "
                f"which is longer than chunk_len {cfg.chunk_len}: pass flags= "
                "covering every such conversation with a non-null boolean"
            )
        else:
            has = bool(flag_val[s])
        # anomalous branch: gaussian-smooth the treated series, derive
        # (processor.py:401-431: new_speed -> g_ns -> g_na); passthrough
        # branch (processor.py:433-448): keep the SG series
        g = K.gaussian1d(treated, cfg.gauss_sigma) if has else sg
        for name, v in (
            ("tokens_filled", seg), ("sg_tokens", sg), ("med_tokens", med),
            ("raw_anomaly", raw), ("is_anomaly", merged),
            ("treated_tokens", treated), ("conv_has_anomaly", has),
            ("g_ns", g), ("g_na", K.gradient(g, K.DT)),
        ):
            out[name][s:e] = v
    return out


def raw_anomaly_col(
    cfg: TreatmentConfig | None = None,
    value_col: str = "token_count",
    key: str = "conv_id",
    idx: str = "turn_idx",
):
    """SQL twin of the kernel raw-anomaly mask over an ALREADY GAP-FILLED
    series: centered rolling median (min_periods=1) via sorted neighbor
    arrays + tolerance mask, bit-identical to
    ``anomaly_mask(x, rolling_median(x, med_window), tol)`` — missing
    neighbors (partition edge) and null values both drop from the array,
    exactly the shrunken-window / nanmedian semantics; even counts average
    the two middles with the same IEEE op; null value or empty window ⇒
    anomalous (NaN rule).

    Use case: a pipeline whose gap-fill stage already runs conv-partitioned
    windows can add this column FOR FREE (same exchange), so
    ``conv_has_anomaly`` flags become a plain scan+aggregate over the
    materialized table, and conversations longer than a chunk get their
    bit without a second conv-partitioned window (pass ``flags=`` to
    :func:`treat_transcripts`)."""
    cfg = cfg or TreatmentConfig()
    w = Window.partitionBy(key).orderBy(idx)
    c = F.col(value_col)
    left = cfg.med_window // 2
    right = cfg.med_window - left - 1
    neighbors = (
        [F.lag(c, i).over(w) for i in range(left, 0, -1)]
        + [c]
        + [F.lead(c, i).over(w) for i in range(1, right + 1)]
    )
    vals = F.array_sort(F.array_compact(F.array(*neighbors)))
    n = F.size(vals)
    lo = F.floor(n / 2).cast("int")
    med = F.when(
        n % 2 == 1, F.element_at(vals, lo + 1)
    ).otherwise((F.element_at(vals, lo) + F.element_at(vals, lo + 1)) / 2.0)
    return F.coalesce(~(F.abs(c - med) < cfg.tol), F.lit(True))


def conv_anomaly_flags(rawed: DataFrame, key: str = "conv_id") -> DataFrame:
    """(conv_id, conv_has_anomaly) from a frame carrying ``raw_anomaly`` —
    a map-side-combined aggregate (tiny shuffle). any(raw) == any(merged):
    the run merge only fills rows between existing raw anomalies."""
    return rawed.groupBy(key).agg(
        (F.max(F.col("raw_anomaly").cast("int")) == 1).alias("conv_has_anomaly")
    )


def treat_transcripts(
    df: DataFrame,
    cfg: TreatmentConfig | None = None,
    flags: DataFrame | None = None,
) -> DataFrame:
    """Full treatment chain. Input: transcripts with ``token_count`` (from
    ``rollup.with_turn_metrics``) and dense ``turn_idx`` (from ``gap_fill``).

    Adds: tokens_filled, sg_tokens, med_tokens, raw_anomaly, is_anomaly,
    treated_tokens, conv_has_anomaly, g_ns (smoothed), g_na (derivative).

    One Python pass: rows explode into their chunk and, within the halo
    of a boundary, the neighbour's; a hash repartition on (conv_id,
    chunk), a JVM sort by (key, turn_idx), and ``mapInArrow`` running
    :func:`_treat_kernel` over whole slices (:mod:`..seriesmap`); halo
    rows drop after the kernel. Task memory is one Arrow batch plus one
    open slice.

    ``flags`` — (conv_id, conv_has_anomaly), e.g. :func:`conv_anomaly_flags`
    over :func:`raw_anomaly_col` — is required only for conversations
    longer than a chunk; it broadcasts, so the pass stays the one
    full-frame exchange. Requires gap-filled input
    (:func:`...gapfill.gap_fill`): dense turns make in-kernel
    interpolation a no-op and a slice without halo rows a whole
    conversation.
    """
    cfg = cfg or TreatmentConfig()
    passthrough = list(df.columns)
    added = [name for name, _ in _ADDED]
    out_schema = T.StructType(list(df.schema.fields))
    for name, dtype in _ADDED:
        out_schema = out_schema.add(name, dtype, True)

    L = cfg.chunk_len
    H = cfg.halo_a + cfg.merge_gap + cfg.halo_d
    if H > L:
        # the explode only serves ±1 adjacent chunk, so the effective halo
        # is capped at chunk_len — beyond it chunk output silently
        # diverges from whole-series output. Fail loud instead.
        raise ValueError(
            f"halo {H} exceeds chunk_len {L}: raise chunk_len or shrink the "
            "kernel support (sg_window/merge_gap/gauss_sigma)"
        )
    own = F.floor(F.col("turn_idx") / L).cast("long")
    pos = F.col("turn_idx") % L
    chunks = F.array(
        own,
        F.when(pos < H, own - 1),          # serve previous chunk's right halo
        F.when(pos >= L - H, own + 1),     # serve next chunk's left halo
    )
    # LEFT join: a flags frame that misses conversations must not silently
    # drop their rows — the null flag fails loudly in _treat_kernel
    src = df if flags is None else df.join(flags, "conv_id", "left")
    # the filter drops the unserved (null) and chunk -1 halo entries; a
    # row's own chunk always stays, so a negative turn_idx reaches the
    # kernel pass and fails there instead of vanishing
    src = src.withColumn("__chunk", F.explode(chunks)).where(
        (F.col("__chunk") >= 0) | (F.col("__chunk") == own)
    )
    key = ["conv_id", "__chunk"]

    def run(batches):
        for unit, bounds in series_units(batches, lambda b: key_starts(b, key)):
            t = unit.column("turn_idx").to_numpy(zero_copy_only=False)
            if t.size and t.min() < 0:
                raise ValueError(
                    f"negative turn_idx {int(t.min())}: treatment needs "
                    "gap-filled turns numbered from 0"
                )
            mine = t // L == unit.column("__chunk").to_numpy(zero_copy_only=False)
            res = _treat_kernel(unit, cfg, bounds, mine)
            # from_pandas: a NaN result is a null cell (nulls are load-bearing)
            out = pa.RecordBatch.from_arrays(
                [unit.column(c) for c in passthrough]
                + [pa.array(res[c], from_pandas=True) for c in added],
                names=passthrough + added,
            )
            # keep each row's own-chunk output only (halo rows drop here)
            yield out.filter(pa.array(mine))

    return map_sorted_series(src, key, ["turn_idx"], run, out_schema)
