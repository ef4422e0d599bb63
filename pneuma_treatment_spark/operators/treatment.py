"""Per-series treatment: SG smooth → rolling-median reconstruction →
tolerance anomaly mask → run merge → replace → Gaussian smooth → derivative.

Faithful re-expression of the reference's per-vehicle loop
(``/root/reference/src/processor.py:314-465``) over transcript token-count
series, with the one documented substitution (SURVEY.md §7.1): the
non-deterministic per-vehicle XGBoost reconstruction (``processor.py:112-133``)
is replaced by a centered rolling median, keeping the tolerance-mask,
run-merge and replacement logic (``processor.py:366-399``) semantically
identical.

Execution shape (vs the reference's sequential ``for v_id in ids`` loop):

* **Stages A+B+C** (bounded-support kernels: SG window 25, median window 5,
  run merge radius merge_gap, replacement) — ONE sorted Arrow stream per
  task (``mapInArrow``, see :mod:`..seriesmap`) with conv_id as the series
  key, or **chunked** with (conv_id, chunk) as the key and
  halo rows (halo_a + merge_gap) for mega-conversations whose full series
  must not land on one executor. Halo ≥ total dependency radius ⇒ chunked
  == unchunked bit-for-bit. (The run merge, ``processor.py:390-399``, was
  formerly a separate SQL window stage — two full-frame sorts and a
  conv-partitioned exchange between the Python stages; it is
  bounded-support, so round 5 fused it into the kernel.)
* **conv_has_anomaly** — the one genuinely conv-global bit (== any
  raw_anomaly). Non-chunked: in-slice any (series are whole convs), so
  the WHOLE chain is one Python stage / one exchange. Chunked: a tiny
  (conv_id, bool) flags side joins in — precomputed by the caller via
  :func:`raw_anomaly_col` + :func:`conv_anomaly_flags` (free when a prior
  stage already runs conv windows), else derived by a slim 3-column pass.
* **Stage D** (Gaussian sigma-12 smooth + gradient, ``processor.py:401-448``
  incl. the no-anomaly passthrough branch) — second Python stage, chunkable
  with halo ≥ the Gaussian truncation radius (49).
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
    chunk_len: int = 4096        # chunked-mode segment length (mega-conversations)

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
    turn values, so chunked execution with halo ≥ gap + mask radius is
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


def _abc_compute(b: pa.RecordBatch, cfg: TreatmentConfig, bounds: np.ndarray):
    """Shared A+B+C math over precomputed slice bounds: returns
    (filled, sg, med, raw, merged, treated) numpy arrays."""
    x = _f64(b, "token_count")
    t = b.column("turn_idx").to_numpy(zero_copy_only=False)
    n = len(x)
    filled = np.empty(n)
    sg = np.empty(n)
    med = np.empty(n)
    raw = np.empty(n, dtype=bool)
    merged = np.empty(n, dtype=bool)
    treated = np.empty(n)
    for s, e in zip(bounds[:-1], bounds[1:]):
        seg = K.interpolate_linear_both(x[s:e])
        filled[s:e] = seg
        sg[s:e] = K.savgol_poly1(seg, cfg.sg_window)
        m = K.rolling_median(seg, cfg.med_window)
        med[s:e] = m
        r = K.anomaly_mask(seg, m, cfg.tol)
        raw[s:e] = r
        mr = _run_merge_values(r, t[s:e], cfg.merge_gap)
        merged[s:e] = mr
        treated[s:e] = np.where(mr, m, seg)
    return filled, sg, med, raw, merged, treated


def _stage_abc_kernel(b: pa.RecordBatch, cfg: TreatmentConfig, bounds: np.ndarray) -> dict:
    """Stages A+B+C: per-series kernels, anomaly run-merge and replacement
    over numpy slices of a unit sorted by (series key, turn_idx). The
    merge is bounded-support (radius merge_gap + mask radius), so fusing it
    here removes the former full-frame conv-partitioned window exchange
    between stages A and D."""
    filled, sg, med, raw, merged, treated = _abc_compute(b, cfg, bounds)
    return {
        "tokens_filled": filled,
        "sg_tokens": sg,
        "med_tokens": med,
        "raw_anomaly": raw,
        "is_anomaly": merged,
        "treated_tokens": treated,
    }


def _stage_full_kernel(b: pa.RecordBatch, cfg: TreatmentConfig, bounds: np.ndarray) -> dict:
    """Whole-series single-pass treatment (non-chunked): stages A+B+C+D in
    one kernel — each series is a complete conversation, so the per-conv
    global ``conv_has_anomaly`` is an in-slice ``any`` and the whole chain
    runs in ONE exchange (was three)."""
    out = _stage_abc_kernel(b, cfg, bounds)
    merged, treated, sg = out["is_anomaly"], out["treated_tokens"], out["sg_tokens"]
    n = len(merged)
    conv_has = np.empty(n, dtype=bool)
    g_ns = np.empty(n)
    g_na = np.empty(n)
    for s, e in zip(bounds[:-1], bounds[1:]):
        has = bool(merged[s:e].any())
        conv_has[s:e] = has
        seg = K.gaussian1d(treated[s:e], cfg.gauss_sigma) if has else sg[s:e]
        g_ns[s:e] = seg
        g_na[s:e] = K.gradient(seg, K.DT)
    out.update(conv_has_anomaly=conv_has, g_ns=g_ns, g_na=g_na)
    return out


def _slim_raw_kernel(b: pa.RecordBatch, cfg: TreatmentConfig, bounds: np.ndarray) -> dict:
    """Raw anomaly mask only (interp + rolling median + tolerance mask) —
    the slim flags branch for chunked mode when no precomputed flags are
    supplied. conv_has_anomaly == any(raw_anomaly): the run merge only
    fills rows BETWEEN existing raw anomalies, so the per-conv any is
    identical on raw and merged masks."""
    x = _f64(b, "token_count")
    raw = np.empty(len(x), dtype=bool)
    for s, e in zip(bounds[:-1], bounds[1:]):
        seg = K.interpolate_linear_both(x[s:e])
        m = K.rolling_median(seg, cfg.med_window)
        raw[s:e] = K.anomaly_mask(seg, m, cfg.tol)
    return {"raw_anomaly": raw}


def _stage_d_kernel(b: pa.RecordBatch, cfg: TreatmentConfig, bounds: np.ndarray) -> dict:
    treated = _f64(b, "treated_tokens")
    sg = _f64(b, "sg_tokens")
    flag = b.column("conv_has_anomaly")
    is_null = flag.is_null().to_numpy(zero_copy_only=False)
    has_anom = flag.fill_null(False).to_numpy(zero_copy_only=False)
    n = len(treated)
    g_ns = np.empty(n)
    g_na = np.empty(n)
    for s, e in zip(bounds[:-1], bounds[1:]):
        if is_null[s]:
            # a null flag means the caller-supplied flags frame is missing
            # (or null for) this conversation — silently treating that as
            # "no anomaly" would route the conv down the wrong branch
            raise ValueError(
                f"conv_has_anomaly is null for {b.column('conv_id')[s].as_py()!r}: "
                "flags= must cover every conversation with a non-null boolean"
            )
        if has_anom[s]:
            # anomalous branch: gaussian-smooth the treated series, derive
            # (processor.py:401-431: new_speed -> g_ns -> g_na)
            seg = K.gaussian1d(treated[s:e], cfg.gauss_sigma)
        else:
            # passthrough branch (processor.py:433-448): keep the SG series
            seg = sg[s:e]
        g_ns[s:e] = seg
        g_na[s:e] = K.gradient(seg, K.DT)
    return {"g_ns": g_ns, "g_na": g_na}


def _apply(df: DataFrame, kernel, added_fields, cfg: TreatmentConfig, halo: int, chunked: bool) -> DataFrame:
    """Run a bounded-support per-series kernel per conv_id, or — in chunked
    mode — per (conv_id, chunk) with ``halo`` overlap rows, keeping each
    row's own-chunk output only.

    Execution: one sorted Arrow stream per task (:mod:`..seriesmap`) — a
    hash repartition on the series key, a JVM sort by (key, turn_idx), and
    ``mapInArrow`` running ``kernel(unit, cfg, bounds)`` over units of whole
    series. Task memory is one Arrow batch plus one open series; chunked
    mode bounds any single series unit by chunk_len + 2·halo.

    Chunked mode requires a dense ``turn_idx`` and pre-filled values (run
    :func:`...gapfill.gap_fill` first so in-kernel interpolation is a no-op);
    then halo ≥ kernel radius ⇒ identical to whole-series apply — this is
    what lets a 10^8-turn conversation flow through fixed-memory executors.
    """
    out_schema = T.StructType(list(df.schema.fields))
    for name, dtype in added_fields:
        out_schema = out_schema.add(name, dtype, True)
    passthrough = list(df.columns)
    added = [name for name, _ in added_fields]

    if not chunked:
        src, key = df, ["conv_id"]
    else:
        L, H = cfg.chunk_len, halo
        if H > L:
            # the explode only serves ±1 adjacent chunk, so the effective halo
            # is capped at chunk_len — beyond it chunked output silently
            # diverges from whole-series output. Fail loud instead.
            raise ValueError(
                f"halo {H} exceeds chunk_len {L}: raise chunk_len or shrink the "
                "kernel support (sg_window/merge_gap/gauss_sigma)"
            )
        own = F.floor(F.col("turn_idx") / L).cast("long")
        pos = F.col("turn_idx") % L
        chunks = F.array_compact(
            F.array(
                own,
                F.when(pos < H, own - 1),          # serve previous chunk's right halo
                F.when(pos >= L - H, own + 1),     # serve next chunk's left halo
            )
        )
        src = df.withColumn("__chunk", F.explode(chunks)).where(F.col("__chunk") >= 0)
        key = ["conv_id", "__chunk"]

    def run(batches):
        for unit, bounds in series_units(batches, lambda b: key_starts(b, key)):
            res = kernel(unit, cfg, bounds)
            # from_pandas: a NaN result is a null cell (nulls are load-bearing)
            out = pa.RecordBatch.from_arrays(
                [unit.column(c) for c in passthrough]
                + [pa.array(res[c], from_pandas=True) for c in added],
                names=passthrough + added,
            )
            if chunked:
                # keep each row's own-chunk output only (halo rows drop here)
                t = unit.column("turn_idx").to_numpy(zero_copy_only=False)
                c = unit.column("__chunk").to_numpy(zero_copy_only=False)
                out = out.filter(pa.array(t // L == c))
            yield out

    return map_sorted_series(src, key, ["turn_idx"], run, out_schema)


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
    materialized table and the chunked treatment skips its slim flags pass
    (pass ``flags=`` to :func:`treat_transcripts`)."""
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
    chunked: bool = False,
    flags: DataFrame | None = None,
) -> DataFrame:
    """Full treatment chain. Input: transcripts with ``token_count`` (from
    ``rollup.with_turn_metrics``) and dense ``turn_idx`` (from ``gap_fill``).

    Adds: tokens_filled, sg_tokens, med_tokens, raw_anomaly, is_anomaly,
    treated_tokens, conv_has_anomaly, g_ns (smoothed), g_na (derivative).

    Execution (round-5 fusion — the former SQL run-merge stage cost a
    full-frame conv-partitioned window exchange between the two Python
    stages; the merge is bounded-support, so it now runs inside the first
    kernel):

    * non-chunked: ONE Python stage (A+B+C+D fused — each series is a whole
      conversation, so the global ``conv_has_anomaly`` is an in-slice any).
      One exchange total, was three.
    * chunked: fused A+B+C kernel (halo extends by merge_gap), then the
      per-conv ``conv_has_anomaly`` bit joins in and stage D runs chunked.
      ``flags`` supplies it precomputed — (conv_id, conv_has_anomaly),
      e.g. from :func:`conv_anomaly_flags` over a table carrying
      :func:`raw_anomaly_col` — with no extra full-frame exchange (the
      tiny flags side broadcasts below the AQE threshold; above it — many
      billions of conversations per shard — it degrades to a narrow
      shuffle join, still strictly cheaper than the full-frame window
      exchange it replaced). Without ``flags`` a slim 3-column Python pass
      derives them (still cheaper than the old full-frame exchange).
      Two full-frame exchanges total, was three.
    """
    cfg = cfg or TreatmentConfig()

    abc_fields = [
        ("tokens_filled", T.DoubleType()),
        ("sg_tokens", T.DoubleType()),
        ("med_tokens", T.DoubleType()),
        ("raw_anomaly", T.BooleanType()),
        ("is_anomaly", T.BooleanType()),
        ("treated_tokens", T.DoubleType()),
    ]

    if not chunked:
        full_fields = abc_fields + [
            ("conv_has_anomaly", T.BooleanType()),
            ("g_ns", T.DoubleType()),
            ("g_na", T.DoubleType()),
        ]
        return _apply(df, _stage_full_kernel, full_fields, cfg, 0, chunked=False)

    halo_abc = cfg.halo_a + cfg.merge_gap
    abc = _apply(df, _stage_abc_kernel, abc_fields, cfg, halo_abc, chunked=True)

    if flags is None:
        slim = df.select("conv_id", "turn_idx", "token_count")
        rawed = _apply(
            slim,
            _slim_raw_kernel,
            [("raw_anomaly", T.BooleanType())],
            cfg,
            cfg.med_window // 2 + 1,
            chunked=True,
        )
        flags = conv_anomaly_flags(rawed)

    # LEFT join: a flags frame that misses conversations must not silently
    # drop their rows — the null flag fails loudly in _stage_d_kernel
    c = abc.join(flags, "conv_id", "left")

    d_fields = [("g_ns", T.DoubleType()), ("g_na", T.DoubleType())]
    return _apply(c, _stage_d_kernel, d_fields, cfg, cfg.halo_d, chunked=True)
