"""Dynamic Time Warping between aligned per-key series (W14).

Re-expresses ``/root/reference/src/24dtwDistance.py:30-109``: squared-
euclidean DP cost matrix, optional Sakoe-Chiba band, distance = sqrt(D[n,m]),
normalized by mean series length; NaNs dropped before the DP (``:46-50``).

Series per key are short rollup outputs (≤ a few thousand points), so the
O(n·m) DP runs vectorized-row-at-a-time numpy over one sorted Arrow stream
per task (:mod:`..seriesmap`) — the distribution axis is the number of keys,
exactly the embarrassingly-parallel shape the reference runs sequentially.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pneuma_treatment_spark.seriesmap import key_starts, map_sorted_series, series_units


def dtw_distance(a: np.ndarray, b: np.ndarray, band: int | None = None) -> float:
    """DP distance (24dtwDistance.py:30-93). NaNs dropped first (:46-50)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    a = a[~np.isnan(a)]
    b = b[~np.isnan(b)]
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        return float("nan")
    INF = np.inf
    prev = np.full(m + 1, INF)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = np.full(m + 1, INF)
        lo, hi = 1, m
        if band is not None:
            lo = max(1, i - band)
            hi = min(m, i + band)
        d = (a[i - 1] - b[lo - 1 : hi]) ** 2
        # cur[j] = d + min(prev[j-1], prev[j], cur[j-1]) — cur[j-1] forces a
        # left-to-right scan, but the candidate min(prev[j-1], prev[j]) is
        # vectorized.
        cand = np.minimum(prev[lo - 1 : hi], prev[lo:hi + 1])
        run = INF
        for jj in range(hi - lo + 1):
            run = d[jj] + min(cand[jj], run)
            cur[lo + jj] = run
        prev = cur
    return float(np.sqrt(prev[m]))


def dtw_normalized(a: np.ndarray, b: np.ndarray, band: int | None = None) -> float:
    """Distance / mean length (24dtwDistance.py:95-109)."""
    d = dtw_distance(a, b, band)
    n = (len(a) + len(b)) / 2.0
    return d / n if n else float("nan")


def dtw_matrix(a: np.ndarray, b: np.ndarray, band: int | None = None) -> np.ndarray:
    """Full (n+1)×(m+1) accumulated-cost matrix — needed for path backtrack
    (24dtwDistance.py:124-125). O(n·m) memory: path metrics are for the
    short per-key rollup series, not unbounded data."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    a = a[~np.isnan(a)]
    b = b[~np.isnan(b)]
    n, m = len(a), len(b)
    D = np.full((n + 1, m + 1), np.inf)
    D[0, 0] = 0.0
    for i in range(1, n + 1):
        lo, hi = 1, m
        if band is not None:
            lo = max(1, i - band)
            hi = min(m, i + band)
        d = (a[i - 1] - b[lo - 1 : hi]) ** 2
        cand = np.minimum(D[i - 1, lo - 1 : hi], D[i - 1, lo : hi + 1])
        run = np.inf
        for jj in range(hi - lo + 1):
            run = d[jj] + min(cand[jj], run)
            D[i, lo + jj] = run
    return D


def backtrack_path(D: np.ndarray) -> list[tuple[int, int]]:
    """Backtrack the optimal warping path (24dtwDistance.py:157-188): from
    (n, m) step to the min-cost predecessor of (i-1,j), (i,j-1), (i-1,j-1) —
    FIRST minimal wins ties, exactly the reference's ``min(candidates)``."""
    path = []
    i, j = D.shape[0] - 1, D.shape[1] - 1
    while i > 0 or j > 0:
        path.append((i, j))
        if i == 0:
            j -= 1
        elif j == 0:
            i -= 1
        else:
            up, left, diag = D[i - 1, j], D[i, j - 1], D[i - 1, j - 1]
            if up <= left and up <= diag:
                i -= 1
            elif left <= diag:
                j -= 1
            else:
                i -= 1
                j -= 1
    path.append((0, 0))
    path.reverse()
    return path


def path_error_stats(a: np.ndarray, b: np.ndarray, band: int | None = None) -> dict:
    """Per-path error metrics (24dtwDistance.py:112-155): |a[i-1]−b[j-1]|
    along the warping path (interior cells only), with length/avg/std/max.
    avg/std use np.mean/np.std (population) like the reference."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    a = a[~np.isnan(a)]
    b = b[~np.isnan(b)]
    if len(a) == 0 or len(b) == 0:
        return {"path_len": 0, "avg_path_error": 0.0, "std_path_error": 0.0,
                "max_path_error": 0.0}
    D = dtw_matrix(a, b, band)
    path = backtrack_path(D)
    errs = np.array(
        [abs(a[i - 1] - b[j - 1]) for i, j in path if i > 0 and j > 0],
        dtype=np.float64,
    )
    if len(errs) == 0:
        return {"path_len": len(path), "avg_path_error": 0.0,
                "std_path_error": 0.0, "max_path_error": 0.0}
    return {
        "path_len": len(path),
        "avg_path_error": float(np.mean(errs)),
        "std_path_error": float(np.std(errs)),
        "max_path_error": float(np.max(errs)),
    }


DTW_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_a", T.IntegerType()),
        T.StructField("n_b", T.IntegerType()),
        T.StructField("dtw", T.DoubleType()),
        T.StructField("dtw_normalized", T.DoubleType()),
    ]
)

PATH_FIELDS = [
    T.StructField("path_len", T.IntegerType()),
    T.StructField("avg_path_error", T.DoubleType()),
    T.StructField("std_path_error", T.DoubleType()),
    T.StructField("max_path_error", T.DoubleType()),
]


def dtw_compare(
    truth: DataFrame,
    model: DataFrame,
    key: str = "conv_id",
    time_col: str = "bucket_ts",
    value_col: str = "token_rate",
    band: int | None = None,
    with_path: bool = False,
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key DTW between two series tables. ``with_path=True`` adds the
    warping-path metrics (path_len, avg/std/max path error —
    24dtwDistance.py:112-155) at O(n·m) memory per key.

    ``tie_cols`` join/order alongside ``time_col`` — without one, duplicate
    per-key timestamps cross-multiply in the alignment join and sort
    nondeterministically (same hazard the sessionizer's tie_cols guards)."""
    schema = (
        T.StructType(list(DTW_SCHEMA.fields) + PATH_FIELDS) if with_path else DTW_SCHEMA
    )
    jcols = [key, time_col, *tie_cols]
    a = truth.select(*jcols, F.col(value_col).alias("va"))
    b = model.select(*jcols, F.col(value_col).alias("vb"))
    j = a.join(b, jcols, "full_outer")

    def kernel(batches):
        for unit, bounds in series_units(batches, lambda u: key_starts(u, [key])):
            va_all = pc.cast(unit.column("va"), pa.float64()).to_numpy(zero_copy_only=False)
            vb_all = pc.cast(unit.column("vb"), pa.float64()).to_numpy(zero_copy_only=False)
            cols: dict[str, list] = {f.name: [] for f in schema.fields[1:]}
            for s, e in zip(bounds[:-1], bounds[1:]):
                va, vb = va_all[s:e], vb_all[s:e]
                va_c = va[~np.isnan(va)]
                vb_c = vb[~np.isnan(vb)]
                row = {
                    "n_a": len(va_c),
                    "n_b": len(vb_c),
                    "dtw": dtw_distance(va, vb, band),
                    "dtw_normalized": dtw_normalized(va_c, vb_c, band),
                }
                if with_path:
                    row.update(path_error_stats(va_c, vb_c, band))
                for c, v in cols.items():
                    v.append(row[c])
            yield pa.RecordBatch.from_arrays(
                [unit.column(key).take(pa.array(bounds[:-1]))]
                + [
                    pa.array(
                        cols[f.name],
                        pa.int32() if isinstance(f.dataType, T.IntegerType) else pa.float64(),
                        from_pandas=True,
                    )
                    for f in schema.fields[1:]
                ],
                names=schema.names,
            )

    return map_sorted_series(j, [key], [time_col, *tie_cols], kernel, schema)
