"""Evaluation metrics: truth-vs-model comparison and classification scores.

Re-expresses the reference's evaluation harness as grouped aggregations:

* **A9 — error metrics** (``/root/reference/src/15compare_lane_stats.py:87-128``):
  per key MAE, RMSE, MAPE (non-zero truth only), baseline = median(truth),
  RSS = 1 − MAE/MAE_baseline.
* **A10 — directional accuracy** (``:131-146``): sign-match rate of first
  differences of truth vs model.
* **A11 — classification P/R/F1** (``23stateFscore.py:431-525``): per-class
  precision/recall/F1/support from a confusion matrix, plus macro and
  weighted averages.

The reference inner-joins truth and model CSVs per node then loops; here one
join + one grouped aggregation covers all keys (J3 + A9/A10 in a single
shuffle; the lag-diff needs a window over the same partitioning, reusing the
sort).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pneuma_treatment_spark.seriesmap import key_starts, map_sorted_series, series_units


def compare_series(
    truth: DataFrame,
    model: DataFrame,
    key: str = "conv_id",
    time_col: str = "bucket_ts",
    value_col: str = "token_rate",
) -> DataFrame:
    """Per-key error metrics between aligned series (A9 + A10)."""
    t = truth.select(key, time_col, F.col(value_col).alias("t"))
    m = model.select(key, time_col, F.col(value_col).alias("m"))
    j = t.join(m, [key, time_col], "inner")

    w = Window.partitionBy(key).orderBy(time_col)
    j = (
        j.withColumn("dt", F.col("t") - F.lag("t").over(w))
        .withColumn("dm", F.col("m") - F.lag("m").over(w))
        .withColumn("err", F.col("m") - F.col("t"))
    )
    agg = j.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.avg(F.abs("err")), 6).alias("mae"),
        F.round(F.sqrt(F.avg(F.pow("err", 2))), 6).alias("rmse"),
        F.round(
            F.avg(F.when(F.col("t") != 0, F.abs(F.col("err") / F.col("t")))), 6
        ).alias("mape"),
        F.expr("percentile(t, 0.5)").alias("t_median"),
        F.round(
            F.avg(
                F.when(
                    F.col("dt").isNotNull() & F.col("dm").isNotNull(),
                    (F.signum("dt") == F.signum("dm")).cast("int"),
                )
            ),
            6,
        ).alias("da"),
    )
    # RSS = 1 - MAE / MAE_baseline, baseline predicts median(truth)
    base = j.groupBy(key).agg(F.expr("percentile(t, 0.5)").alias("med"))
    mae_base = (
        j.join(base, key)
        .groupBy(key)
        .agg(F.avg(F.abs(F.col("t") - F.col("med"))).alias("mae_baseline"))
    )
    return (
        agg.join(mae_base, key)
        .withColumn(
            "rss",
            F.round(
                F.when(
                    F.col("mae_baseline") > 0, 1 - F.col("mae") / F.col("mae_baseline")
                ),
                6,
            ),
        )
        .drop("t_median")
    )


def classification_report(
    pred: DataFrame, gt_col: str = "gt", pred_col: str = "pred"
) -> tuple[DataFrame, DataFrame]:
    """Per-class and aggregate P/R/F1 (A11) from label pairs.

    Returns (per_class, summary). All ratios are single divisions of exact
    counts → deterministic across engines.
    """
    conf = pred.groupBy(gt_col, pred_col).agg(F.count(F.lit(1)).alias("n"))
    labels = (
        conf.select(F.col(gt_col).alias("label"))
        .union(conf.select(F.col(pred_col).alias("label")))
        .distinct()
    )
    tp = conf.where(F.col(gt_col) == F.col(pred_col)).select(
        F.col(gt_col).alias("label"), F.col("n").alias("tp")
    )
    gt_n = conf.groupBy(F.col(gt_col).alias("label")).agg(F.sum("n").alias("support"))
    pred_n = conf.groupBy(F.col(pred_col).alias("label")).agg(F.sum("n").alias("predicted"))
    per = (
        labels.join(tp, "label", "left")
        .join(gt_n, "label", "left")
        .join(pred_n, "label", "left")
        .fillna(0, ["tp", "support", "predicted"])
        .withColumn(
            "precision",
            F.when(F.col("predicted") > 0, F.col("tp") / F.col("predicted")).otherwise(0.0),
        )
        .withColumn(
            "recall",
            F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(0.0),
        )
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(0.0),
        )
    )
    summary = per.agg(
        F.avg("precision").alias("macro_precision"),
        F.avg("recall").alias("macro_recall"),
        F.avg("f1").alias("macro_f1"),
        (F.sum(F.col("f1") * F.col("support")) / F.sum("support")).alias("weighted_f1"),
        (F.sum("tp") / F.sum("support")).alias("accuracy"),
    )
    return per, summary


_DELAY_STATS = [
    "mean_abs_delay", "median_abs_delay", "mean_delay", "median_delay", "std_delay",
]


def _greedy_match(gt_ts: list[int], pr_ts: list[int], max_delay: int) -> dict:
    """TP/FN/FP and delay stats of one (key, type) unit: each prediction, in
    time order, takes the nearest gt event within ``max_delay`` unless that
    gt already holds a match at least as close."""
    match: dict[int, int] = {}  # gt index -> pred index
    dist: dict[int, float] = {}
    for pi, pt in enumerate(pr_ts):
        best, bestd = None, None
        for gi, gtt in enumerate(gt_ts):
            d = abs(pt - gtt)
            if d <= max_delay and (bestd is None or d < bestd):
                if gi in match and dist[gi] <= d:
                    continue  # existing match is closer; can't steal
                best, bestd = gi, d
        if best is not None:
            match[best] = pi
            dist[best] = bestd
    tp = len(match)
    sdel = [pr_ts[pi] - gt_ts[gi] for gi, pi in match.items()]
    delays = [abs(d) for d in sdel]
    if sdel:
        var_num = tp * sum(d * d for d in sdel) - sum(sdel) ** 2
        stats = [
            sum(delays) / tp,
            float(np.median(delays)),
            sum(sdel) / tp,
            float(np.median(sdel)),
            math.sqrt(var_num) / tp,
        ]
    else:
        stats = [None] * len(_DELAY_STATS)
    return {
        "tp": tp, "fn": len(gt_ts) - tp, "fp": len(pr_ts) - tp,
        **dict(zip(_DELAY_STATS, stats)),
    }


def match_events(
    gt_events: DataFrame,
    pred_events: DataFrame,
    key: str = "conv_id",
    time_col: str = "bucket_ts",
    type_col: str = "event_type",
    max_delay: int = 30,
) -> DataFrame:
    """Event matching with greedy nearest-match + reassignment (W13/A12,
    ``23stateFscore.py:229-309``): per (key, type), each predicted event
    matches the closest ground-truth event within ±max_delay steps; a closer
    later prediction steals an earlier match. Unmatched gt → FN, unmatched
    pred → FP; matched pairs report signed delay. Rows with a null key or
    type match nothing and are dropped.

    Per-(key, type) event counts are tiny (they are transitions, not rows),
    so the quadratic greedy runs in Python like the reference — but across
    all keys at once, as one sorted Arrow stream per task
    (:func:`..seriesmap.map_sorted_series`): a unit is one (key, type), its
    gt events then its predictions, each in time order.

    Delay distribution (23stateFscore.py:345-361): signed delay = pred − gt
    per matched pair; reports mean/median of |delay|, mean/median/std of the
    signed delay. std is the POPULATION std (np.std semantics) computed via
    the exact integer identity sqrt(n·Σx² − (Σx)²)/n — algebraically equal
    to np.std but exactly reproducible (delays are integer seconds), so the
    SQL oracle matches bit-for-bit. Empty matches report null, not 0 (the
    engine's load-bearing-null convention; the reference reports 0.0).
    """
    def side(events: DataFrame, is_pred: bool) -> DataFrame:
        return events.select(
            key, type_col, F.lit(is_pred).alias("__pred"), F.col(time_col).alias("__ts")
        )

    both = side(gt_events, False).unionByName(side(pred_events, True)).where(
        F.col(key).isNotNull() & F.col(type_col).isNotNull()
    )
    schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField(type_col, T.StringType()),
            T.StructField("tp", T.IntegerType()),
            T.StructField("fn", T.IntegerType()),
            T.StructField("fp", T.IntegerType()),
        ]
        + [T.StructField(c, T.DoubleType()) for c in _DELAY_STATS]
    )
    keys = [key, type_col]

    def kernel(batches):
        for unit, bounds in series_units(batches, lambda u: key_starts(u, keys)):
            pred = unit.column("__pred").to_numpy(zero_copy_only=False)
            # unit-explicit: whole seconds since the epoch
            secs = (
                unit.column("__ts").to_numpy(zero_copy_only=False)
                .astype("datetime64[us]").astype("int64") // 10**6
            )
            rows = [
                _greedy_match(
                    secs[s:e][~pred[s:e]].tolist(), secs[s:e][pred[s:e]].tolist(), max_delay
                )
                for s, e in zip(bounds[:-1], bounds[1:])
            ]
            firsts = pa.array(bounds[:-1])
            yield pa.RecordBatch.from_arrays(
                [unit.column(c).take(firsts) for c in keys]
                + [pa.array([r[c] for r in rows], pa.int32()) for c in ("tp", "fn", "fp")]
                + [pa.array([r[c] for r in rows], pa.float64()) for c in _DELAY_STATS],
                names=schema.names,
            )

    return map_sorted_series(both, keys, ["__pred", "__ts"], kernel, schema)
