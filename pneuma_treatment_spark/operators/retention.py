"""Retention semantics: interval-mask nulling and tier TTL cascade.

* :func:`apply_interval_mask` — the reference's mask machinery (J4/W17:
  ``/root/reference/src/13test_data.py:81-117``,
  ``11merge_realworld_with_mask.py:7-30``): rows outside a key's visible
  intervals either keep their keys with **nulled metric columns**
  (``remove_filtered=False``) or are dropped (``=True``). Nulls, not zeros —
  the engine's load-bearing-null convention (SURVEY.md §1.2).
* :func:`ttl_sql_predicate` — tier TTL: each retention tier keeps
  ``ttl_days`` of history; finer tiers age out first (raw→1m→1h→1d cascade).
  Applied via ``TableIO.delete_where``, which drops the expired partition
  dirs (the predicate names partition columns only, so on Iceberg it is a
  metadata-only delete).

Scale: masks are per-key interval lists — tiny next to the fact table —
so the join is an explicit ``broadcast``; the fact side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_interval_mask(
    df: DataFrame,
    mask: DataFrame,
    key: str = "conv_id",
    time_col: str = "bucket_ts",
    metric_cols: tuple[str, ...] = ("token_rate", "tool_call_rate", "turns_norm"),
    remove_filtered: bool = False,
) -> DataFrame:
    """Mask rows outside visible intervals.

    ``mask``: (key, start_ts, end_ts) half-open ``[start, end)`` intervals
    (``src/10real_node_mask.py:19-22`` convention). A row is observed iff it
    falls in ANY of its key's intervals.
    """
    # Collapse the mask to ONE row per key carrying its interval array —
    # the broadcast join is then a plain equi-join (at most one match per
    # fact row), and membership is an F.exists over the array. The fact side
    # never shuffles, never deduplicates (legitimate duplicate fact rows
    # survive), and no groupBy touches the metric columns.
    m = mask.groupBy(F.col(key).alias("__mk")).agg(
        F.collect_list(
            F.struct(F.col("start_ts").alias("lo"), F.col("end_ts").alias("hi"))
        ).alias("__ivals")
    )
    joined = df.join(F.broadcast(m), df[key] == F.col("__mk"), "left")
    t = F.col(time_col)
    observed = F.coalesce(
        F.exists("__ivals", lambda r: (t >= r["lo"]) & (t < r["hi"])), F.lit(False)
    )
    if remove_filtered:
        return joined.where(observed).drop("__mk", "__ivals")
    out = joined
    for c in metric_cols:
        out = out.withColumn(c, F.when(observed, F.col(c)).otherwise(F.lit(None)))
    return out.withColumn("is_observed", observed).drop("__mk", "__ivals")


def ttl_sql_predicate(ttl_days: int, now_date: str) -> str:
    """Partition-only TTL predicate for TableIO.delete_where: drop whole
    days older than ``ttl_days`` before ``now_date`` (YYYY-MM-DD)."""
    return f"p_day < date_sub(date'{now_date}', {ttl_days})"
