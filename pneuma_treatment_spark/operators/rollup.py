"""Tiered continuous aggregates (raw → 1m → 1h → 1d).

Reproduces the rollup semantics of the reference's per-node per-second stats
table (``/root/reference/src/09lane_node.py:341-417``, formal spec
``09lane_node_formal_description.md:54-176``) over transcripts:

* windowed mean with **null for empty windows, never 0**
  (``09lane_node.py:351-358``);
* windowed distinct-count (``:360-369``);
* log-normalized count ``log(1+x)/log(15)`` (``:414-417``);
* deterministic ``round(x, k)`` at the same points the reference rounds
  (``:358,397,416``).

Scale design: each tier is computed **from the previous tier**, not from raw
(partial-aggregation reuse — 1h reads 60x fewer rows than raw). All tier
metrics are algebraic (int sums / counts), so cascaded results are exactly
equal to direct aggregation and insensitive to partitioning/order; float
rates are derived from the exact int sums at the end. GroupBy keys are
(conv_id, bucket_ts): high cardinality → good shuffle distribution; the
mega-conversation skew case is handled by :mod:`.skew` salting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pneuma_treatment_spark.io.tableio import bucket_col

#: tier name -> window length in seconds
TIERS: dict[str, int] = {"1m": 60, "1h": 3600, "1d": 86400}
_TIER_ORDER = ["1m", "1h", "1d"]

#: additive (algebraic) metric columns carried through the cascade
PARTIAL_COLS = ["turn_count", "token_sum", "tool_calls", "user_turns", "assistant_turns"]


def raw_partials() -> list[Column]:
    """The :data:`PARTIAL_COLS` aggregates over raw turns (``with_turn_metrics``
    columns plus ``role``) — the batch 1m tier and the streaming 1m rollup
    both aggregate exactly these."""
    role = F.col("role")
    return [
        F.count(F.lit(1)).alias("turn_count"),
        F.sum("token_count").alias("token_sum"),
        F.sum("is_tool_call").alias("tool_calls"),
        F.sum(F.when(role == "user", 1).otherwise(0)).alias("user_turns"),
        F.sum(F.when(role == "assistant", 1).otherwise(0)).alias("assistant_turns"),
    ]


def token_count_col(text: Column) -> Column:
    """Deterministic whitespace tokenizer (engine's analog of the reference's
    per-point speed value). Null text → null count (null-preserving, per the
    reference's load-bearing-null convention, SURVEY.md §1.2)."""
    return F.when(text.isNull(), F.lit(None).cast("int")).otherwise(
        F.when(F.trim(text) == "", F.lit(0)).otherwise(
            F.size(F.split(F.trim(text), r"\s+"))
        )
    )


def with_turn_metrics(df: DataFrame) -> DataFrame:
    """Derive per-turn value columns from the raw transcript row.

    ``token_count`` ≙ the reference's per-point speed ``v``; ``is_tool_call``
    ≙ a per-point event flag. Pure column expressions — whole-stage codegen,
    no Python.
    """
    return df.withColumn("token_count", token_count_col(F.col("text"))).withColumn(
        "is_tool_call", F.col("tool").isNotNull().cast("int")
    )


def bucket_ts(ts: Column, tier: str) -> Column:
    """Tumbling-window start for a tier. Uses arithmetic on epoch seconds
    rather than ``F.window`` so the bucket column is a plain timestamp —
    joinable across tiers and directly comparable to the DuckDB oracle's
    ``date_trunc``/``time_bucket``."""
    secs = TIERS[tier]
    epoch = F.unix_timestamp(ts)
    return F.timestamp_seconds((epoch - (epoch % secs)).cast("long"))


def rollup_raw(df: DataFrame, tier: str = "1m") -> DataFrame:
    """Aggregate raw turns into one tier. Expects ``with_turn_metrics`` cols.

    Emits only non-empty buckets (the dense grid + null semantics for
    unobserved buckets live in :mod:`.gapfill` / :mod:`.retention`, matching
    the reference's mask-driven nulling rather than zero-filling).
    """
    secs = TIERS[tier]
    out = (
        df.groupBy(
            F.col("conv_id"),
            bucket_ts(F.col("ts"), tier).alias("bucket_ts"),
        )
        .agg(*raw_partials())
        .withColumn("tier", F.lit(tier))
    )
    return _with_rates(out, secs)


def rollup_raw_clustered(
    df: DataFrame, tier: str = "1m", n_buckets: int = 8
) -> DataFrame:
    """:func:`rollup_raw` with its single exchange doubling as the
    day/bucket WRITE clustering (guide §2.4: two operations keyed the same
    way share one exchange).

    The frame is hash-repartitioned once on (p_day, p_bucket) — the target
    table layout — and the aggregation groups by a SUPERSET of those keys
    (p_day/p_bucket are functions of bucket_ts/conv_id, so the groups, and
    therefore every row, are identical to ``rollup_raw``'s; pinned by
    ``tests/test_plans.py``). Under the session's
    ``requireAllClusterKeysForCoPartition=false`` the subset partitioning
    satisfies the groupBy's clustered distribution, so the plan keeps
    exactly ONE exchange and ``TableIO.write(..., pre_clustered=True)``
    adds none — versus rollup_raw's agg exchange plus the writer's
    rebalance. Skew stays keyed on (day, bucket): one task aggregates one
    bucket-day of raw turns, the same unit every bucketed table already
    pins, and ``n_buckets`` remains the scale-out knob.
    """
    secs = TIERS[tier]
    b = bucket_ts(F.col("ts"), tier)
    sess = df.sparkSession
    try:
        nparts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = sess.sparkContext.defaultParallelism
    pre = (
        df.withColumn("p_day", F.to_date(b))
        .withColumn("p_bucket", bucket_col(n_buckets))
        .repartition(nparts, "p_day", "p_bucket")
    )
    out = (
        pre.groupBy("p_day", "p_bucket", F.col("conv_id"), b.alias("bucket_ts"))
        .agg(*raw_partials())
        .withColumn("tier", F.lit(tier))
    )
    # same column order as rollup_raw, partition cols last (the read-back
    # schema the downstream cascade and tests already see)
    rated = _with_rates(out, secs)
    return rated.select(
        [c for c in rated.columns if c not in ("p_day", "p_bucket")]
        + ["p_day", "p_bucket"]
    )


def rollup_from_tier(finer: DataFrame, from_tier: str, to_tier: str) -> DataFrame:
    """Cascade a finer tier into a coarser one by summing partials.

    Exactness: every carried metric is an integer sum/count, so
    ``rollup_from_tier(rollup_raw(df,'1m'),'1m','1h') == rollup_raw(df,'1h')``
    bit-for-bit regardless of partitioning. This is the two-phase
    (partial → final) aggregation the reference lacks (SURVEY.md §2.4 note).
    """
    assert _TIER_ORDER.index(to_tier) > _TIER_ORDER.index(from_tier)
    secs = TIERS[to_tier]
    out = (
        finer.groupBy(
            F.col("conv_id"),
            bucket_ts(F.col("bucket_ts"), to_tier).alias("bucket_ts"),
        )
        .agg(*[F.sum(c).alias(c) for c in PARTIAL_COLS])
        .withColumn("tier", F.lit(to_tier))
    )
    return _with_rates(out, secs)


def _with_rates(df: DataFrame, window_secs) -> DataFrame:
    """Derived float metrics. Computed from exact int partials → deterministic.

    ``token_rate`` ≙ the reference's windowed avg_speed (rounded 2,
    ``09lane_node.py:358``); ``turns_norm`` ≙ log-normalized total_vehicles
    (``09lane_node.py:414-417``: log(1+x)/log(15), rounded 4).
    ``window_secs``: the tier width — an int, or a Column when rows mix tiers
    (the chunk read path re-derives rates for all tiers at once).
    """
    secs = F.lit(window_secs) if isinstance(window_secs, int) else window_secs
    return (
        df.withColumn(
            "token_rate",
            F.round(F.col("token_sum").cast("double") / secs.cast("double"), 2),
        )
        .withColumn(
            "tool_call_rate",
            F.round(
                F.col("tool_calls").cast("double") / F.col("turn_count").cast("double"),
                4,
            ),
        )
        .withColumn(
            "turns_norm",
            F.round(F.log1p(F.col("turn_count").cast("double")) / F.log(F.lit(15.0)), 4),
        )
    )


def rollup_cascade(df: DataFrame) -> dict[str, DataFrame]:
    """Full raw→1m→1h→1d cascade. Returns {tier: DataFrame}."""
    m1 = rollup_raw(df, "1m")
    h1 = rollup_from_tier(m1, "1m", "1h")
    d1 = rollup_from_tier(h1, "1h", "1d")
    return {"1m": m1, "1h": h1, "1d": d1}
