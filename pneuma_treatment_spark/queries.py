"""Driver-facing query registry: SURVEY.md §2 operators expressed over the
``/root/testdata`` tables, each with a DuckDB oracle SQL twin.

Determinism rules (the driver hash-compares values):

* float sums go through integer cents (``floor(x*100+0.5)`` — identical IEEE
  ops on both engines) — unordered float SUM is not reproducible, int sum is;
* derived floats are a single division of exact ints (bit-identical), or are
  rounded HALF_UP on both sides;
* every computed column is aliased identically in Spark and SQL.

Each query notes the reference operator(s) it exercises (SURVEY.md §2 ids).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
SQL: dict[str, str] = {}


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver may hand us a session with a non-UTC timezone; NTZ→epoch
    # conversions (unix_timestamp etc.) are zone-dependent, and the DuckDB
    # oracle is UTC-naive — pin it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _events(spark, sf_dir):
    e = _load(spark, sf_dir, "events")
    return e.withColumn("cents", _cents(F.col("value"))).withColumn(
        "epoch_s", F.unix_timestamp("ts")
    )


_CENTS_SQL = "CAST(floor(value*100 + 0.5) AS BIGINT)"
_EPOCH_SQL = "(epoch_us(ts)//1000000)"


def query(name: str, sql: str | None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            SQL[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# Tiered rollups (A1/A15/S2-S4 — the lane_node_stats analog)
# ---------------------------------------------------------------------------

@query(
    "rollup_1m",
    f"""
    SELECT event_type,
           make_timestamp((({_EPOCH_SQL}//60)*60)*1000000) AS bucket_ts,
           count(*) AS n_events,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS value_cents,
           CAST(sum({_CENTS_SQL}) AS BIGINT)/100.0 AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling rollup (W1 output-stride analog; 09lane_node.py:341-399)."""
    e = _events(spark, sf_dir)
    bucket = F.timestamp_seconds((F.col("epoch_s") - F.col("epoch_s") % 60))
    return (
        e.groupBy("event_type", bucket.alias("bucket_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .withColumn("value_sum", F.col("value_cents") / F.lit(100.0))
    )


@query(
    "rollup_1h_cascade",
    f"""
    SELECT event_type,
           make_timestamp((({_EPOCH_SQL}//3600)*3600)*1000000) AS bucket_ts,
           count(*) AS n_events,
           CAST(sum({_CENTS_SQL}) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1h_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-agg reuse: the hourly tier is computed FROM the minute tier
    (two-phase aggregation, SURVEY.md §2.4 closing note) and must equal the
    oracle's direct hourly aggregation exactly — algebraic partials only."""
    minute = rollup_1m(spark, sf_dir).drop("value_sum")
    m_epoch = F.unix_timestamp("bucket_ts")
    bucket = F.timestamp_seconds((m_epoch - m_epoch % 3600))
    return minute.groupBy("event_type", bucket.alias("bucket_ts")).agg(
        F.sum("n_events").alias("n_events"), F.sum("value_cents").alias("value_cents")
    )


@query(
    "count_distinct_1m",
    f"""
    SELECT event_type,
           make_timestamp((({_EPOCH_SQL}//60)*60)*1000000) AS bucket_ts,
           count(DISTINCT user_id) AS nd_users
    FROM events GROUP BY 1, 2
    """,
)
def count_distinct_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed count-distinct (A2: total_vehicles, 09lane_node.py:360-369)."""
    e = _events(spark, sf_dir)
    bucket = F.timestamp_seconds((F.col("epoch_s") - F.col("epoch_s") % 60))
    return e.groupBy("event_type", bucket.alias("bucket_ts")).agg(
        F.countDistinct("user_id").alias("nd_users")
    )


@query(
    "per_type_stats",
    """
    SELECT event_type, count(*) AS n,
           round(ln(1 + count(*)) / ln(15), 6) AS n_norm,
           round(quantile_cont(CAST(floor(value*100 + 0.5) AS BIGINT), 0.5), 6) AS med_cents
    FROM events GROUP BY 1
    """,
)
def per_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type log normalization + exact interpolated median (A15/F5:
    09lane_node.py:414-417; A13/A9: np.percentile analog). One query covers
    both small per-type aggregates — the driver records at most 50 query
    rows, so trivially-composable aggregates share a slot."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(cents, 0.5)"), 6).alias("med_cents"),
    ).withColumn(
        "n_norm", F.round(F.log1p(F.col("n").cast("double")) / F.log(F.lit(15.0)), 6)
    ).select("event_type", "n", "n_norm", "med_cents")


# ---------------------------------------------------------------------------
# Sliding windows / sequence ops (W1/W2, A5, A10, J7)
# ---------------------------------------------------------------------------

@query(
    "sliding_window_sum",
    f"""
    SELECT event_id, CAST(sum(cents) OVER w AS BIGINT) AS win_cents,
           count(*) OVER w AS win_n
    FROM (SELECT event_id, event_type, {_EPOCH_SQL} AS epoch_s,
                 {_CENTS_SQL} AS cents FROM events)
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_s
                 RANGE BETWEEN 60 PRECEDING AND CURRENT ROW)
    """,
)
def sliding_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range sliding window (W1: multi-width windows over seconds,
    09lane_node.py:341-390) as a rangeBetween window — one shuffle, all keys
    at once, vs the reference's per-(node,second) rescan loop."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("epoch_s").rangeBetween(-60, 0)
    return e.select(
        "event_id",
        F.sum("cents").over(w).alias("win_cents"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    )


@query(
    "running_total",
    f"""
    SELECT event_id,
           cents - lag(cents) OVER w AS diff_cents,
           CAST(sign(cents - lag(cents) OVER w) AS INT) AS diff_sign,
           CAST(sum(cents) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
    FROM (SELECT event_id, user_id, ts, {_CENTS_SQL} AS cents FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First differences + sign + running cumulative sum per key, one ordered
    window (A10 directional-accuracy input, 15compare_lane_stats.py:131-146;
    A5 lag pattern; W9/W19 trapezoid-cumsum / position analogs,
    processor.py:375-380). Shares a slot under the driver's 50-row cap —
    the three sequence columns ride the same sort."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    diff = F.col("cents") - F.lag("cents").over(w)
    run = F.sum("cents").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        diff.alias("diff_cents"),
        F.signum(diff).cast("int").alias("diff_sign"),
        run.alias("run_cents"),
    )


@query(
    "session_gap_count",
    f"""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CASE WHEN epoch_s - prev_s > 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
    FROM (SELECT user_id, {_EPOCH_SQL} AS epoch_s,
                 lag({_EPOCH_SQL}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
          FROM events)
    GROUP BY 1
    """,
)
def session_gap_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection (the engine's gap-fill trigger; W10/W15 precursor)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("epoch_s").over(w)
    return (
        e.withColumn("gap", ((F.col("epoch_s") - prev) > 600).cast("int"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.sum("gap"), F.lit(0)).alias("n_gaps"),
        )
    )


@query(
    "transition_counts",
    """
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
          FROM events)
    WHERE prev_type IS NOT NULL AND prev_type <> event_type
    GROUP BY 1, 2
    """,
)
def transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition counting (A5: 06lane_transitions.py:65-106 — lag pairs →
    change filter → groupBy count, replacing the reference's Counter loop)."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("event_type")))
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "asof_next_type",
    """
    WITH o AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM o
    ),
    g AS (SELECT user_id, island, min(event_type) AS island_type FROM i GROUP BY 1, 2),
    n AS (SELECT user_id, island,
                 lead(island_type) OVER (PARTITION BY user_id ORDER BY island) AS next_type
          FROM g)
    SELECT i.event_id, n.next_type FROM i JOIN n USING (user_id, island)
    """,
)
def asof_next_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Next different value' lookup (J7: get_next_node_for_vehicle,
    09lane_node.py:113-145 — O(T) rescan per row there; one island pass here)."""
    e = _load(spark, sf_dir, "events")
    # join-free islands (r8): next_type = the island-start marker picked up
    # by a descending running frame excluding the current row — one scan,
    # one exchange, two incremental window blocks. The former formulation
    # (running-sum island id → groupBy island → lead → join back) scanned
    # events twice and paid an aggregate plus a broadcast join for the same
    # values; operators/occupancy.with_next_node made the same move.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    marker = F.when(prev.isNull() | (prev != F.col("event_type")), F.col("event_type"))
    w_desc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.select("event_id", "user_id", "ts", "event_type")
        .withColumn("__m", marker)
        .withColumn("next_type", F.last("__m", ignorenulls=True).over(w_desc))
        .select("event_id", "next_type")
    )


# ---------------------------------------------------------------------------
# Joins (J3/J4/J6/J8) + top-k (A6/O2)
# ---------------------------------------------------------------------------

@query(
    "interval_mask_counts",
    """
    WITH mask AS (
      SELECT event_type, (min(epoch_us(ts)) + max(epoch_us(ts)))//2 AS mid
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(sum(CASE WHEN epoch_us(e.ts) <= m.mid THEN 1 ELSE 0 END) AS BIGINT) AS observed_cnt,
           CAST(sum(CASE WHEN epoch_us(e.ts) > m.mid THEN 1 ELSE 0 END) AS BIGINT) AS nulled_cnt
    FROM events e JOIN mask m USING (event_type)
    GROUP BY 1
    """,
)
def interval_mask_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval mask join + retention nulling (J4/W17: 13test_data.py:81-117,
    11merge_realworld_with_mask.py) — the mask is small → broadcast."""
    e = _load(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mask = e.groupBy("event_type").agg(
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("mid")
    )
    joined = e.join(F.broadcast(mask), "event_type")
    return joined.groupBy("event_type").agg(
        F.sum((F.col("us") <= F.col("mid")).cast("int")).alias("observed_cnt"),
        F.sum((F.col("us") > F.col("mid")).cast("int")).alias("nulled_cnt"),
    )


@query(
    "overwrite_coalesce_join",
    f"""
    WITH a AS (SELECT user_id, {_EPOCH_SQL}//86400 AS day,
                      CAST(sum({_CENTS_SQL}) AS BIGINT) AS c
               FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         b AS (SELECT user_id, {_EPOCH_SQL}//86400 AS day,
                      CAST(sum({_CENTS_SQL}) AS BIGINT) AS c
               FROM events WHERE event_type = 'click' GROUP BY 1, 2)
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           coalesce(a.day, b.day) AS day,
           coalesce(b.c, a.c) AS merged_cents
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id AND a.day = b.day
    """,
)
def overwrite_coalesce_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overwrite join: B's values replace A's where present (J6:
    13realworld_merge_testdata.py coalesce-priority merge)."""
    e = _events(spark, sf_dir)
    day = (F.col("epoch_s") / 86400).cast("long").alias("day")

    def side(t):
        return (
            e.where(F.col("event_type") == t)
            .groupBy("user_id", day)
            .agg(F.sum("cents").alias("c"))
        )

    a, b = side("view").alias("a"), side("click").alias("b")
    return a.join(b, ["user_id", "day"], "full_outer").select(
        "user_id", "day", F.coalesce(F.col("b.c"), F.col("a.c")).alias("merged_cents")
    )


@query(
    "top1_user_per_type",
    """
    SELECT event_type, user_id, cnt FROM (
      SELECT event_type, user_id, count(*) AS cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, user_id) AS rn
      FROM events GROUP BY 1, 2
    ) WHERE rn = 1
    """,
)
def top1_user_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 per group (A6: 07build_graph.py:94-127 direct/near split; O2)."""
    e = _load(spark, sf_dir, "events")
    cnt = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("user_id"))
    return cnt.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped multi-agg with filter pushdown (A8 family; TPC-H Q1 shape)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "graph_diff",
    """
    WITH m AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts)))//2 AS mid FROM events),
    t1 AS (SELECT event_type AS dst,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM events, m WHERE epoch_us(ts) <= m.mid),
    e1 AS (SELECT src, dst FROM t1 WHERE src IS NOT NULL AND src <> dst
           GROUP BY 1, 2 HAVING count(*) >= 195),
    s1 AS (SELECT src, string_agg(dst, chr(31) ORDER BY dst) AS set_a FROM e1 GROUP BY 1),
    t2 AS (SELECT event_type AS dst,
                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM events, m WHERE epoch_us(ts) > m.mid),
    e2 AS (SELECT src, dst FROM t2 WHERE src IS NOT NULL AND src <> dst
           GROUP BY 1, 2 HAVING count(*) >= 195),
    s2 AS (SELECT src, string_agg(dst, chr(31) ORDER BY dst) AS set_b FROM e2 GROUP BY 1)
    SELECT coalesce(s1.src, s2.src) AS src,
           CASE WHEN s1.src IS NULL THEN 'only_right'
                WHEN s2.src IS NULL THEN 'only_left'
                ELSE 'different' END AS status,
           set_a, set_b
    FROM s1 FULL OUTER JOIN s2 ON s1.src = s2.src
    WHERE s1.src IS NULL OR s2.src IS NULL OR set_a <> set_b
    """,
)
def graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 graph-compare anti-join (08audo_compare_graph.py:20-60): the
    transition graph of the first time half vs the second (edges observed
    ≥ 195 times), reporting nodes whose normalized neighbor sets differ."""
    from pneuma_treatment_spark.operators.occupancy import (
        compare_keyed_sets,
        transition_edges,
    )

    e = _load(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mid = e.agg(((F.min("us") + F.max("us")) / 2).cast("long").alias("mid"))
    e = e.crossJoin(F.broadcast(mid))
    g1 = transition_edges(e.where(F.col("us") <= F.col("mid")), min_count=195)
    g2 = transition_edges(e.where(F.col("us") > F.col("mid")), min_count=195)
    return compare_keyed_sets(g1, g2)


@query(
    "sign_change_burst",
    f"""
    WITH d AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id, ts, event_id,
             {_CENTS_SQL} - lag({_CENTS_SQL}) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS diff
      FROM events
    ),
    dd AS (SELECT * FROM d WHERE diff IS NOT NULL),
    s AS (
      SELECT conv_id, row_number() OVER w - 1 AS rn,
             sign(diff) AS sg, lag(sign(diff)) OVER w AS ps
      FROM dd
      WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)
    ),
    tog AS (SELECT conv_id, rn - 1 AS idx FROM s WHERE ps IS NOT NULL AND sg <> ps),
    gaps AS (SELECT conv_id, idx - lag(idx) OVER
                      (PARTITION BY conv_id ORDER BY idx) AS gap FROM tog),
    per AS (SELECT conv_id, count(*) AS n_toggles, min(gap) AS min_toggle_gap
            FROM gaps GROUP BY 1),
    -- keys come from the DIFF series (the operator's input), not raw events:
    -- a single-event user has no diff row and therefore no output row
    keys AS (SELECT DISTINCT conv_id FROM dd)
    SELECT k.conv_id,
           coalesce(n_toggles, 0) AS n_toggles,
           min_toggle_gap,
           coalesce(min_toggle_gap < 25, FALSE) AS is_bursty
    FROM keys k LEFT JOIN per USING (conv_id)
    """,
)
def sign_change_burst_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 zero-crossing burst detector (processor.py:75-85) over each user's
    first-difference series: bursty iff two sign toggles sit < 25 steps
    apart."""
    from pneuma_treatment_spark.operators.state import sign_change_burst

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    diffs = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "ts",
        "event_id",
        (F.col("cents") - F.lag("cents").over(w)).alias("diff_cents"),
    ).where(F.col("diff_cents").isNotNull())
    return sign_change_burst(
        diffs, key="conv_id", value_col="diff_cents", order_cols=("ts", "event_id")
    )


@query(
    "occupancy_spill_1m",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts, event_type, {_CENTS_SQL} AS cents,
             {_EPOCH_SQL} AS s,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM o
    ),
    g AS (SELECT user_id, island, min(event_type) AS island_type FROM i GROUP BY 1, 2),
    nx AS (SELECT user_id, island,
                  lead(island_type) OVER (PARTITION BY user_id ORDER BY island) AS next_node
           FROM g),
    en AS (SELECT i.*, nx.next_node FROM i JOIN nx USING (user_id, island)),
    edges AS (
      SELECT prev_type AS src, event_type AS dst FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events)
      WHERE prev_type IS NOT NULL AND prev_type <> event_type
      GROUP BY 1, 2 HAVING count(*) >= 400
    ),
    own AS (
      SELECT event_type AS node, make_timestamp(((s//60)*60)*1000000) AS bucket_ts,
             CAST(sum(cents) AS BIGINT) AS own_w
      FROM en GROUP BY 1, 2
    ),
    spill AS (
      SELECT next_node AS node, make_timestamp(((s//60)*60)*1000000) AS bucket_ts,
             CAST(sum(cents) AS BIGINT) AS spill_w
      FROM en JOIN edges ON en.event_type = edges.src AND en.next_node = edges.dst
      GROUP BY 1, 2
    )
    SELECT coalesce(own.node, spill.node) AS node,
           coalesce(own.bucket_ts, spill.bucket_ts) AS bucket_ts,
           3*coalesce(own_w, 0) + coalesce(spill_w, 0) AS occ_quarters,
           (3*coalesce(own_w, 0) + coalesce(spill_w, 0)) / 4.0 AS occupancy
    FROM own FULL OUTER JOIN spill
      ON own.node = spill.node AND own.bucket_ts = spill.bucket_ts
    """,
)
def occupancy_spill_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 graph-aware occupancy spill (09lane_node.py:184-254): 3/4 of each
    event's weight lands on its own (type, minute) cell, 1/4 spills to the
    user's next-different type when that transition is a 'direct' edge
    (observed ≥ 400 times — the engine's stand-in for the shapefile graph)."""
    from pneuma_treatment_spark.operators.occupancy import occupancy_spill_derived

    e = _events(spark, sf_dir)
    # fused form: ≡ occupancy_spill(e, transition_edges(e, min_count=400))
    # (equivalence pinned in tests/test_occupancy.py) with the edge dim
    # derived from the SAME island pass — one events window instead of two
    return occupancy_spill_derived(e, min_count=400)


@query(
    "revenue_by_nation",
    """
    SELECT n_name,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact×dims star join at real join cardinality (J2/J8 shape; TPC-H
    Q5-family): lineitem joins orders (filtered, pushdown-checked) then the
    customer and nation dims — both explicitly broadcast, asserted in
    tests/test_plans.py. Revenue goes through integer cents for a
    deterministic hash."""
    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# S1/S3 wide-record ingest parser (01data_formatter.py:18-63)
# ---------------------------------------------------------------------------

def _wide_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic wide-record lines synthesized from the events table
    (all-integer tokens → identical string formatting in Spark and DuckDB),
    plus a header line and a malformed line the parser must drop."""
    e = _events(spark, sf_dir)
    tup = F.concat_ws(
        "; ",
        F.col("cents").cast("string"),
        (F.col("cents") + 1).cast("string"),
        F.col("event_id").cast("string"),
        (F.col("cents") % 7).cast("string"),
        (F.col("cents") % 11).cast("string"),
        F.col("epoch_s").cast("string"),
    )
    per = e.select(
        "user_id", F.struct(F.col("ts"), F.col("event_id"), tup.alias("p")).alias("r")
    )
    agg = per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.concat_ws(
            "; ", F.transform(F.sort_array(F.collect_list("r")), lambda r: r["p"])
        ).alias("body"),
    )
    line = F.concat_ws(
        "; ",
        F.col("user_id").cast("string"),
        F.lit("conv"),
        F.col("cnt").cast("string"),
        (F.col("cnt") * 2).cast("string"),
        F.col("body"),
    )
    junk = spark.createDataFrame(
        [("raw_header",), ("x; y; z; w; a; b; c; d; e; f; g",)], "value string"
    )
    return agg.select(line.alias("value")).unionByName(junk)


_WIDE_LINES_SQL = f"""
    e AS (
      SELECT user_id, ts, event_id, {_CENTS_SQL} AS cents, {_EPOCH_SQL} AS s
      FROM events
    ),
    l AS (
      SELECT CAST(user_id AS VARCHAR) || '; conv; ' || CAST(count(*) AS VARCHAR)
             || '; ' || CAST(count(*) * 2 AS VARCHAR) || '; ' ||
             string_agg(
               CAST(cents AS VARCHAR) || '; ' || CAST(cents + 1 AS VARCHAR) || '; '
               || CAST(event_id AS VARCHAR) || '; ' || CAST(cents % 7 AS VARCHAR)
               || '; ' || CAST(cents % 11 AS VARCHAR) || '; ' || CAST(s AS VARCHAR),
               '; ' ORDER BY ts, event_id) AS value
      FROM e GROUP BY user_id
      UNION ALL SELECT 'raw_header'
      UNION ALL SELECT 'x; y; z; w; a; b; c; d; e; f; g'
    ),
    p AS (
      SELECT string_split(value, '; ') AS t FROM l
      WHERE len(string_split(value, '; ')) >= 10
    ),
    p4 AS (
      SELECT string_split(value, '; ') AS t FROM l
      WHERE len(string_split(value, '; ')) >= 4
    )
"""


@query(
    "wide_record_parse",
    f"""
    WITH {_WIDE_LINES_SQL},
    x AS (
      SELECT t, unnest(range(0, CAST(floor((len(t) - 10) / 6) AS BIGINT) + 1)) AS j
      FROM p
    ),
    y AS (
      SELECT t[1] AS id, CAST(j AS INT) AS j,
             TRY_CAST(t[j*6 + 5] AS DOUBLE) + 0.25 AS lat,
             TRY_CAST(t[j*6 + 6] AS DOUBLE) - 0.5 AS lon,
             TRY_CAST(t[j*6 + 7] AS DOUBLE) AS v,
             TRY_CAST(t[j*6 + 8] AS DOUBLE) AS a_x,
             TRY_CAST(t[j*6 + 9] AS DOUBLE) AS a_y,
             TRY_CAST(t[j*6 + 10] AS DOUBLE) AS frame
      FROM x
    )
    SELECT * FROM y
    WHERE lat IS NOT NULL AND lon IS NOT NULL AND v IS NOT NULL
      AND a_x IS NOT NULL AND a_y IS NOT NULL AND frame IS NOT NULL
    """,
)
def wide_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 wide-record stride-6 unpack (01data_formatter.py:18-49) +
    S3 robust-scan drop of the header/malformed lines (test_csv_reading.py:
    13-19). Offsets here are exact binary fractions (0.25 / −0.5) so the
    float adds are bit-identical across engines; the operator's defaults are
    the reference constants."""
    from pneuma_treatment_spark.io.widerecord import parse_wide_records

    return parse_wide_records(
        _wide_lines(spark, sf_dir), lat_offset=0.25, lon_offset=-0.5
    )


@query(
    "wide_record_meta",
    f"""
    WITH {_WIDE_LINES_SQL}
    SELECT t[1] AS id, t[2] AS type,
           TRY_CAST(t[3] AS DOUBLE) AS dist,
           TRY_CAST(t[4] AS DOUBLE) AS avg_speed
    FROM p4
    WHERE TRY_CAST(t[3] AS DOUBLE) IS NOT NULL
      AND TRY_CAST(t[4] AS DOUBLE) IS NOT NULL
    """,
)
def wide_record_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 meta extraction (01data_formatter.py:35-37): the 4-field dim table
    off the same wide lines — broadcast-join material (J8)."""
    from pneuma_treatment_spark.io.widerecord import parse_wide_meta

    return parse_wide_meta(_wide_lines(spark, sf_dir))


# ---------------------------------------------------------------------------
# Training-data pipeline ops: dedup / text analysis / similarity search
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with"]


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
    FROM documents WHERE text IS NOT NULL GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (P8 analog; training-data pipeline op)."""
    d = _load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt")
    )


@query(
    "quality_score",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, len(toks) AS n_tokens,
           len(regexp_extract_all(text,
               '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s'']+|''')
           ) AS n_bpe_tokens,
           len(list_filter(toks, x -> list_contains(
               ['the','a','of','to','and','in','is','for','on','with'], x))) AS stop_cnt,
           CASE WHEN len(toks) = 0 THEN NULL
                ELSE CAST(len(list_filter(toks, x -> list_contains(
                    ['the','a','of','to','and','in','is','for','on','with'], x)))
                    AS DOUBLE) / len(toks) END AS stop_ratio,
           CASE WHEN len(toks) >= 2 THEN
                1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
                    / (len(toks) - 1) END AS dup_2gram_frac,
           CASE WHEN len(toks) >= 3 THEN
                1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS DOUBLE)
                    / (len(toks) - 2) END AS dup_3gram_frac
    FROM t
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring + token counting in one pass: whitespace tokens,
    BPE-ish pre-tokenizer matches (the subword-cost proxy — whitespace
    counting undercounts punctuation-heavy text badly; lookahead-free so
    RE2 and Java regex agree), stopword count/ratio. One documents scan
    covers the three text-analysis ops (the driver records at most 50 query
    rows, so single-scan column families share a slot). Round 6 folds the
    Gopher-style duplicate-n-gram fractions (repetition_stats' math, here
    over the un-lowered query tokens) into the same scan — both sides
    compute 1.0 − distinct/total as one IEEE division, so the hash gate
    holds exactly."""
    from pneuma_treatment_spark.operators.textstats import (
        BPE_TOKEN_RE,
        dup_ngram_frac,
    )

    d = _load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.when(F.trim("text") == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(F.col("text")), r"\s+")
    )
    d = d.withColumn("__toks", toks)
    stop = F.size(F.filter(F.col("__toks"), lambda x: x.isin(_STOPWORDS)))
    n = F.size(F.col("__toks"))
    # subword-style token count: BPE-ish pre-tokenizer matches; F.lit keeps
    # the pattern out of SQL string-literal escaping (quotes, backslashes)
    nbpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), F.lit(0)))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        nbpe.alias("n_bpe_tokens"),
        stop.alias("stop_cnt"),
        F.when(n > 0, stop.cast("double") / n).alias("stop_ratio"),
        dup_ngram_frac(F.col("__toks"), 2).alias("dup_2gram_frac"),
        dup_ngram_frac(F.col("__toks"), 3).alias("dup_3gram_frac"),
    )


@query(
    "knn_cosine",
    """
    WITH q AS (SELECT unnest(embedding)::DOUBLE AS qv,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                      generate_subscripts(embedding, 1) AS i
               FROM embeddings),
         d AS (SELECT e.vec_id, sum(e.v * q.qv) AS dot,
                      sum(e.v * e.v) AS na, sum(q.qv * q.qv) AS nb
               FROM e JOIN q USING (i) GROUP BY 1)
    SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos_sim
    FROM d WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search (ANN baseline). Rounded to
    4 dp before ranking on both sides — unordered float sums differ in ulps."""
    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    qcol = F.array([F.lit(float(v)) for v in qvec])
    e = emb.withColumn("de", F.transform("embedding", lambda x: x.cast("double")))
    dot = F.aggregate(
        F.zip_with("de", qcol, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.aggregate(
        F.transform("de", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    nb = float(sum(float(v) * float(v) for v in qvec))
    cos = F.round(dot / (F.sqrt(na) * F.sqrt(F.lit(nb))), 4)
    return (
        e.where(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Non-SQL-expressible: full treatment chain (rows-only driver check)
# ---------------------------------------------------------------------------

@query(
    "treatment_pipeline",
    f"""
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
             {_CENTS_SQL} AS c
      FROM events
    ),
    w AS (
      SELECT conv_id, turn_idx, c,
             count(*) OVER (PARTITION BY conv_id) AS cnt,
             CAST(sum(c) OVER (PARTITION BY conv_id ORDER BY turn_idx
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS BIGINT) AS wsum,
             first_value(c) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS firstc,
             first_value(c) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS lastc,
             median(c) OVER (PARTITION BY conv_id ORDER BY turn_idx
                      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS med
      FROM s
    ),
    m AS (
      SELECT conv_id, turn_idx,
             wsum + greatest(0, 12 - turn_idx) * firstc
                  + greatest(0, turn_idx + 12 - (cnt - 1)) * lastc AS sg_sum25,
             CAST(round(med * 2) AS BIGINT) AS med2,
             abs(c - med) >= 6.0 AS raw_anomaly
      FROM w
    ),
    ext AS (
      SELECT *,
             max(CASE WHEN raw_anomaly THEN turn_idx END) OVER
               (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_a,
             min(CASE WHEN raw_anomaly THEN turn_idx END) OVER
               (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_a
      FROM m
    )
    SELECT conv_id, turn_idx, CAST(sg_sum25 AS BIGINT) AS sg_sum25, med2, raw_anomaly,
           raw_anomaly OR (prev_a IS NOT NULL AND next_a IS NOT NULL
                           AND next_a - prev_a < 10) AS is_anomaly
    FROM ext
    """,
)
def treatment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SG smooth → median reconstruction → anomaly mask/merge
    (processor.py:314-399) run over the events table as per-user CENTS
    series, driven through the real Arrow-batched kernels.

    Oracle trick: on integer inputs the poly-1 SG (edge-padded window-25
    mean) times 25 is an exact integer window sum (+ edge-repeat correction
    terms), and the min_periods=1 rolling median times 2 is an exact
    integer — so the float kernel outputs round-trip to ints that SQL can
    reproduce exactly. The Gaussian/derivative tail (g_ns/g_na) has no such
    integer form; it stays under the pytest parity gate
    (tests/test_treatment_parity.py) and the library API."""
    from pneuma_treatment_spark.operators.treatment import TreatmentConfig, treat_transcripts

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.col("cents").cast("double").alias("token_count"),
    )
    out = treat_transcripts(series, TreatmentConfig())
    return out.select(
        "conv_id",
        "turn_idx",
        F.round(F.col("sg_tokens") * 25).cast("long").alias("sg_sum25"),
        F.round(F.col("med_tokens") * 2).cast("long").alias("med2"),
        "raw_anomaly",
        "is_anomaly",
    )


# ---------------------------------------------------------------------------
# Evaluation metrics (A9/A10/A11) — int-exact formulations
# ---------------------------------------------------------------------------

@query(
    "error_metrics",
    f"""
    WITH s AS (
      SELECT user_id, {_CENTS_SQL} AS c,
             lag({_CENTS_SQL}) OVER w AS m,
             {_CENTS_SQL} - lag({_CENTS_SQL}) OVER w AS dt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n,
           CAST(sum(abs(c - m)) AS BIGINT) AS abs_err_sum,
           CAST(sum((c - m) * (c - m)) AS BIGINT) AS sq_err_sum
    FROM s WHERE m IS NOT NULL GROUP BY 1
    """,
)
def error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-vs-model error aggregates (A9: 15compare_lane_stats.py:87-128)
    with a persistence model (previous value). Int sums only — MAE/RMSE are
    single divisions/sqrt of these, done by the reader."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = F.lag("cents").over(w)
    s = e.select("user_id", F.col("cents").alias("c"), m.alias("m")).where(
        F.col("m").isNotNull()
    )
    err = F.col("c") - F.col("m")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(err)).alias("abs_err_sum"),
        F.sum(err * err).alias("sq_err_sum"),
    )


@query(
    "directional_accuracy",
    f"""
    WITH s AS (
      SELECT user_id,
             {_CENTS_SQL} - lag({_CENTS_SQL}) OVER w AS dt,
             lag({_CENTS_SQL}) OVER w - lag({_CENTS_SQL}, 2) OVER w AS dm
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS da_n,
           CAST(sum(CASE WHEN sign(dt) = sign(dm) THEN 1 ELSE 0 END) AS BIGINT) AS da_match
    FROM s WHERE dt IS NOT NULL AND dm IS NOT NULL GROUP BY 1
    """,
)
def directional_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-match counts of first differences (A10:
    15compare_lane_stats.py:131-146), persistence model."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.col("cents") - F.lag("cents").over(w)
    dm = F.lag("cents").over(w) - F.lag("cents", 2).over(w)
    s = e.select("user_id", dt.alias("dt"), dm.alias("dm")).where(
        F.col("dt").isNotNull() & F.col("dm").isNotNull()
    )
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("da_n"),
        F.sum((F.signum("dt") == F.signum("dm")).cast("int")).alias("da_match"),
    )


@query(
    "f1_report",
    """
    WITH l AS (
      SELECT CASE WHEN value < 5 THEN 'low' WHEN value < 15 THEN 'mid' ELSE 'high' END AS gt,
             CASE WHEN lag(value) OVER w IS NULL THEN NULL
                  WHEN lag(value) OVER w < 5 THEN 'low'
                  WHEN lag(value) OVER w < 15 THEN 'mid' ELSE 'high' END AS pred
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    c AS (SELECT gt, pred, count(*) AS n FROM l WHERE pred IS NOT NULL GROUP BY 1, 2),
    lab AS (SELECT DISTINCT gt AS label FROM c UNION SELECT DISTINCT pred FROM c),
    tpt AS (SELECT gt AS label, CAST(sum(n) AS BIGINT) AS tp FROM c WHERE gt = pred GROUP BY 1),
    sup AS (SELECT gt AS label, CAST(sum(n) AS BIGINT) AS support FROM c GROUP BY 1),
    prd AS (SELECT pred AS label, CAST(sum(n) AS BIGINT) AS predicted FROM c GROUP BY 1)
    SELECT lab.label,
           coalesce(tp, 0) AS tp,
           coalesce(support, 0) AS support,
           coalesce(predicted, 0) AS predicted,
           CASE WHEN coalesce(predicted, 0) > 0
                THEN CAST(coalesce(tp, 0) AS DOUBLE) / predicted ELSE 0.0 END AS precision,
           CASE WHEN coalesce(support, 0) > 0
                THEN CAST(coalesce(tp, 0) AS DOUBLE) / support ELSE 0.0 END AS recall,
           CASE WHEN (CASE WHEN coalesce(predicted, 0) > 0
                           THEN CAST(coalesce(tp, 0) AS DOUBLE) / predicted ELSE 0.0 END
                    + CASE WHEN coalesce(support, 0) > 0
                           THEN CAST(coalesce(tp, 0) AS DOUBLE) / support ELSE 0.0 END) > 0
                THEN 2 * (CAST(coalesce(tp, 0) AS DOUBLE) / predicted)
                       * (CAST(coalesce(tp, 0) AS DOUBLE) / support)
                     / ((CAST(coalesce(tp, 0) AS DOUBLE) / predicted)
                      + (CAST(coalesce(tp, 0) AS DOUBLE) / support))
                ELSE 0.0 END AS f1
    FROM lab LEFT JOIN tpt USING (label) LEFT JOIN sup USING (label)
             LEFT JOIN prd USING (label)
    """,
)
def f1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class P/R/F1 (A11: 23stateFscore.py:431-525) on threshold classes
    of value vs a persistence prediction."""
    from pneuma_treatment_spark.operators.metrics import classification_report

    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def cls(c):
        return F.when(c < 5, "low").when(c < 15, "mid").otherwise("high")

    # classify AFTER dropping null-lag rows: when() sends NULL to otherwise()
    labeled = (
        e.select(F.col("value").alias("v"), F.lag("value").over(w).alias("pv"))
        .where(F.col("pv").isNotNull())
        .select(cls(F.col("v")).alias("gt"), cls(F.col("pv")).alias("pred"))
    )
    per, _ = classification_report(labeled)
    return per


# ---------------------------------------------------------------------------
# W16 time-shifted union merge
# ---------------------------------------------------------------------------

@query(
    "merge_time_shifted",
    """
    WITH a AS (SELECT event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'),
         b AS (SELECT event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
         off AS (SELECT (SELECT max(us) FROM a) - (SELECT min(us) FROM b) + 60000000 AS o)
    SELECT event_id, us AS merged_us, 'base' AS segment FROM a
    UNION ALL
    SELECT b.event_id, b.us + off.o AS merged_us, 'shifted' AS segment FROM b, off
    """,
)
def merge_time_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment append with time offset (W16:
    11merge_time_periods_with_mask.py:36-136): segment B is shifted to start
    one minute after segment A ends, then unioned."""
    e = _load(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    a = e.where(F.col("event_type") == "view").select("event_id", "us")
    b = e.where(F.col("event_type") == "click").select("event_id", "us")
    off = a.agg(F.max("us").alias("amax")).crossJoin(b.agg(F.min("us").alias("bmin")))
    off = off.select((F.col("amax") - F.col("bmin") + 60_000_000).alias("o"))
    base = a.select("event_id", F.col("us").alias("merged_us"), F.lit("base").alias("segment"))
    shifted = b.crossJoin(F.broadcast(off)).select(
        "event_id", (F.col("us") + F.col("o")).alias("merged_us"), F.lit("shifted").alias("segment")
    )
    return base.unionByName(shifted)


# ---------------------------------------------------------------------------
# Text analysis + near-dup (oracle-backed)
# ---------------------------------------------------------------------------

# PII fixture for the language_id slot's redaction gate: (doc_id, text,
# expected n_pii, expected redacted text). DuckDB 1.0's RE2 has no
# lookbehind, so the oracle cannot transliterate the PII regex chain —
# instead the fixture's expected redactions are HAND-DERIVED (authored via
# Python `re`, which shares lookaround semantics with Java regex for these
# ASCII patterns) and frozen here; the oracle md5s the expected literal
# while Spark md5s what redact_pii actually produced. Rows cover each
# pattern alone, the CARD-before-PHONE and SSN-before-PHONE order
# interactions, lookaround guards (digit-adjacent runs stay), multi-PII
# lines, and no-PII text in each language profile.
_PII_FIXTURE: list[tuple[int, str, int, str]] = [
    (-1, "contact jane.doe+x@example.co.uk now", 1, "contact [EMAIL] now"),
    (-2, "pay with 4111 1111 1111 1111 thanks", 1, "pay with [CARD] thanks"),
    (-3, "4111-1111-1111-1111 and 123-45-6789", 2, "[CARD] and [SSN]"),
    (-4, "call (555) 123-4567 today", 1, "call [PHONE] today"),
    (-5, "intl +1 555.123.4567 line", 1, "intl [PHONE] line"),
    (-6, "server 10.0.0.1 is up", 1, "server [IPV4] is up"),
    (-7, "version 1.2.3.4.5 stays as is", 0, "version 1.2.3.4.5 stays as is"),
    (-8, "id 123-45-6789 is not a phone", 1, "id [SSN] is not a phone"),
    (-9, "ref 91234-45-67890 untouched", 0, "ref 91234-45-67890 untouched"),
    (-10, "a@b.io or c@d.org at 192.168.0.1", 3, "[EMAIL] or [EMAIL] at [IPV4]"),
    (-11, "just words and the usual stopwords here", 0, "just words and the usual stopwords here"),
    (-12, "der die das und ist nicht ein", 0, "der die das und ist nicht ein"),
    (-13, "le la les de et pour dans", 0, "le la les de et pour dans"),
]

#: split gate: weights chosen so every cumulative threshold is an exact
#: binary fraction (0.75, 0.875) — no ulp coupling between engines
_SPLIT_W = {"train": 0.75, "val": 0.125, "test": 0.125}


def _split_case_sql(key_sql: str, seed: int) -> str:
    """The DuckDB twin of split_assign: same md5-low-32-bits uniform, same
    thresholds via repr of split_thresholds' exact accumulation."""
    from pneuma_treatment_spark.operators.textstats import split_thresholds

    names, accs = split_thresholds(_SPLIT_W)
    u = (
        f"(('0x' || substr(md5({key_sql} || chr(31) || '{seed}'), 1, 8))::BIGINT"
        " / 4294967296.0)"
    )
    whens = " ".join(
        f"WHEN {u} < {acc!r} THEN '{name}'" for name, acc in zip(names[:-1], accs)
    )
    # null key → null split (split_assign's documented behavior; an
    # unguarded CASE would fall through NULL comparisons to the last split)
    return (
        f"CASE WHEN {key_sql} IS NULL THEN NULL "
        f"{whens} ELSE '{names[-1]}' END"
    )


_FX_VALUES = ",\n      ".join(
    f"({d}, '{t}', {n}, '{r}')" for d, t, n, r in _PII_FIXTURE
)


@query(
    "language_id",
    rf"""
    WITH fx(doc_id, text, n_pii, redacted) AS (VALUES
      {_FX_VALUES}
    ),
    allt AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id, text FROM fx
    ),
    t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM allt
    ),
    s AS (
      SELECT doc_id,
             len(list_filter(toks, x -> list_contains(
               ['the','a','of','to','and','in','is','for','on','with'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','mit','für','von'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(
               ['le','la','les','de','et','est','un','une','pour','dans'], x))) AS s_fr
      FROM t
    ),
    lang AS (
      SELECT doc_id,
             CASE WHEN greatest(s_en, s_de, s_fr) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_de, s_fr) THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM s
    )
    SELECT l.doc_id, l.lang_pred,
           {_split_case_sql("l.doc_id::VARCHAR", 0)} AS split,
           fx.n_pii::BIGINT AS n_pii,
           CASE WHEN fx.doc_id IS NOT NULL THEN md5(fx.redacted) END AS redacted_hash
    FROM lang l LEFT JOIN fx ON l.doc_id = fx.doc_id
    """,
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language heuristic (text-analysis op), widened in
    round 7 to hash-gate two corpus-prep operators through the same slot
    (the registry stays at the 50-row cap — VERDICT r6 item 2):

    * ``split_assign`` — the ``split`` column over EVERY doc_id (real docs
      + fixture), md5-low-32-bits uniform, fully recomputed by the oracle;
    * ``redact_pii`` — ``n_pii`` and ``md5(redacted text)`` over the
      crafted ``_PII_FIXTURE`` rows (null for real docs: RE2 lacks the
      lookbehind the patterns need, see the fixture comment).
    """
    from pneuma_treatment_spark.operators.textstats import (
        language_id,
        redact_pii,
        split_assign,
    )

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    fx = spark.createDataFrame(
        [(d_, t) for d_, t, _, _ in _PII_FIXTURE], "doc_id long, text string"
    )
    allt = d.where(F.col("text").isNotNull()).unionByName(fx)
    out = split_assign(language_id(allt), _SPLIT_W, key="doc_id", seed=0)
    pii = redact_pii(fx, out_col="red").select(
        "doc_id",
        F.col("n_pii").cast("long").alias("n_pii"),
        F.md5(F.col("red").cast("binary")).alias("redacted_hash"),
    )
    return out.join(pii, "doc_id", "left").select(
        "doc_id", "lang_pred", "split", "n_pii", "redacted_hash"
    )


@query(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(text)) AS content_hash,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS token_set_hash
    FROM documents WHERE text IS NOT NULL
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprints (text-analysis op)."""
    from pneuma_treatment_spark.operators.textstats import fingerprint

    return fingerprint(_load(spark, sf_dir, "documents"))


@query(
    "winnow_fingerprints",
    r"""
    WITH d AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    cs AS (
      SELECT doc_id,
             list_transform(range(1, len(s) + 1),
                            i -> CAST(ascii(substring(s, CAST(i AS INT), 1)) AS BIGINT)) AS c,
             len(s) AS L
      FROM d
    ),
    g AS (
      SELECT doc_id, L, c,
             CASE WHEN L >= 5 THEN
               list_transform(range(1, L - 3),
                 i -> list_reduce(c[CAST(i AS INT):CAST(i + 4 AS INT)],
                                  (a, b) -> (a * 257 + b) % 1000000007))
             END AS grams
      FROM cs
    ),
    f AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN L < 5 THEN [list_reduce(c, (a, b) -> (a * 257 + b) % 1000000007)]
                    WHEN len(grams) <= 4 THEN [list_min(grams)]
                    ELSE list_transform(range(1, len(grams) - 2),
                                        i -> list_min(grams[CAST(i AS INT):CAST(i + 3 AS INT)]))
               END) AS fps
      FROM g
    )
    SELECT doc_id, unnest(fps) AS fp FROM f
    """,
)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (Rabin-Karp char 5-grams, window-4
    minima — the MOSS scheme): one row per (doc, fingerprint), exact integer
    math mirrored in the oracle."""
    from pneuma_treatment_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_load(spark, sf_dir, "documents"))


@query(
    "ngram_jaccard_pairs",
    r"""
    WITH d AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                    range(1, len(toks) - 1),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                  ELSE [toks[1]] END AS shingles
      FROM d
    ),
    ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, inter, sz_a, sz_b,
           CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) AS jaccard
    FROM pairs WHERE CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard near-dup pairs (the verifiable dedup path;
    minhash_pairs is the approximate scale path, tested in pytest)."""
    from pneuma_treatment_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_load(spark, sf_dir, "documents"), threshold=0.2)


# ---------------------------------------------------------------------------
# Non-SQL-expressible additions (rows-only driver check; exactness covered
# by pytest against operator-level expectations)
# ---------------------------------------------------------------------------

# shared CTE chain: per-type minute rollup → slope-voting state (W11) →
# simplified labels → transition events (W12); reused by state_estimate,
# transition_events and event_match_metrics oracles
_STATE_CTES = f"""
    r AS (
      SELECT event_type AS conv_id,
             make_timestamp((({_EPOCH_SQL}//60)*60)*1000000) AS bucket_ts,
             sum({_CENTS_SQL})/100.0 AS value_sum
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT conv_id, bucket_ts, value_sum,
             lead(value_sum, 1) OVER w AS v1, lead(value_sum, 2) OVER w AS v2,
             lead(value_sum, 3) OVER w AS v3, lead(value_sum, 4) OVER w AS v4,
             lead(value_sum, 5) OVER w AS v5
      FROM r WINDOW w AS (PARTITION BY conv_id ORDER BY bucket_ts)
    ),
    sl AS (
      SELECT conv_id, bucket_ts, value_sum,
             v1 - value_sum AS s0, v2 - v1 AS s1, v3 - v2 AS s2,
             v4 - v3 AS s3, v5 - v4 AS s4
      FROM l
    ),
    v AS (
      SELECT conv_id, bucket_ts, value_sum,
             (CASE WHEN s0 < -0.05 THEN 1 ELSE 0 END + CASE WHEN s1 < -0.05 THEN 1 ELSE 0 END
            + CASE WHEN s2 < -0.05 THEN 1 ELSE 0 END + CASE WHEN s3 < -0.05 THEN 1 ELSE 0 END
            + CASE WHEN s4 < -0.05 THEN 1 ELSE 0 END) AS n_down,
             (CASE WHEN s0 > 0.05 THEN 1 ELSE 0 END + CASE WHEN s1 > 0.05 THEN 1 ELSE 0 END
            + CASE WHEN s2 > 0.05 THEN 1 ELSE 0 END + CASE WHEN s3 > 0.05 THEN 1 ELSE 0 END
            + CASE WHEN s4 > 0.05 THEN 1 ELSE 0 END) AS n_up,
             (CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN s4 IS NOT NULL THEN 1 ELSE 0 END) AS n_valid
      FROM sl
    ),
    stq AS (
      SELECT conv_id, bucket_ts, value_sum,
             CASE WHEN value_sum IS NULL THEN 0
                  WHEN value_sum < 50.0 THEN 4
                  WHEN value_sum > 500.0 THEN 0
                  WHEN n_down >= n_up AND n_down >= (n_valid - n_down - n_up) THEN 1
                  WHEN n_up >= (n_valid - n_down - n_up) THEN 3
                  ELSE 2 END AS state
      FROM v
    ),
    sim AS (
      SELECT conv_id, bucket_ts,
             CASE WHEN state = 0 THEN 'FREE' WHEN state = 4 THEN 'QUEUED'
                  ELSE 'CONGESTED' END AS simple
      FROM stq
    ),
    tr AS (
      SELECT conv_id, bucket_ts, simple,
             lag(simple) OVER (PARTITION BY conv_id ORDER BY bucket_ts) AS prev_simple
      FROM sim
    ),
    evq AS (
      SELECT conv_id, bucket_ts, prev_simple, simple,
             CASE WHEN prev_simple = 'FREE' AND simple IN ('CONGESTED','QUEUED') THEN 'TO_CONGESTION'
                  WHEN prev_simple = 'CONGESTED' AND simple = 'QUEUED' THEN 'TO_CONGESTION'
                  WHEN prev_simple = 'QUEUED' THEN 'TO_FREE_FLOW'
                  ELSE 'OTHER' END AS event_type
      FROM tr WHERE prev_simple IS NOT NULL AND prev_simple <> simple
    )
"""


@query(
    "state_estimate",
    f"WITH {_STATE_CTES} SELECT conv_id, bucket_ts, value_sum, state FROM stq",
)
def state_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Future-window slope-voting state classifier (W11) over per-type
    minute rollups."""
    from pneuma_treatment_spark.operators.state import estimate_states

    r = rollup_1m(spark, sf_dir).withColumnRenamed("event_type", "conv_id")
    return estimate_states(
        r, value_col="value_sum", low=50.0, high=500.0
    ).select("conv_id", "bucket_ts", "value_sum", "state")


@query(
    "transition_events",
    f"""WITH {_STATE_CTES}
    SELECT conv_id, bucket_ts, prev_simple, simple, event_type FROM evq""",
)
def transition_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-transition event stream (W12)."""
    from pneuma_treatment_spark.operators.state import estimate_states, transition_events

    r = rollup_1m(spark, sf_dir).withColumnRenamed("event_type", "conv_id")
    st = estimate_states(r, value_col="value_sum", low=50.0, high=500.0)
    return transition_events(st)


@query(
    "dtw_persistence",
    r"""
    WITH RECURSIVE
    s AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id, value AS v,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
             ts, event_id
      FROM events
    ),
    ser AS (
      SELECT conv_id,
             list(v ORDER BY ts, event_id) AS a,
             list(pv ORDER BY ts, event_id) FILTER (pv IS NOT NULL) AS b
      FROM s GROUP BY conv_id
    ),
    dims AS MATERIALIZED (SELECT conv_id, a, b, len(a) AS n, len(b) AS m FROM ser),
    -- banded DTW DP marched row-major (virtual column 0 included, so each
    -- row is m+1 cells); the state list w holds the last m+2 DP cells, so
    -- w[1]=D[i-1][j-1], w[2]=D[i-1][j], w[m+2]=D[i][j-1] — each new cell is
    -- ONE add of the local cost to the 3-way min, the exact float op order
    -- of the numpy kernel (operators/dtw.py:34-49)
    dp AS (
      SELECT conv_id, a, b, n, m, CAST(0 AS BIGINT) AS c,
             list_prepend('infinity'::DOUBLE,
               list_prepend(0.0, list_transform(range(1, m + 1), x -> 'infinity'::DOUBLE))) AS w
      FROM dims WHERE n > 0 AND m > 0
      UNION ALL
      SELECT conv_id, a, b, n, m, c + 1,
             list_append(w[2:],
               CASE WHEN c % (m + 1) = 0
                      OR c % (m + 1) < (c // (m + 1) + 1) - 64
                      OR c % (m + 1) > (c // (m + 1) + 1) + 64
                    THEN 'infinity'::DOUBLE
                    ELSE (a[CAST(c // (m + 1) AS INT) + 1] - b[CAST(c % (m + 1) AS INT)])
                         * (a[CAST(c // (m + 1) AS INT) + 1] - b[CAST(c % (m + 1) AS INT)])
                         + least(w[1], w[2], w[m + 2])
               END)
      FROM dp WHERE c < n * (m + 1)
    ),
    fin AS MATERIALIZED (SELECT conv_id, n, m, w[m + 2] AS dnm FROM dp WHERE c = n * (m + 1)),
    -- every DP cell value is recoverable from the retained states: computed
    -- cell (i,j) sits at linear index (i-1)*(m+1)+j = c-1 with value w[m+2]
    mat AS MATERIALIZED (SELECT conv_id, c - 1 AS cell, w[m + 2] AS val FROM dp WHERE c > 0),
    -- path backtrack (24dtwDistance.py:157-188): from (n,m) step to the
    -- min-cost predecessor, FIRST minimal of (up, left, diag) wins ties;
    -- row 0 is virtual (D[0][0]=0, else inf). Tracks the running path cell
    -- count and max interior |a[i]-b[j]| — both exact, so hash-gateable.
    bt AS (
      SELECT conv_id, a, b, n, m, n AS i, m AS j,
             CAST(0 AS BIGINT) AS cnt, 0.0::DOUBLE AS maxerr
      FROM dims WHERE n > 0 AND m > 0
      UNION ALL
      SELECT conv_id, a, b, n, m,
             CASE WHEN i = 0 THEN i
                  WHEN j = 0 THEN i - 1
                  WHEN up <= lf AND up <= dg THEN i - 1
                  WHEN lf <= dg THEN i
                  ELSE i - 1 END,
             CASE WHEN i = 0 THEN j - 1
                  WHEN j = 0 THEN j
                  WHEN up <= lf AND up <= dg THEN j
                  WHEN lf <= dg THEN j - 1
                  ELSE j - 1 END,
             cnt + 1,
             CASE WHEN i > 0 AND j > 0
                  THEN greatest(maxerr, abs(a[CAST(i AS INT)] - b[CAST(j AS INT)]))
                  ELSE maxerr END
      FROM (
        SELECT s.*,
               CASE WHEN s.i - 1 = 0 THEN (CASE WHEN s.j = 0 THEN 0.0 ELSE 'infinity'::DOUBLE END)
                    ELSE mu.val END AS up,
               ml.val AS lf,
               CASE WHEN s.i - 1 = 0 THEN (CASE WHEN s.j - 1 = 0 THEN 0.0 ELSE 'infinity'::DOUBLE END)
                    ELSE md.val END AS dg
        FROM bt s
        LEFT JOIN mat mu ON mu.conv_id = s.conv_id AND mu.cell = (s.i - 2) * (s.m + 1) + s.j
        LEFT JOIN mat ml ON ml.conv_id = s.conv_id AND ml.cell = (s.i - 1) * (s.m + 1) + s.j - 1
        LEFT JOIN mat md ON md.conv_id = s.conv_id AND md.cell = (s.i - 2) * (s.m + 1) + s.j - 1
        WHERE NOT (s.i = 0 AND s.j = 0)
      ) s
    ),
    btfin AS (
      SELECT conv_id, cnt + 1 AS path_len, maxerr FROM bt WHERE i = 0 AND j = 0
    )
    SELECT f.conv_id, CAST(n AS INT) AS n_a, CAST(m AS INT) AS n_b,
           sqrt(dnm) AS dtw, sqrt(dnm) / ((n + m) / 2.0) AS dtw_normalized,
           CAST(p.path_len AS INT) AS path_len, p.maxerr AS max_path_error
    FROM fin f JOIN btfin p USING (conv_id)
    UNION ALL
    SELECT conv_id, CAST(n AS INT), CAST(m AS INT), 'nan'::DOUBLE, 'nan'::DOUBLE,
           0, 0.0
    FROM dims WHERE n = 0 OR m = 0
    """,
)
def dtw_persistence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance + warping-path metrics (W14) between each user's value
    series and its 1-step persistence forecast. The DuckDB twin replays the
    banded DP cell-by-cell in a recursive CTE (band 64, squared-euclidean
    cost) and backtracks the path off the retained DP states — bit-identical
    float accumulation, so dtw/dtw_normalized/path_len/max_path_error all
    hash-match. avg/std path error are order-sensitive float reductions
    (numpy pairwise vs SQL sequential) and stay under pytest instead."""
    from pneuma_treatment_spark.operators.dtw import dtw_compare

    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_ts"),
        "event_id",
        F.col("value").alias("token_rate"),
    )
    model = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts").alias("bucket_ts"),
        "event_id",
        F.lag("value").over(w).alias("token_rate"),
    )
    return dtw_compare(
        base, model, band=64, with_path=True, tie_cols=("event_id",)
    ).drop("avg_path_error", "std_path_error")


def _mh_hash(expr: str, seed: int) -> str:
    return (
        f"CAST(concat('0x', substring(md5(concat({expr}, ':{seed}')), 1, 15)) AS BIGINT)"
    )


_MH_K, _MH_BANDS = 32, 8
# one md5 base hash per shingle, k integer-mix permutations (see dedup._mh_mix)
_MH_MINS = ",\n             ".join(
    f"min((1103515245 * ((h + {10007 * i}) % 1073741824) + 12345) % 1073741824) AS g{i}"
    for i in range(_MH_K)
)
_MH_BAND_SELECTS = "\n      UNION ALL\n      ".join(
    "SELECT id, {b} AS band, {h} AS bhash FROM sig".format(
        b=b,
        h=_mh_hash(
            "concat_ws(',', "
            + ", ".join(f"CAST(g{4 * b + r} AS VARCHAR)" for r in range(4))
            + ")",
            b,
        ),
    )
    for b in range(_MH_BANDS)
)


@query(
    "minhash_pairs",
    f"""
    WITH d AS (
      SELECT doc_id AS id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    shg AS (
      SELECT id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                    range(1, len(toks) - 1),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                  ELSE [toks[1]] END AS shingles
      FROM d
    ),
    ex AS MATERIALIZED (
      SELECT id, len(shingles) AS sz, unnest(shingles) AS s,
             CAST(concat('0x', substring(md5(unnest(shingles)), 1, 15)) AS BIGINT) AS h
      FROM shg),
    sig AS MATERIALIZED (
      SELECT id, {_MH_MINS}
      FROM ex GROUP BY id
    ),
    bands AS (
      {_MH_BAND_SELECTS}
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id
    ),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2, 3, 4
    )
    SELECT c.id_a, c.id_b, i.sz_a, i.sz_b,
           CAST(i.i AS DOUBLE) / (i.sz_a + i.sz_b - i.i) AS jaccard
    FROM cand c JOIN inter i USING (id_a, id_b)
    WHERE CAST(i.i AS DOUBLE) / (i.sz_a + i.sz_b - i.i) >= 0.2
    """,
)
def minhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates verified by exact Jaccard — the
    md5-seeded 60-bit hash family, so the DuckDB twin replays the signatures
    and banding exactly (xxhash64 stays the library default for speed; exact
    recall vs ngram_jaccard_pairs is pytest-checked on the default)."""
    from pneuma_treatment_spark.operators.dedup import minhash_pairs

    return minhash_pairs(
        _load(spark, sf_dir, "documents"), threshold=0.2, hash_family="md5"
    )


_SIMHASH_BITS = 60
_SIMHASH_POPS = ",\n             ".join(
    f"CAST(sum((h >> {b}) & 1) AS BIGINT) AS p{b}" for b in range(_SIMHASH_BITS)
)
_SIMHASH_SIG = "\n           + ".join(
    f"(CASE WHEN 2 * p{b} - n > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
    for b in range(_SIMHASH_BITS)
)


@query(
    "simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                                 ' ')) AS tok
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    h AS (SELECT id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
          FROM toks),
    pops AS (
      SELECT id, count(*) AS n,
             {_SIMHASH_POPS}
      FROM h GROUP BY id
    ),
    sig AS (
      SELECT id,
           {_SIMHASH_SIG} AS simhash
      FROM pops
    ),
    blocks AS (
      SELECT id, simhash, r.blk, (simhash >> (r.blk * 15)) & 32767 AS bval
      FROM sig, range(4) r(blk)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS ha, b.simhash AS hb
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bval = b.bval AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 16
    """,
)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance — the md5/60-bit variant
    so the DuckDB twin rebuilds every signature exactly (xxhash64, the
    library default for speed, has no SQL twin)."""
    from pneuma_treatment_spark.operators.dedup import md5_token_hash, simhash_near_pairs

    return simhash_near_pairs(
        _load(spark, sf_dir, "documents"),
        max_hamming=16,
        bits=_SIMHASH_BITS,
        token_hash=md5_token_hash,
    )


@query(
    "lsh_topk",
    """
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
                      unnest(embedding)::DOUBLE AS v
               FROM embeddings),
    js AS (SELECT DISTINCT j FROM e),
    planes AS (
      SELECT t1.i, js.j,
             2.0 * (((1103515245 * ((1103515245 * (7*1000003 + t1.i*10007 + js.j)
                                     + 12345) % 2147483648)
                      + 12345) % 2147483648) / 2147483648.0) - 1.0 AS p
      FROM range(8) t1(i), js
    ),
    bits AS (
      SELECT e.vec_id, pl.i, CASE WHEN sum(e.v * pl.p) > 0 THEN 1 ELSE 0 END AS bit
      FROM e JOIN planes pl USING (j) GROUP BY 1, 2
    ),
    buck AS (SELECT vec_id, CAST(sum(bit * (1::BIGINT << i)) AS BIGINT) AS b
             FROM bits GROUP BY 1),
    qb AS (SELECT b FROM buck WHERE vec_id = 0),
    cand AS (SELECT buck.vec_id FROM buck, qb WHERE buck.b = qb.b),
    q AS (SELECT unnest(embedding)::DOUBLE AS qv,
                 generate_subscripts(embedding, 1) AS i2
          FROM embeddings WHERE vec_id = 0),
    ev AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                  generate_subscripts(embedding, 1) AS i2
           FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)),
    dotp AS (SELECT ev.vec_id, sum(ev.v * q.qv) AS dot, sum(ev.v * ev.v) AS na
             FROM ev JOIN q USING (i2) GROUP BY 1),
    qn AS (SELECT sqrt(sum(qv * qv)) AS n FROM q)
    SELECT vec_id, round(dot / (sqrt(na) * qn.n), 6) AS cos_sim
    FROM dotp, qn
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors (scale path of knn_cosine;
    recall vs brute force checked in tests/test_dedup_similarity.py). The
    hyperplanes come from an integer-LCG hash, so the DuckDB twin rebuilds
    the exact planes, replays the bucketing, and hash-gates the top-k (cos
    rounded to 6 dp on both sides — unordered float sums differ in ulps)."""
    from pneuma_treatment_spark.operators.similarity import (
        lsh_topk,
        random_hyperplanes,
        with_lsh_bucket,
    )

    emb = _load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    planes = random_hyperplanes(len(qvec), n_planes=8, seed=7)
    bucketed = with_lsh_bucket(emb, planes)
    return lsh_topk(bucketed, [float(v) for v in qvec], planes, k=10)


@query(
    "ivf_topk",
    # The Lloyd iterations are UNROLLED relational CTEs (generated below):
    # a recursive CTE carrying the centroid list was nondeterministic under
    # DuckDB's internal multithreading (same clist, different projections —
    # an engine race, not float ordering), and all arithmetic is exact
    # integer sums so accumulation order cannot matter either.
    """
    WITH
    samp AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4096),
    pts AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS j,
             unnest(embedding)::DOUBLE AS v,
             CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS qv
      FROM samp),
    c0 AS MATERIALIZED (
      SELECT i.cell, p.j, p.v AS c,
             CAST(floor(p.v * 1000000 + 0.5) AS BIGINT) AS qc
      FROM (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
            FROM samp ORDER BY vec_id LIMIT 8) i
      JOIN pts p USING (vec_id)),
__LLOYD__
    cents AS MATERIALIZED (SELECT cell, j, c, qc FROM c10),
    alle AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS j,
             unnest(embedding)::DOUBLE AS v,
             CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS qv
      FROM embeddings),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT d2s.vec_id, d2s.cell,
               row_number() OVER (PARTITION BY d2s.vec_id ORDER BY d2s.d2, d2s.cell) AS rn
        FROM (SELECT e.vec_id, c.cell, sum((e.qv - c.qc) * (e.qv - c.qc)) AS d2
              FROM alle e JOIN cents c USING (j) GROUP BY 1, 2) d2s
      ) WHERE rn = 1),
    q AS (SELECT j, alle.v AS qv, alle.qv AS qqv FROM alle WHERE vec_id = 0),
    qcells AS (
      SELECT cell FROM (
        SELECT c.cell, sum((q.qqv - c.qc) * (q.qqv - c.qc)) AS d2
        FROM q JOIN cents c USING (j) GROUP BY 1
      ) ORDER BY d2, cell LIMIT 3),
    cand AS (SELECT vec_id FROM assign WHERE cell IN (SELECT cell FROM qcells)),
    dotp AS (
      SELECT e.vec_id, sum(e.v * q.qv) AS dot, sum(e.v * e.v) AS na
      FROM alle e JOIN q USING (j)
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1),
    qn AS (SELECT sqrt(sum(qv * qv)) AS n FROM q),
    top AS (
      SELECT vec_id, round(dot / (sqrt(na) * qn.n), 6) AS cos_sim
      FROM dotp, qn
      ORDER BY cos_sim DESC, vec_id LIMIT 10)
    SELECT vec_id, cos_sim FROM top WHERE vec_id <> 0
    """.replace("__LLOYD__", "\n".join(
        f"""    a{t} AS (
      SELECT p.vec_id, c.cell,
             sum((p.qv - c.qc) * (p.qv - c.qc)) AS d2
      FROM pts p JOIN c{t} c USING (j) GROUP BY 1, 2),
    b{t} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM a{t}) WHERE rn = 1),
    m{t} AS (
      SELECT b.cell, p.j,
             CAST(CAST(sum(p.qv) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0 AS mu
      FROM b{t} b JOIN pts p USING (vec_id) GROUP BY 1, 2),
    c{t + 1} AS MATERIALIZED (
      SELECT c.cell, c.j, coalesce(m.mu, c.c) AS c,
             CAST(floor(coalesce(m.mu, c.c) * 1000000 + 0.5) AS BIGINT) AS qc
      FROM c{t} c LEFT JOIN m{t} m ON m.cell = c.cell AND m.j = c.j),"""
        for t in range(10)
    )),
)
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-pruned approximate nearest neighbors (the second ANN scale
    path next to lsh_topk; recall vs brute force in
    tests/test_dedup_similarity). The codebook construction is fully
    replayable (ordered sample, first-k init, 6-dp-rounded Lloyd means), so
    the DuckDB twin retrains the same centroids and hash-gates the top-k."""
    from pneuma_treatment_spark.operators.similarity import (
        ivf_topk,
        ivf_train_centroids,
        with_ivf_cell,
    )

    emb = _load(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    cents = ivf_train_centroids(emb, n_cells=8, seed=7)
    celled = with_ivf_cell(emb, cents)
    return ivf_topk(celled, cents, qvec, k=10, nprobe=3).where(F.col("vec_id") != 0)




@query(
    "event_match_metrics",
    f"""
    WITH RECURSIVE {_STATE_CTES},
    g2 AS (SELECT conv_id, event_type, epoch_us(bucket_ts)//1000000 AS t FROM evq),
    u AS (
      SELECT conv_id, event_type, t, 'gt' AS side FROM g2
      UNION ALL
      SELECT conv_id, event_type, t + 180, 'pred' FROM g2
    ),
    grp AS MATERIALIZED (
      SELECT conv_id, event_type,
             coalesce(list(t ORDER BY t) FILTER (side = 'gt'), []) AS gt,
             coalesce(list(t ORDER BY t) FILTER (side = 'pred'), []) AS pr
      FROM u GROUP BY 1, 2
    ),
    -- greedy nearest-match with stealing (metrics.match_events kernel):
    -- march predictions in time order; `dist` holds each gt's current best
    -- |delay| (inf = unmatched). A pred may take gt only if strictly closer
    -- than gt's current match; ties between gts resolve to the earliest
    -- (list_sort on (d, gi)). A stolen pred is never re-matched — exactly
    -- the kernel's dict-overwrite semantics.
    stm AS (
      SELECT conv_id, event_type, gt, pr, CAST(0 AS BIGINT) AS pi,
             list_transform(range(1, len(gt) + 1),
               x -> {{'d': 'infinity'::DOUBLE, 's': 0.0::DOUBLE}}) AS dist
      FROM grp
      UNION ALL
      SELECT conv_id, event_type, gt, pr, pi + 1,
             CASE WHEN best IS NULL THEN dist
                  ELSE dist[:CAST(best.gi AS INT) - 1]
                       || [{{'d': best.d, 's': best.s}}]
                       || dist[CAST(best.gi AS INT) + 1:]
             END
      FROM (
        SELECT conv_id, event_type, gt, pr, pi, dist,
               (list_sort(list_filter(
                  list_transform(range(1, len(gt) + 1),
                    gi -> {{'d': CAST(abs(pr[CAST(pi AS INT) + 1]
                                          - gt[CAST(gi AS INT)]) AS DOUBLE),
                            'gi': CAST(gi AS BIGINT),
                            's': CAST(pr[CAST(pi AS INT) + 1]
                                      - gt[CAST(gi AS INT)] AS DOUBLE)}}),
                  x -> x.d <= 600 AND x.d < dist[CAST(x.gi AS INT)].d)))[1] AS best
        FROM stm WHERE pi < len(pr)
      )
    ),
    fin AS (SELECT * FROM stm WHERE pi = len(pr)),
    res AS (
      SELECT conv_id, event_type,
             len(gt) AS ng, len(pr) AS np,
             list_transform(list_filter(dist, x -> x.d < 'infinity'::DOUBLE),
                            x -> x.d) AS ds,
             list_transform(list_filter(dist, x -> x.d < 'infinity'::DOUBLE),
                            x -> x.s) AS ss
      FROM fin
    )
    SELECT conv_id, event_type,
           CAST(len(ds) AS INT) AS tp,
           CAST(ng - len(ds) AS INT) AS fn,
           CAST(np - len(ds) AS INT) AS fp,
           CASE WHEN len(ds) > 0 THEN list_aggregate(ds, 'avg') END AS mean_abs_delay,
           CASE WHEN len(ds) > 0 THEN list_aggregate(ds, 'median') END AS median_abs_delay,
           CASE WHEN len(ds) > 0 THEN list_aggregate(ss, 'avg') END AS mean_delay,
           CASE WHEN len(ds) > 0 THEN list_aggregate(ss, 'median') END AS median_delay,
           CASE WHEN len(ds) > 0 THEN
             sqrt(len(ds) * CAST(list_aggregate(list_transform(ss, x -> x * x), 'sum') AS BIGINT)
                  - CAST(list_aggregate(ss, 'sum') AS BIGINT)
                    * CAST(list_aggregate(ss, 'sum') AS BIGINT)) / len(ds)
           END AS std_delay
    FROM res
    """,
)
def event_match_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy nearest event matching TP/FN/FP + delay distribution (W13/A12,
    23stateFscore.py:229-361). The DuckDB twin replays the
    greedy-with-stealing loop one prediction per recursive iteration, so
    even the sequential matcher — and its signed-delay mean/median/std —
    is hash-gated."""
    from pneuma_treatment_spark.operators.metrics import match_events
    from pneuma_treatment_spark.operators.state import estimate_states, transition_events

    r = rollup_1m(spark, sf_dir).withColumnRenamed("event_type", "conv_id")
    st = estimate_states(r, value_col="value_sum", low=50.0, high=500.0)
    ev = transition_events(st)
    # model events: same pipeline on the 3-minute-shifted series
    shifted = st.withColumn("bucket_ts", F.col("bucket_ts") + F.expr("INTERVAL 3 MINUTES"))
    ev2 = transition_events(shifted)
    return match_events(ev, ev2, max_delay=600)


@query(
    "gap_fill_events",
    f"""
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
             epoch_us(ts) AS us,
             CASE WHEN event_id % 7 <> 0 THEN value END AS v,
             event_type AS role
      FROM events
    ),
    f AS (
      SELECT *,
             last_value(v IGNORE NULLS) OVER wf AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN turn_idx END IGNORE NULLS) OVER wf AS pi,
             first_value(v IGNORE NULLS) OVER wb AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN turn_idx END IGNORE NULLS) OVER wb AS ni
      FROM s
      WINDOW wf AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT conv_id, turn_idx, FALSE AS is_filled, role,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv)
                        * (CAST(turn_idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
           END AS token_count,
           us AS ts_us
    FROM f
    """,
)
def gap_fill_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap-fill (W10/W15) over per-user event sequences, on RAW
    double values (gap_fill_oracle is the cents variant with real index
    gaps; this one pins the float lerp path bit-for-bit — same op sequence
    on both engines)."""
    from pneuma_treatment_spark.operators.gapfill import gap_fill

    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.col("ts"),
        F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("token_count"),
        F.col("event_type").alias("role"),
    )
    out = gap_fill(series, lerp_cols=("token_count",), lerp_ts_cols=("ts",))
    return out.select(
        "conv_id",
        "turn_idx",
        "is_filled",
        "role",
        "token_count",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


_MM_LCG = (
    "((1103515245 * ((1103515245 * ({k}) + 12345) % 2147483648) + 12345) % 2147483648)"
)


@query(
    "multimodal_manifest",
    f"""
    WITH ids AS (SELECT CAST(r.i AS BIGINT) AS media_id FROM range(64) r(i)),
    parms AS (
      SELECT media_id,
             CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             64 + {_MM_LCG.format(k="5*1000003 + media_id*7")} % (2048 - 64) AS len,
             16 + {_MM_LCG.format(k="5*1000003 + media_id*7 + 1")} % (512 - 16) AS w,
             16 + {_MM_LCG.format(k="5*1000003 + media_id*7 + 2")} % (512 - 16) AS h,
             100 + {_MM_LCG.format(k="5*1000003 + media_id*7 + 3")} % (60000 - 100) AS dur
      FROM ids
    ),
    blocks AS (
      SELECT media_id, len, unnest(range(0, (len + 15) // 16)) AS b FROM parms
    ),
    pay AS (
      SELECT media_id,
             unhex(substring(
               string_agg(md5(concat('5:', CAST(media_id AS VARCHAR), ':',
                                     CAST(b AS VARCHAR))), '' ORDER BY b),
               1, CAST(2 * any_value(len) AS INT))) AS payload
      FROM blocks GROUP BY media_id
    )
    SELECT p.media_id, p.kind,
           CASE p.kind WHEN 'image' THEN 'image/png' WHEN 'audio' THEN 'audio/wav'
                ELSE 'video/mp4' END AS mime,
           CASE WHEN p.kind <> 'audio' THEN CAST(p.w AS INT) END AS width,
           CASE WHEN p.kind <> 'audio' THEN CAST(p.h AS INT) END AS height,
           CASE WHEN p.kind <> 'image' THEN CAST(p.dur AS INT) END AS duration_ms,
           CAST(octet_length(y.payload) AS INT) AS n_bytes,
           hex(y.payload) AS payload_hex
    FROM parms p JOIN pay y USING (media_id)
    """,
)
def multimodal_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing, hash-gated: the synthetic media payloads
    are md5-chain bytes and all metadata draws are integer LCGs, so the
    DuckDB twin regenerates the exact bytes and checks that binary columns
    survive the Arrow/mapInPandas path bit-for-bit (the full payload is
    compared as hex — DuckDB 1.0 has no blob sha)."""
    from pneuma_treatment_spark.operators.multimodal import synth_media

    m = synth_media(spark, n=64, seed=5)
    return m.select(
        "media_id",
        "kind",
        "mime",
        "width",
        "height",
        "duration_ms",
        F.length("payload").cast("int").alias("n_bytes"),
        F.hex("payload").alias("payload_hex"),
    )


@query(
    "multimodal_features",
    f"""
    WITH ids AS (SELECT CAST(r.i AS BIGINT) AS media_id FROM range(64) r(i)),
    parms AS (
      SELECT media_id,
             CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             64 + {_MM_LCG.format(k="5*1000003 + media_id*7")} % (2048 - 64) AS len
      FROM ids
    ),
    blocks AS (
      SELECT media_id, len, unnest(range(0, (len + 15) // 16)) AS b FROM parms
    ),
    pay AS (
      SELECT media_id, any_value(len) AS len,
             substring(
               string_agg(md5(concat('5:', CAST(media_id AS VARCHAR), ':',
                                     CAST(b AS VARCHAR))), '' ORDER BY b),
               1, CAST(2 * any_value(len) AS INT)) AS hexp
      FROM blocks GROUP BY media_id
    ),
    byts AS (
      SELECT media_id, hexp, len, unnest(range(0, len)) AS i FROM pay
    ),
    bv AS (
      SELECT media_id, i,
             ('0x' || substring(hexp, CAST(2 * i + 1 AS INT), 2))::BIGINT AS v
      FROM byts
    ),
    hist AS (SELECT media_id, v // 8 AS d, count(*) AS c FROM bv GROUP BY 1, 2),
    digs AS (
      SELECT media_id,
             CAST(sum((d + 1) * c) AS BIGINT) AS hist_checksum,
             CAST(sum(c * c) AS BIGINT) AS norm_sq
      FROM hist GROUP BY 1
    ),
    psum AS (
      SELECT media_id,
             CAST(sum((i + 1) * v) % 2305843009213693951 AS BIGINT) AS pos_sum
      FROM bv GROUP BY 1
    )
    SELECT 'digest' AS src, p.media_id, p.kind, CAST(y.len AS INT) AS n_bytes,
           32 AS feature_dim, d.hist_checksum, d.norm_sq, s.pos_sum,
           CAST(NULL AS BIGINT) AS decoded_a,
           CAST(NULL AS BIGINT) AS decoded_b,
           CAST(NULL AS BIGINT) AS decoded_c
    FROM parms p JOIN pay y USING (media_id) JOIN digs d USING (media_id)
    JOIN psum s USING (media_id)
    UNION ALL
    SELECT 'decode' AS src, media_id, kind,
           CAST(CASE kind
             WHEN 'image' THEN 9 + length(CAST(iw AS VARCHAR))
                  + length(CAST(ih AS VARCHAR)) + 3 * iw * ih
             WHEN 'audio' THEN 44 + 2 * afr
             ELSE 108 + dlen + dlen % 2 END AS INT) AS n_bytes,
           16 AS feature_dim,
           CAST(NULL AS BIGINT) AS hist_checksum,
           CAST(NULL AS BIGINT) AS norm_sq,
           CAST(NULL AS BIGINT) AS pos_sum,
           CAST(CASE kind WHEN 'image' THEN iw WHEN 'audio' THEN afr // 8
                ELSE vw END AS BIGINT) AS decoded_a,
           CAST(CASE kind WHEN 'image' THEN ih WHEN 'audio' THEN 8000
                ELSE vh END AS BIGINT) AS decoded_b,
           CAST(CASE kind WHEN 'image' THEN 255 WHEN 'audio' THEN 1
                ELSE vfr * mspf END AS BIGINT) AS decoded_c
    FROM (
      SELECT media_id,
             CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             4 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 1")} % 36 AS iw,
             4 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 2")} % 36 AS ih,
             8 * (13 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 3")} % 237) AS afr,
             16 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 1")} % 624 AS vw,
             16 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 2")} % 464 AS vh,
             10 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 4")} % 490 AS vfr,
             10 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 5")} % 90 AS mspf,
             64 + {_MM_LCG.format(k="7*1000003 + media_id*7 + 6")} % 960 AS dlen
      FROM (SELECT CAST(r.i AS BIGINT) AS media_id FROM range(60) r(i))
    )
    """,
)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal feature extraction, hash-gated end-to-end,
    in two blocks sharing one schema (``src`` disambiguates):

    - ``digest`` (64 rows): synth md5-chain media → Arrow-batched
      mapInPandas + exact-integer payload digests. The oracle regenerates
      the payload bytes in SQL and recomputes the digests — the
      folded-histogram checksum and squared norm pin the feature path (the
      stub feature IS the normalized folded histogram), and the
      position-weighted byte sum pins payload content AND order.
    - ``decode`` (60 rows): GENUINELY PARSEABLE PPM/WAV/AVI payloads whose
      header facts are integer LCG draws (synth_real_media) →
      stdlib_decoder → the decoded width/height/duration/rate land in the
      feature head slots. The oracle re-derives the planted values from
      the LCG formulas alone, so a hash match proves the decoder recovered
      them from the actual bytes — real decode for all three kinds
      (VERDICT r5 item 2 closed the ``video`` kind with a RIFF/AVI header
      parse, multimodal.py:_parse_avi)."""
    from pneuma_treatment_spark.operators.multimodal import (
        extract_features,
        stdlib_decoder,
        synth_media,
        synth_real_media,
    )

    null_long = F.lit(None).cast("long")
    dig = extract_features(synth_media(spark, n=64)).select(
        F.lit("digest").alias("src"),
        "media_id",
        "kind",
        "n_bytes",
        F.size("feature").alias("feature_dim"),
        "hist_checksum",
        "norm_sq",
        "pos_sum",
        null_long.alias("decoded_a"),
        null_long.alias("decoded_b"),
        null_long.alias("decoded_c"),
    )
    dec = extract_features(
        synth_real_media(spark, n=60, seed=7), dim=16, decoder=stdlib_decoder
    ).select(
        F.lit("decode").alias("src"),
        "media_id",
        "kind",
        "n_bytes",
        F.size("feature").alias("feature_dim"),
        null_long.alias("hist_checksum"),
        null_long.alias("norm_sq"),
        null_long.alias("pos_sum"),
        F.element_at("feature", 1).cast("long").alias("decoded_a"),
        F.element_at("feature", 2).cast("long").alias("decoded_b"),
        F.element_at("feature", 3).cast("long").alias("decoded_c"),
    )
    return dig.unionByName(dec)


@query(
    "chunk_roundtrip",
    f"""
    WITH r AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             make_timestamp((({_EPOCH_SQL}//60)*60)*1000000) AS bucket_ts,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT conv_id, '1m' AS tier, 'cents_sum' AS metric, bucket_ts,
           CAST(cents_sum AS DOUBLE) AS value
    FROM r
    UNION ALL
    SELECT conv_id, '1m' AS tier, 'n_events' AS metric, bucket_ts,
           CAST(n_events AS DOUBLE) AS value
    FROM r
    """,
)
def chunk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla chunk codec under the hash gate: build a per-user 1-minute
    rollup slice, encode it to delta-of-delta + XOR chunks (one sorted Arrow
    stream per task), decode the chunks back to points, and return the points.
    The oracle is the rollup slice computed directly — the roundtrip must be
    the identity, the same exact-recovery contract the reference applies to
    its rebuilt series (processor.py:373-380). Values are exact-integer
    partials stored as doubles (the compression-friendly form chunks.py
    documents), so the float comparison is bit-exact."""
    from pneuma_treatment_spark.compression.chunks import read_chunks, write_chunks

    e = _events(spark, sf_dir)
    bucket = F.timestamp_seconds(F.col("epoch_s") - F.col("epoch_s") % 60)
    r = (
        e.groupBy(
            F.col("user_id").cast("string").alias("conv_id"),
            bucket.alias("bucket_ts"),
        )
        .agg(
            F.sum("cents").cast("double").alias("cents_sum"),
            F.count(F.lit(1)).cast("double").alias("n_events"),
        )
        .withColumn("tier", F.lit("1m"))
    )
    pts = read_chunks(write_chunks(r, metrics=("cents_sum", "n_events")))
    return pts.select("conv_id", "tier", "metric", "bucket_ts", "value")


# ---------------------------------------------------------------------------
# Oracle-backed gap-fill, anomaly run-merge, salted agg
# ---------------------------------------------------------------------------

@query(
    "gap_fill_oracle",
    f"""
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS turn_idx,
             epoch_us(ts) AS us,
             CASE WHEN event_id % 7 <> 0 THEN {_CENTS_SQL} END AS v,
             event_type AS role, event_id
      FROM events
    ),
    sp AS (SELECT * FROM s WHERE event_id % 11 <> 3),
    grid AS (
      SELECT conv_id, unnest(range(min(turn_idx), max(turn_idx) + 1)) AS turn_idx
      FROM sp GROUP BY conv_id
    ),
    j AS (
      SELECT g.conv_id, g.turn_idx, sp.us, sp.v, sp.role,
             sp.turn_idx IS NULL AS is_filled
      FROM grid g LEFT JOIN sp ON g.conv_id = sp.conv_id AND g.turn_idx = sp.turn_idx
    ),
    f AS (
      SELECT *,
             last_value(role IGNORE NULLS) OVER wf AS f_role,
             first_value(role IGNORE NULLS) OVER wb AS b_role,
             last_value(v IGNORE NULLS) OVER wf AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN turn_idx END IGNORE NULLS) OVER wf AS pi,
             first_value(v IGNORE NULLS) OVER wb AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN turn_idx END IGNORE NULLS) OVER wb AS ni,
             last_value(us IGNORE NULLS) OVER wf AS pus,
             last_value(CASE WHEN us IS NOT NULL THEN turn_idx END IGNORE NULLS) OVER wf AS pui,
             first_value(us IGNORE NULLS) OVER wb AS nus,
             first_value(CASE WHEN us IS NOT NULL THEN turn_idx END IGNORE NULLS) OVER wb AS nui
      FROM j
      WINDOW wf AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT conv_id, turn_idx, is_filled,
           coalesce(f_role, b_role) AS role,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
                WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
                ELSE CAST(pv AS DOUBLE)
                   + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                     * (CAST(turn_idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE))
           END AS token_count,
           CAST(floor(
             CASE WHEN us IS NOT NULL THEN CAST(us AS DOUBLE)
                  WHEN pus IS NULL THEN CAST(nus AS DOUBLE)
                  WHEN nus IS NULL THEN CAST(pus AS DOUBLE)
                  ELSE CAST(pus AS DOUBLE)
                     + (CAST(nus AS DOUBLE) - CAST(pus AS DOUBLE))
                       * (CAST(turn_idx - pui AS DOUBLE) / CAST(nui - pui AS DOUBLE))
             END + 0.5) AS BIGINT) AS ts_us
    FROM f
    """,
)
def gap_fill_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship gap-fill kernel (W10/W15) under the driver's SQL oracle:
    dense grid + ffill(role) + lerp(value, ts), per-user event series with
    every 7th value nulled. The DuckDB twin mirrors the exact window
    algebra, so values must match bit-for-bit."""
    from pneuma_treatment_spark.operators.gapfill import gap_fill

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.col("ts"),
        F.when(F.col("event_id") % 7 != 0, F.col("cents")).alias("token_count"),
        F.col("event_type").alias("role"),
        "event_id",
    ).where(F.col("event_id") % 11 != 3)  # real turn_idx gaps → densify inserts rows
    out = gap_fill(series, lerp_cols=("token_count",), lerp_ts_cols=("ts",))
    return out.select(
        "conv_id",
        "turn_idx",
        "is_filled",
        "role",
        "token_count",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


@query(
    "anomaly_run_merge",
    f"""
    WITH s AS (
      SELECT event_id, user_id, ts, {_CENTS_SQL} AS c,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
      FROM events
    ),
    med AS (
      SELECT *, median(c) OVER (PARTITION BY user_id ORDER BY i
                                ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS m
      FROM s
    ),
    raw AS (SELECT *, abs(c - m) >= 800 AS raw_anomaly FROM med),
    ext AS (
      SELECT *,
             max(CASE WHEN raw_anomaly THEN i END) OVER
               (PARTITION BY user_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_a,
             min(CASE WHEN raw_anomaly THEN i END) OVER
               (PARTITION BY user_id ORDER BY i
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_a
      FROM raw
    )
    SELECT event_id, raw_anomaly,
           raw_anomaly OR (prev_a IS NOT NULL AND next_a IS NOT NULL
                           AND next_a - prev_a < 10) AS is_anomaly
    FROM ext
    """,
)
def anomaly_run_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance mask + run merge (W8: processor.py:302-304,366-371,382-399)
    in pure SQL: rolling-median reconstruction, |x−recon| ≥ tol mask, and
    runs whose anomaly-index difference is < 10 merge (clean gaps ≤ 8)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_id", "user_id", "ts", F.col("cents").alias("c"),
        (F.row_number().over(w) - 1).alias("i"),
    )
    wi = Window.partitionBy("user_id").orderBy("i")
    med = s.withColumn(
        "m", F.expr("percentile(c, 0.5)").over(wi.rowsBetween(-2, 2))
    )
    raw = med.withColumn("raw_anomaly", F.abs(F.col("c") - F.col("m")) >= 800)
    anom_i = F.when(F.col("raw_anomaly"), F.col("i"))
    ext = raw.withColumn(
        "prev_a",
        F.max(anom_i).over(wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).withColumn(
        "next_a",
        F.min(anom_i).over(
            Window.partitionBy("user_id")
            .orderBy(F.col("i").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return ext.select(
        "event_id",
        "raw_anomaly",
        (
            F.col("raw_anomaly")
            | (
                F.col("prev_a").isNotNull()
                & F.col("next_a").isNotNull()
                & ((F.col("next_a") - F.col("prev_a")) < 10)
            )
        ).alias("is_anomaly"),
    )


@query(
    "salted_agg_user",
    f"""
    SELECT user_id, count(*) AS n, CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum,
           max({_CENTS_SQL}) AS cents_max
    FROM events GROUP BY 1
    """,
)
def salted_agg_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (north_rule skew handling): the oracle is
    the PLAIN group-by — exactness of the two-phase path is the assertion."""
    from pneuma_treatment_spark.operators.skew import salted_agg

    e = _events(spark, sf_dir)
    return salted_agg(
        e,
        ["user_id"],
        {"n": ("*", "count"), "cents_sum": ("cents", "sum"), "cents_max": ("cents", "max")},
        salt_buckets=16,
    )


_SINK_SEQ = iter(range(1, 1 << 30))
_LAST_SINK: dict[str, str] = {}


def _fresh_sink(spark: SparkSession, key: str) -> str:
    """Unique memory-sink table per run, dropping the PREVIOUS run's table
    for the same query so repeated invocations hold at most one result copy
    in driver memory."""
    prev = _LAST_SINK.get(key)
    if prev is not None:
        try:
            spark.catalog.dropTempView(prev)
        except Exception:
            pass
    name = f"{key}_sink_{next(_SINK_SEQ)}"
    _LAST_SINK[key] = name
    return name


@query(
    "rollup_stream",
    f"""
    WITH wm AS (
      SELECT (epoch_us(max(ts)) // 1000) * 1000 - 600000000 AS wm_us FROM events
    ),
    lm AS (
      SELECT min(ts) + INTERVAL 1 HOUR AS late_mark FROM events
    ),
    r AS (
      SELECT event_type,
             make_timestamp((({_EPOCH_SQL}//60)*60)*1000000) AS bucket_ts,
             count(*) AS n_events,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS value_cents,
             CAST(count(*) FILTER (WHERE ts < (SELECT late_mark FROM lm))
                  AS BIGINT) AS late_dropped
      FROM events GROUP BY 1, 2
    )
    SELECT r.event_type, r.bucket_ts, r.n_events, r.value_cents, r.late_dropped
    FROM r, wm WHERE epoch_us(r.bucket_ts) + 60000000 <= wm.wm_us
    """,
)
def rollup_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked rollup INCLUDING late-data drop semantics under
    the hash gate. The events table is staged as three mtime-ordered parquet
    files → three micro-batches (FileStreamSource orders by mtime):

    1. on-time events below the midpoint timestamp,
    2. the remaining on-time events (all >= midpoint, so nothing in this
       batch sits below the watermark batch 1 established),
    3. a LATE replay of every event from the table's first hour — by then
       the watermark (ms-floored max on-time ts − 10 min) is ~a month past
       them, so watermarking must drop every one.

    Append mode emits a bucket once the watermark passes its window end; the
    emitted counts must therefore be the ON-TIME-only batch rollup in the
    closed-window region (the reference's completeness-trim analog,
    ``src/09lane_node.py:303-318``, is the batch twin of exactly this cut).
    ``late_dropped`` is derived FROM the stream output — staged rows per
    bucket minus emitted ``n_events`` — so if the stream failed to drop a
    late row, both ``n_events`` and ``late_dropped`` shift and the oracle
    hash catches it. The oracle counts first-hour rows per closed bucket as
    its ``late_dropped``."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pneuma_treatment_spark.streaming.rollup_stream import (
        run_to_memory_sink,
        stream_tumbling_rollup,
    )

    # same UTC pin as _load (the driver may hand a non-UTC session and this
    # query bypasses _load for its readStream source)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = ev_raw.schema["ts"].dataType.simpleString()  # NTZ in testdata

    def _ts_lit(s):
        # literal of the SAME flavor as the column (NTZ vs LTZ), routed
        # through a STRING rendered AND parsed in the (UTC-pinned) session
        # timezone. Never F.lit(datetime): PySpark converts that via the
        # driver OS timezone (time.mktime), shifting thresholds on any
        # non-UTC machine; and never driver-side datetime arithmetic on
        # collected LTZ values, which arrive OS-tz-naive.
        return F.lit(s).cast(ts_type)

    b = (
        ev_raw.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
        .select(
            (F.col("mn") + (F.col("mx") - F.col("mn")) / 2)
            .cast("string").alias("t_mid"),
            (F.col("mn") + F.expr("INTERVAL 1 HOUR"))
            .cast("string").alias("late_mark"),
        )
        .first()
    )
    t_mid, late_mark = b["t_mid"], b["late_mark"]

    # stage via distributed writes + a driver-side FILE move (no row ever
    # crosses to the driver); staggered mtimes pin the micro-batch order
    d = tempfile.mkdtemp(prefix="pneuma_rollup_stream_")
    now = time.time()
    parts = [
        ("000_early", ev_raw.where(F.col("ts") < _ts_lit(t_mid))),
        ("001_later", ev_raw.where(F.col("ts") >= _ts_lit(t_mid))),
        ("002_late", ev_raw.where(F.col("ts") < _ts_lit(late_mark))),
    ]
    for i, (nm, df) in enumerate(parts):
        stage_dir = f"{d}/__stage_{nm}"
        df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        dst = f"{d}/{nm}.parquet"
        shutil.move(glob.glob(f"{stage_dir}/part-*.parquet")[0], dst)
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.utime(dst, (now - 100 + 10 * i, now - 100 + 10 * i))

    stream = (
        spark.readStream.schema(ev_raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    src = stream.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "cents", _cents(F.col("value"))
    )
    out = stream_tumbling_rollup(
        src,
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("value_cents")],
        watermark="10 minutes",
    )
    name = _fresh_sink(spark, "rollup_stream")
    try:
        run_to_memory_sink(out, name=name)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # staged-per-bucket counts (batch twin of the union the stream saw);
    # late_dropped = staged − emitted, i.e. real evidence from the sink
    ev = _load(spark, sf_dir, "events")
    staged = ev.unionByName(ev.where(F.col("ts") < _ts_lit(late_mark)))
    # cast NTZ→LTZ (lossless under the UTC pin) so bucket_ts joins against
    # the sink's window-start timestamps
    staged_counts = staged.groupBy(
        "event_type",
        F.date_trunc("minute", F.col("ts").cast("timestamp")).alias("bucket_ts"),
    ).agg(F.count(F.lit(1)).alias("staged_n"))
    return (
        spark.table(name)
        .join(staged_counts, ["event_type", "bucket_ts"])
        .select(
            "event_type",
            "bucket_ts",
            "n_events",
            "value_cents",
            (F.col("staged_n") - F.col("n_events")).alias("late_dropped"),
        )
    )


@query(
    "dedup_stream",
    r"""
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
    FROM documents WHERE text IS NOT NULL
    GROUP BY 2
    ORDER BY 1 LIMIT 10000
    """,
)
def dedup_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the hash gate: stage the documents table
    as two parquet files — originals first, then a full duplicate copy with
    shifted ids and +60 s timestamps — with staggered mtimes so
    FileStreamSource delivers them as two ordered micro-batches (it orders
    by file mtime, ties arbitrary), then run the real
    dropDuplicatesWithinWatermark path. Every duplicate arrives inside the
    30-minute horizon, so keep-FIRST must retain exactly the original rows
    — the oracle is one (min doc_id, hash) row per distinct normalized
    content, capped (both sides) at the 10k lowest representatives so the
    fixture's staging collect is O(1) at any sf (the streamed path itself
    stays distributed)."""
    import os
    import tempfile
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pneuma_treatment_spark.streaming.dedup_stream import dedup_stream
    from pneuma_treatment_spark.streaming.rollup_stream import run_to_memory_sink

    from pyspark.sql import Window as _W

    from pneuma_treatment_spark.operators.dedup import normalize_text

    # Keep ONE original per normalized-content hash (min doc_id): the table
    # may already contain duplicate texts (sf0.1 does), and which
    # same-batch duplicate dropDuplicatesWithinWatermark keeps is
    # partition-order-dependent — pre-deduplicating the originals makes the
    # fixture deterministic at any scale, and the oracle groups by hash.
    d0 = _load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    h = F.md5(normalize_text(F.col("text")).cast("binary"))
    rn = F.row_number().over(_W.partitionBy(h).orderBy("doc_id"))
    # O(1) driver bound at any sf: the staged fixture only needs SOME
    # deterministic distinct-content subset, so cap the collect at the
    # 10k lowest doc_ids (deterministic — min doc_id per hash, then
    # ordered); the oracle below applies the identical cap.
    docs = (
        d0.withColumn("__rn", rn)
        .where(F.col("__rn") == 1)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(10000)
        .toPandas()
    )
    base = docs.assign(ts=pd.Timestamp("2024-01-01 00:00:00"))
    dup = docs.assign(
        doc_id=docs.doc_id + 10_000_000, ts=pd.Timestamp("2024-01-01 00:01:00")
    )
    d = tempfile.mkdtemp(prefix="pneuma_dedup_stream_")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), f"{d}/000_base.parquet")
    pq.write_table(pa.Table.from_pandas(dup, preserve_index=False), f"{d}/001_dup.parquet")
    now = time.time()
    os.utime(f"{d}/000_base.parquet", (now - 100, now - 100))
    os.utime(f"{d}/001_dup.parquet", (now - 50, now - 50))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = dedup_stream(stream, text_col="text", ts_col="ts", watermark="30 minutes")
    name = _fresh_sink(spark, "dedup_stream")
    try:
        run_to_memory_sink(out, name=name)
    finally:
        # the memory-sink table owns the rows; the staged files are disposable
        import shutil

        shutil.rmtree(d, ignore_errors=True)
    return spark.table(name).select("doc_id", "text_hash")


@query(
    "sessionize",
    f"""
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT user_id, us,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM s
    )
    SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us,
           count(*) AS n_turns
    FROM i GROUP BY 1, 2
    """,
)
def sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-island sessionization (the batch twin of the stateful streaming
    operator in streaming/sessionize.py; SURVEY 'sessionization' pattern)."""
    from pneuma_treatment_spark.streaming.sessionize import sessionize_batch

    e = _load(spark, sf_dir, "events")
    out = sessionize_batch(
        e.select(F.col("user_id").cast("string").alias("conv_id"), "ts", "event_id"),
        gap_sec=600,
        tie_cols=("event_id",),
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("session_id").cast("long").alias("session_id"),
        "start_us",
        "end_us",
        F.col("n_turns").cast("long").alias("n_turns"),
    )


@query(
    "cosine_dup_pairs",
    """
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
                      unnest(embedding)::DOUBLE AS v
               FROM embeddings),
    js AS (SELECT DISTINCT j FROM e),
    planes AS (
      SELECT t1.k, js.j,
             2.0 * (((1103515245 * ((1103515245 * (7*1000003 + t1.k*10007 + js.j)
                                     + 12345) % 2147483648)
                      + 12345) % 2147483648) / 2147483648.0) - 1.0 AS p
      FROM range(16) t1(k), js
    ),
    bits AS (
      SELECT e.vec_id, pl.k,
             CASE WHEN sum(e.v * pl.p) > 0 THEN 1 ELSE 0 END AS bit
      FROM e JOIN planes pl USING (j) GROUP BY 1, 2
    ),
    buck AS (
      SELECT vec_id, k // 4 AS band,
             CAST(sum(bit * (1::BIGINT << (k % 4))) AS BIGINT) AS bucket
      FROM bits GROUP BY 1, 2
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buck a JOIN buck b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    vv AS (
      SELECT p.id_a, p.id_b,
             sum(ea.v * eb.v) AS dot, sum(ea.v * ea.v) AS na, sum(eb.v * eb.v) AS nb
      FROM pairs p
      JOIN e ea ON ea.vec_id = p.id_a
      JOIN e eb ON eb.vec_id = p.id_b AND eb.j = ea.j
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
    FROM vv WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.4
    """,
)
def cosine_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the vector member of the dedup
    family): banded sign-LSH candidates (4 bands × 4 planes, OR-amplified —
    no all-pairs join) verified by exact cosine ≥ 0.4 (this synth table has
    no true near-dups; the threshold sits where the candidate set is
    non-trivial). LCG planes → the oracle replays candidates exactly.
    ``bucket_method="hof"`` pins the sequential column-expression fold the
    SQL twin reproduces bit-for-bit (the Arrow-matmul scale default uses
    BLAS fold order — same values away from zero, but the hash gate demands
    the identical fold)."""
    from pneuma_treatment_spark.operators.similarity import cosine_band_pairs

    return cosine_band_pairs(
        _load(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_bands=4,
        band_planes=4,
        seed=7,
        bucket_method="hof",
    )
