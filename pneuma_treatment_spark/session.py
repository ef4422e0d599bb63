"""SparkSession factory with scale-oriented defaults.

The sandbox runs a single JVM (``local[N]``); on a real cluster the same
configs apply unchanged — AQE re-plans shuffles at runtime (coalescing small
partitions, splitting skewed ones), Arrow moves pandas-UDF batches
zero-copy-ish, and UTC pins timestamp semantics so results are byte-stable
across driver timezones (and comparable to the DuckDB oracle).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# Shuffle partitions: ~cores locally; a real 1000-executor cluster would set
# this to 2-3x total cores (AQE coalesces the excess at runtime).
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pneuma_treatment_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{_DEFAULT_CPUS}]")
    shuffle_partitions = shuffle_partitions or _DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # this is what keeps a few hot conv_id/bucket keys from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Default 64m advisory lets AQE coalesce window/join stages below the
        # core count on mid-size inputs (measured 2.7x slowdown of the
        # gap-fill stage at local[32]); 8m keeps small-stage coalescing
        # without starving parallelism.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all Python-stage transport (the treatment, chunk and DTW
        # kernels run over mapInArrow batches; row-at-a-time Python never
        # runs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # UTC everywhere: stable semantics + DuckDB-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Whole-stage-codegen class cache: the default 100 entries thrash on
        # any workload that cycles through more than ~two dozen distinct
        # query shapes (the pipeline + query suite generates several hundred
        # codegen units per pass), so every pass re-pays Janino compilation
        # — measured ~2x on repeated-query walls (simhash 3.6s -> 2.7s,
        # asof_next_type 1.2s -> 0.9s once the cache holds). Static conf, so
        # it must land at session build; ~KBs per cached class keeps 2000
        # well under the driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pre-fault the heap at JVM start: this VM lazily faults guest pages,
        # and first-touch of large allocations showed multi-second stalls
        # mid-query; AlwaysPreTouch moves that cost into (untimed) startup.
        .config("spark.driver.extraJavaOptions", "-XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        # Direct-commit (v2) skips the serial driver-side rename pass of the
        # default committer — with hundreds of partition dirs per stage this
        # is seconds of fixed (non-scaling) time per write.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Let joins reuse a child partitioning on a SUBSET of the join keys:
        # the (conv_id, turn_idx) payload join-back then reuses the gap-fill
        # windows' hash(conv_id) exchange instead of reshuffling the narrow
        # side — measured -32 B/turn on the `filled` stage (-15%), wall
        # neutral-to-positive (BENCH/BASELINE.md bytes table). Rows of one
        # conv_id stay co-located, so join results are unchanged.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _count_plan_nodes(jplan, cap: int) -> int:
    """Count logical-plan tree nodes via py4j traversal, stopping at
    ``cap`` (the caller only needs shallow-vs-deep, not an exact count).
    Walks ``innerChildren`` too — a scalar/IN-subquery hides a whole plan
    there, and a scan + deep-subquery filter must count as DEEP (the probe
    this gates would physical-plan the subquery as well)."""
    n = 1
    for seq_name in ("children", "innerChildren"):
        # innerChildren may hold non-TreeNode entries; py4j raises at CALL
        # time (hasattr is always true on JavaObject proxies), so treat any
        # traversal failure as a leaf
        try:
            seq = getattr(jplan, seq_name)()
            size = seq.size()
        except Exception:
            continue
        for i in range(size):
            if n >= cap:
                return n
            n += _count_plan_nodes(seq.apply(i), cap - n)
    return n


#: analyzed plans with more nodes than this skip the fan_out probe: a bare
#: scan plus a handful of projections/filters/subquery-aliases stays under
#: it; anything post-join/post-shuffle is already wide
_PROBE_MAX_PLAN_NODES = 8


def fan_out(df):
    """Round-robin repartition a DataFrame UP to the session's parallelism —
    only when it has fewer partitions than that.

    Compact parquet (one row group) scans as ONE task no matter what
    ``maxPartitionBytes`` says, so any map-heavy operator downstream
    (explode+hash signatures, per-vector HOF math, rolling-hash
    fingerprints) runs serial without this. The guard makes it a no-op on
    real cluster-scale inputs (thousands of splits already) — the exchange
    is only added exactly when it is cheap (input smaller than one split).

    The partition probe (``df.rdd``) forces full physical planning of the
    accumulated plan on the driver (~3 s measured on a deep ANN tree), so
    it only runs when the ANALYZED logical plan is shallow (counted by tree
    traversal, not plan rendering) — a scan plus a few projections/filters,
    the single-split case this helper exists for. Deep plans are
    post-shuffle and already wide; they pass through untouched, with a
    debug log so a serial stage stays diagnosable.

    Probe results are memoized per (application, analyzed-plan semantic
    hash): repeated queries over the same table re-pay physical planning
    otherwise (~0.12 s warm / ~2.4 s on first use, measured). The cache
    holds only the probed PARTITION COUNT — plan metadata, never data —
    and is bounded. If files are added under a scanned path mid-session
    the cached count can go stale; the consequence is only a skipped (or
    redundant) repartition, the same staleness class as Spark's own
    file-listing cache.
    """
    nodes = _count_plan_nodes(
        df._jdf.queryExecution().analyzed(), _PROBE_MAX_PLAN_NODES + 1
    )
    if nodes > _PROBE_MAX_PLAN_NODES:
        logging.getLogger(__name__).debug(
            "fan_out: plan has >%d logical nodes — skipping the partition probe",
            _PROBE_MAX_PLAN_NODES,
        )
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    key = None
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            int(df._jdf.queryExecution().analyzed().semanticHash()),
        )
    except Exception:
        pass  # probe uncached (e.g. a mocked frame) — correctness unaffected
    n = _PROBE_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_PROBE_CACHE) >= 512:
                _PROBE_CACHE.clear()
            _PROBE_CACHE[key] = n
    if n >= target:
        return df
    return df.repartition(target)


#: (applicationId, analyzed-plan semanticHash) -> probed partition count
_PROBE_CACHE: dict[tuple, int] = {}
