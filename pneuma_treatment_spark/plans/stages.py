"""Stage builds shared by the batch pipeline (``jobs/rollup_job.py``) and the
late-data backfill (:mod:`.backfill`).

Each function maps its upstream frames to one pipeline table's rows. The
pipeline feeds them the stage tables it read back; the backfill feeds them
the affected conversations' recomputed frames. One definition keeps a
backfilled table bit-equal to a rebuild (``tests/test_backfill.py``).
Each table's layout is declared here once too (:data:`LAYOUTS`): the stage
write and the backfill merge both read it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pneuma_treatment_spark.compression.chunks import DEFAULT_METRICS, write_chunks
from pneuma_treatment_spark.io.tableio import DAY_BUCKET
from pneuma_treatment_spark.operators.gapfill import gap_fill
from pneuma_treatment_spark.operators.treatment import (
    TreatmentConfig,
    conv_anomaly_flags,
    raw_anomaly_col,
    treat_transcripts,
)

#: every pipeline table in stage order -> (ts column, partition columns),
#: Iceberg's partition spec: ``p_day`` is the date of the ts column,
#: ``p_bucket`` the conversation bucket. The coarse tiers are day-only:
#: <=24 resp. <=1 rows per conversation-day would make day x bucket dirs
#: mostly tiny files. A chunk's ``p_day`` is its window's start; no chunk
#: crosses a window, so retention drops whole (tier, p_day) dirs
#: (``chunk_ttl_sql_predicate``).
LAYOUTS = {
    "ingest": ("ts", DAY_BUCKET),
    "filled": ("ts", DAY_BUCKET),
    "treated": ("ts", DAY_BUCKET),
    "rollup_1m": ("bucket_ts", DAY_BUCKET),
    "rollup_1h": ("bucket_ts", ("p_day",)),
    "rollup_1d": ("bucket_ts", ("p_day",)),
    "chunks": ("start_ts", ("tier", "p_day")),
}


def _null_key() -> Column:
    return F.col("conv_id").isNull() | F.col("turn_idx").isNull()


def malformed_row() -> Column:
    """True (never null) on a transcript row that breaks one of
    :func:`check_transcripts`' per-row rules: a null key, a null ts or a
    negative turn_idx. A batch input with such a row is rejected; the
    streaming tier cannot reject an arrival file, so it drops these rows
    from every sink instead and the dead-letter capture counts them
    (:mod:`..streaming.rollup_stream`)."""
    return _null_key() | F.col("ts").isNull() | (F.col("turn_idx") < 0)


def check_transcripts(df: DataFrame, what: str) -> int:
    """Return the row count of raw transcripts, or raise a ``ValueError``
    naming ``what``, the first rule broken and its row count. A null or
    duplicate (conv_id, turn_idx) key is lost or doubled by the key joins,
    a null ts has no partition, and a negative turn_idx falls outside every
    treatment chunk. One group-by on the key gives per-key row counts; an
    ``Observation`` folds the five totals over the grouped rows during a
    ``noop`` write (a distinct count would plan an Expand and a second
    exchange)."""
    key_null = _null_key()
    n = F.col("n")
    obs = Observation()
    df.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("ts").isNull(), 1)).alias("null_ts"),
    ).observe(
        obs,
        F.sum(n).alias("rows"),
        F.sum(F.when(key_null, n)).alias("null key"),
        F.sum(F.when(~key_null, n - 1)).alias("duplicate key"),
        F.sum("null_ts").alias("null ts"),
        F.sum(F.when(F.col("turn_idx") < 0, n)).alias("negative turn_idx"),
    ).write.format("noop").mode("overwrite").save()
    chk = {k: v or 0 for k, v in obs.get.items()}
    for rule in ("null key", "duplicate key", "null ts", "negative turn_idx"):
        if chk[rule]:
            raise ValueError(
                f"{what}: {rule} in {chk[rule]} of {chk['rows']} rows — "
                "fix or drop those rows first"
            )
    return chk["rows"]


def build_filled(raw: DataFrame, cfg: TreatmentConfig) -> DataFrame:
    """Gap-fill the NARROW series and join the payload columns back once.

    text/tool would otherwise ride through the densify join plus two window
    sorts (~3x the bytes on this bandwidth-bound stage); the join-back moves
    them exactly once, and filled rows get null payloads either way.
    ``raw_anomaly`` rides along for free — the SQL mask reuses this stage's
    conv-partitioned windows — so the treated stage's ``conv_has_anomaly``
    flags are a plain scan+aggregate (see :func:`build_treated`).
    """
    return gap_fill(
        raw.select("conv_id", "turn_idx", "role", "ts", "token_count", "is_tool_call"),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    ).join(
        raw.select("conv_id", "turn_idx", "text", "tool"),
        ["conv_id", "turn_idx"],
        "left",
    ).withColumn("raw_anomaly", raw_anomaly_col(cfg))


def build_treated(filled: DataFrame, cfg: TreatmentConfig) -> DataFrame:
    """Treat the narrow metric series of a ``filled`` frame.

    The kernel never reads text/tool/role — shuttling payload or meta
    columns through the treatment's shuffle multiplies the stage's bytes
    (measured: dropping ``role`` cuts more shuffle bytes than
    dictionary-encoding it — BENCH/BASELINE.md bytes table); they live in
    ``filled`` and join back exactly on (conv_id, turn_idx) when needed.
    ``ts`` stays for the p_day write clustering; ``is_filled`` is
    load-bearing semantics. The conv flags — needed by conversations
    longer than a chunk — are a map-side-combined aggregate over the
    ``raw_anomaly`` column :func:`build_filled` stored, broadcast into the
    treatment's one pass.
    """
    narrow = filled.select("conv_id", "turn_idx", "ts", "token_count", "is_filled")
    flags = conv_anomaly_flags(filled.select("conv_id", "raw_anomaly"))
    return treat_transcripts(narrow, cfg, flags=flags)


def build_chunks(
    m1: DataFrame, h1: DataFrame, d1: DataFrame, window_days: dict[str, int] | None
) -> DataFrame:
    """Gorilla-chunk the three tiers' INT partials.

    Rates re-derive exactly on read (``compression/chunks.points_with_rates``):
    full-entropy rate doubles barely XOR-compress while integer-valued
    doubles halve.
    """
    cols = ["conv_id", "tier", "bucket_ts", *DEFAULT_METRICS]
    return write_chunks(
        m1.select(cols).unionByName(h1.select(cols)).unionByName(d1.select(cols)),
        window_days=window_days,
    )
