"""Stage builds shared by the batch pipeline (``jobs/rollup_job.py``) and the
late-data backfill (:mod:`.backfill`).

Each function maps its upstream frames to one pipeline table's rows. The
pipeline feeds them the stage tables it read back; the backfill feeds them
the affected conversations' recomputed frames. One definition keeps a
backfilled table bit-equal to a rebuild (``tests/test_backfill.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pneuma_treatment_spark.compression.chunks import DEFAULT_METRICS, write_chunks
from pneuma_treatment_spark.operators.gapfill import gap_fill
from pneuma_treatment_spark.operators.treatment import (
    TreatmentConfig,
    conv_anomaly_flags,
    raw_anomaly_col,
    treat_transcripts,
)


def build_filled(raw: DataFrame, cfg: TreatmentConfig, chunked: bool) -> DataFrame:
    """Gap-fill the NARROW series and join the payload columns back once.

    text/tool would otherwise ride through the densify join plus two window
    sorts (~3x the bytes on this bandwidth-bound stage); the join-back moves
    them exactly once, and filled rows get null payloads either way. When
    ``chunked``, ``raw_anomaly`` rides along for free — the SQL mask reuses
    this stage's conv-partitioned windows — so the treated stage's
    ``conv_has_anomaly`` flags are a plain scan+aggregate instead of a
    full-frame window exchange (see ``treat_transcripts``). Only the
    chunked treatment consumes the flags; the non-chunked path computes
    ``conv_has_anomaly`` in-kernel.
    """
    filled = gap_fill(
        raw.select("conv_id", "turn_idx", "role", "ts", "token_count", "is_tool_call"),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    ).join(
        raw.select("conv_id", "turn_idx", "text", "tool"),
        ["conv_id", "turn_idx"],
        "left",
    )
    if chunked:
        filled = filled.withColumn("raw_anomaly", raw_anomaly_col(cfg))
    return filled


def build_treated(filled: DataFrame, cfg: TreatmentConfig, chunked: bool) -> DataFrame:
    """Treat the narrow metric series of a ``filled`` frame.

    The kernels never read text/tool/role — shuttling payload or meta
    columns through the treatment's ~4 shuffle passes multiplies the
    stage's bytes (measured: dropping ``role`` cuts more shuffle bytes than
    dictionary-encoding it — BENCH/BASELINE.md bytes table); they live in
    ``filled`` and join back exactly on (conv_id, turn_idx) when needed.
    ``ts`` stays for the p_day write clustering; ``is_filled`` is
    load-bearing semantics. The conv flags are a map-side-combined
    aggregate over the stored ``raw_anomaly`` column, broadcast into the
    chunked stage-D join; a filled table without that column (written
    before it existed) falls back to ``treat_transcripts``' slim pass.
    """
    narrow = filled.select("conv_id", "turn_idx", "ts", "token_count", "is_filled")
    flags = (
        conv_anomaly_flags(filled.select("conv_id", "raw_anomaly"))
        if chunked and "raw_anomaly" in filled.columns
        else None
    )
    return treat_transcripts(narrow, cfg, chunked=chunked, flags=flags)


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
