"""Late-data backfill: conversation-scoped incremental recompute, merged
back with partition-scoped rewrites.

north_rule context: at 10^12 turns, a batch of late or corrected turns
(arriving past the streaming watermark, or a data-quality fix) cannot
trigger a pipeline rebuild — that is a full-table rewrite of every stage.
Every engine operator is per-conversation (gap-fill windows, treatment
kernels, tier rollups, chunk encoding all partition by ``conv_id``;
cross-tier exactness is integer-sum cascading, ``rollup.py``), so the
minimal exact recompute unit is the *conversation*: re-run the pipeline
for only the conversations the delta touches, then splice the results
into each table, rewriting only the partitions those conversations live
in. This is the Iceberg copy-on-write ``MERGE INTO`` shape — TableIO's
dynamic partition overwrite replaces exactly the partitions present in
the written frame (``TableIO.write``), and
:meth:`TableIO.drop_partitions` covers the one case dynamic overwrite
cannot express (a partition whose last row moved away).

Cost model at scale (what makes this 100 TB-viable):

* recompute is O(sum of affected conversations' turns) — independent of
  table size;
* the merge reads only affected partitions: bucket-pruned where the
  layout carries ``p_bucket`` (derivable from the affected conv_ids —
  k/N of the table for k affected buckets), and partition-pruned to the
  affected (day, bucket) set for the keep-side scan; on real Iceberg the
  same predicate is metadata-pruned;
* the rewrite touches only affected partitions (dynamic overwrite), so
  write amplification is bounded by the affected conversations'
  partition footprint, not the table.

Semantics: the delta is an UPSERT keyed on ``(conv_id, turn_idx)`` — an
existing key is replaced (text/ts/role corrections; a ``ts`` change may
move the row across day partitions), a new key is inserted (late
turns). Whole-conversation DELETION (the compliance shape: a user
erasure request must remove every derived row too) is
:func:`delete_conversations` — the same partition-scoped merge with an
empty recompute side. Re-running the same delta is idempotent, which is
also the crash-recovery story: a backfill killed between table merges is
healed by re-running it (each per-table merge is independently
idempotent).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pneuma_treatment_spark.io.tableio import TableIO, bucket_col
from pneuma_treatment_spark.operators.rollup import (
    rollup_from_tier,
    rollup_raw,
    with_turn_metrics,
)
from pneuma_treatment_spark.operators.treatment import TreatmentConfig
from pneuma_treatment_spark.plans.lineage import (
    manifest_schema,
    partition_counts,
    read_stage,
    write_partition_counts,
)
from pneuma_treatment_spark.plans.stages import build_chunks, build_filled, build_treated

#: the raw-transcript delta schema (input_hint shape) — extra columns are
#: dropped so dead-letter sink dirs (which carry a batch_id partition level)
#: feed straight into --backfill-table
_DELTA_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

#: OR-of-ANDs partition predicates stay pushdown-able up to this many
#: partitions; beyond it the plan-size (Catalyst literal) tax outweighs the
#: scan pruning and a broadcast semi-join takes over (bucket pruning still
#: applies on bucketed layouts either way).
_MAX_LITERAL_PARTS = 64


def _affected_buckets(affected: DataFrame, n_buckets: int) -> list[int]:
    rows = (
        affected.select(bucket_col(n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(r["b"] for r in rows)


def _parts_filter(
    df: DataFrame, pcols: list[str], parts: list[tuple], spark: SparkSession
) -> DataFrame:
    """Restrict ``df`` to the given partition-value tuples."""
    if not parts:
        return df.where(F.lit(False))
    if len(parts) <= _MAX_LITERAL_PARTS:
        pred = F.lit(False)
        for vals in parts:
            pred = pred | functools.reduce(
                lambda a, b: a & b,
                [F.col(c) == F.lit(v) for c, v in zip(pcols, vals)],
            )
        return df.where(pred)
    pdf = spark.createDataFrame(parts, schema=df.select(*pcols).schema)
    return df.join(F.broadcast(pdf), pcols, "left_semi")


def merge_conv_scoped(
    io: TableIO,
    table: str,
    new_rows: DataFrame,
    affected: DataFrame,
    *,
    ts_col: str = "ts",
    key: str = "conv_id",
) -> dict:
    """Replace ``affected`` conversations' rows in ``table`` with
    ``new_rows``, rewriting only the partitions either side touches.

    The Iceberg ``MERGE INTO`` (copy-on-write) analog: keep-side rows of
    the affected partitions are rewritten next to the recomputed rows via
    dynamic partition overwrite; partitions whose last row moved away are
    dropped explicitly (dynamic overwrite can only replace partitions
    present in the written frame). Unaffected partitions are not read,
    not written, not touched.
    """
    spark = io.spark
    pcols = io._partition_dirs(table)
    old = read_stage(io, table)

    nr = new_rows
    if "p_day" in pcols and "p_day" not in nr.columns:
        nr = nr.withColumn("p_day", F.to_date(F.col(ts_col)))
    if "p_bucket" in pcols and "p_bucket" not in nr.columns:
        nr = nr.withColumn("p_bucket", bucket_col(io.n_buckets, key))
    nr = nr.persist()

    if not pcols:
        # layout without partition dirs: no partition-scoped path exists —
        # fall back to a full anti-join rewrite (still conv-exact)
        keep = old.join(affected, key, "left_anti")
        out = keep.unionByName(nr.select(*old.columns))
        removed = old.count() - keep.count()
        added = nr.count()
        io._guard_rewrite(table, "backfill-rewrite")
        io._rewrite_swap(out, table, [])
        nr.unpersist()
        return {
            "removed": removed, "added": added, "parts_rewritten": None,
            "stale_dropped": 0, "aff_days": set(), "full_rewrite": True,
        }

    pruned = old
    if "p_bucket" in pcols:
        pruned = old.where(
            F.col("p_bucket").isin(_affected_buckets(affected, io.n_buckets))
        )
    old_aff = pruned.join(affected, key, "left_semi")

    # affected partitions = partitions of the affected convs' OLD rows
    # (they must lose those rows even where the conv no longer has any)
    # ∪ partitions of the recomputed rows. Only partition VALUES cross to
    # the driver — bounded metadata, the same thing Iceberg's planner holds.
    # The removed/added row counts ride the same two jobs as the partition
    # discovery (the ops wall is dominated by fixed per-job overhead at
    # small deltas — BENCH/run_backfill.py measures it).
    old_parts = old_aff.groupBy(*pcols).agg(F.count(F.lit(1)).alias("__n")).collect()
    new_parts = nr.groupBy(*pcols).agg(F.count(F.lit(1)).alias("__n")).collect()
    removed = sum(r["__n"] for r in old_parts)
    added = sum(r["__n"] for r in new_parts)
    aff_parts = list(
        {tuple(r[c] for c in pcols) for r in old_parts}
        | {tuple(r[c] for c in pcols) for r in new_parts}
    )

    keep = _parts_filter(pruned, pcols, aff_parts, spark).join(
        affected, key, "left_anti"
    )
    out = keep.unionByName(nr.select(*old.columns))
    # Partitions that lose their last row never appear in the written frame,
    # so dynamic overwrite leaves their old files in place — they must be
    # dropped explicitly. Collect the surviving-partition set from the
    # frame BEFORE the write: afterwards `keep`'s captured file index
    # points at files the overwrite just replaced.
    present = {tuple(r) for r in out.select(*pcols).distinct().collect()}
    io.write(out, table, partition_cols=pcols)  # dynamic overwrite: aff parts only
    stale = [p for p in aff_parts if p not in present]
    if stale:
        io.drop_partitions(table, stale, pcols)

    nr.unpersist()
    day_i = pcols.index("p_day") if "p_day" in pcols else None
    return {
        "removed": removed,
        "added": added,
        "parts_rewritten": len(aff_parts),
        "stale_dropped": len(stale),
        "aff_days": {p[day_i] for p in aff_parts} if day_i is not None else set(),
        "full_rewrite": False,
    }


def _update_lineage(io: TableIO, name: str, stats: dict) -> None:
    """Keep the stage's lineage contract green after a backfill: splice
    recounted affected days into the per-partition counts table and adjust
    the manifest total (``verify_partition_lineage`` recounts
    distributed and cross-checks both)."""
    mpath = Path(io.root) / "_manifest" / f"{name}.json"
    if not mpath.exists():
        return
    m = json.loads(mpath.read_text())
    m["rows"] = int(m["rows"]) - stats["removed"] + stats["added"]
    mdir = Path(io.root) / "_manifest"
    ppath = mdir / f"{name}_partitions"
    legacy_aside = Path(str(ppath) + ".__old__")
    if not ppath.exists() and legacy_aside.exists():
        # heal a crash from a pre-r7 build (old aside naming)
        shutil.move(str(legacy_aside), str(ppath))
    _heal_asides(mdir, f".aside.{name}_partitions")
    days = sorted(stats["aff_days"])
    if ppath.exists() and days:
        recount = partition_counts(
            io.read(name, schema=manifest_schema(m)).where(F.col("p_day").isin(days))
        )
        old = io.spark.read.schema(recount.schema).parquet(str(ppath))
        newc = old.where(~F.col("p_day").isin(days)).unionByName(recount)
        tmp = str(mdir / f".rewrite.{ppath.name}")
        n_parts = write_partition_counts(newc, tmp)
        # swap via rename-aside, never delete-before-replace: a crash at
        # any point leaves either the old or the new table restorable
        # (_heal_asides above), so the documented re-run-the-delta
        # recovery actually recovers
        _swap_dir(ppath, tmp)
        m["n_partitions"] = n_parts
    m["backfilled_at"] = time.time()
    # crash-atomic: a kill mid-write must never leave truncated JSON (the
    # documented recovery — re-run the delta — would then die at json.loads)
    tmp_m = mpath.with_suffix(".json.tmp")
    tmp_m.write_text(json.dumps(m, indent=2))
    os.replace(tmp_m, mpath)


def _swap_dir(orig: Path, tmp: str) -> None:
    """Replace directory ``orig`` with ``tmp`` via rename-aside: a crash at
    any point leaves either the old or the new contents restorable
    (:func:`_heal_asides`), never a half-deleted dir. The aside name is
    DOT-PREFIXED so it is invisible both to Spark's file listing and to
    any ``batch_id=*``-style glob — a visible aside would let readers
    resurrect the pre-swap contents (the erasure-undo bug class)."""
    aside = orig.parent / f".aside.{orig.name}"
    shutil.rmtree(aside, ignore_errors=True)
    shutil.move(str(orig), str(aside))
    shutil.move(tmp, str(orig))
    shutil.rmtree(aside, ignore_errors=True)


def _heal_asides(root: Path, pattern: str = ".aside.*") -> None:
    """Recover from a crash inside :func:`_swap_dir`: an aside whose
    original is missing moves back; one whose original exists (crash after
    the forward move) is stale and is dropped. Callers that run
    CONCURRENTLY over one directory (the parallel per-table lineage
    updates) must pass a ``pattern`` scoped to their own name — a global
    heal would resurrect a sibling thread's mid-swap aside."""
    for aside in root.glob(pattern):
        orig = aside.parent / aside.name[len(".aside."):]
        if not orig.exists():
            shutil.move(str(aside), str(orig))
        else:
            shutil.rmtree(str(aside), ignore_errors=True)


def _manifest_config(workdir: str, stage: str) -> dict:
    """The raw config dict a stage's manifest recorded ({} when the
    manifest or the config predates recording)."""
    mp = Path(workdir) / "_manifest" / f"{stage}.json"
    if not mp.exists():
        return {}
    return json.loads(mp.read_text()).get("config") or {}


def _adopt_recorded_buckets(rec_cfg: dict, n_buckets: int | None) -> int:
    """Adopt the manifest-recorded bucket count, erroring on contradiction
    (ADVICE r6: a wrong count prunes the wrong p_bucket set — silent row
    duplication / missed removals). A workdir whose manifests predate
    bucket recording is a LOUD error when no explicit count is given:
    guessing a default here is exactly the silent-wrong-bucket-set failure
    the adoption exists to prevent."""
    rec_nb = rec_cfg.get("n_buckets")
    if n_buckets is None:
        if rec_nb is None:
            raise ValueError(
                "the table manifests record no bucket count (pre-recording "
                "build) — pass --buckets with the value the tables were "
                "written with; a guessed default would prune the wrong "
                "p_bucket set"
            )
        return int(rec_nb)
    if rec_nb is not None and int(rec_nb) != n_buckets:
        raise ValueError(
            f"n_buckets={n_buckets} contradicts the bucket count recorded in "
            f"the filled manifest ({rec_nb}) — pruning with the wrong bucket "
            "set would leave affected conversations' old rows in place "
            "(silent duplication); omit --buckets to adopt the recorded value"
        )
    return n_buckets


def backfill_pipeline(
    spark: SparkSession,
    workdir: str,
    delta: DataFrame,
    cfg: TreatmentConfig | None = None,
    chunked: bool | None = None,
    n_buckets: int | None = None,
) -> dict:
    """Apply a late/corrected-turn delta through every pipeline table.

    ``delta``: raw transcript rows ``(conv_id, turn_idx, role, text, tool,
    ts)`` — upsert keyed on (conv_id, turn_idx); extra columns (e.g. a
    dead-letter sink's ``batch_id`` partition level) are dropped. ``chunked=
    None`` infers the treatment mode from the existing ``filled`` table's
    layout; ``cfg=None`` adopts the treatment config recorded in the
    ``filled`` manifest (an explicit ``cfg`` that contradicts the recorded
    one is a loud error — recomputing affected conversations under different
    parameters would silently mix treatment semantics within one table).
    ``n_buckets`` and the chunk window map follow the same adopt-or-error
    rule (ADVICE r6): a wrong bucket count would prune the wrong p_bucket
    set and silently DUPLICATE affected conversations' old rows, and a
    wrong window map would mix chunk layouts under one
    ``chunk_ttl_sql_predicate``. Returns per-table merge stats. Assumes a
    single-shard workdir (sharded deployments backfill through the shard
    that owns the conversations; the CLI rejects ``--shard-count > 1``).
    """
    rec_cfg = _manifest_config(workdir, "filled")
    recorded = rec_cfg.get("treatment")
    if recorded is not None:
        # workdirs written before the Python stages became one Arrow stream
        # per task record their hash-group count; it set execution
        # granularity only, never the treated values
        recorded = {k: v for k, v in recorded.items() if k != "group_buckets"}
    if cfg is None:
        # pre-config-recording manifests fall back to defaults (documented)
        cfg = TreatmentConfig(**recorded) if recorded else TreatmentConfig()
    elif recorded is not None and cfg.__dict__ != recorded:
        raise ValueError(
            "cfg contradicts the treatment config recorded in the filled "
            f"manifest: {cfg.__dict__} != {recorded}"
        )
    n_buckets = _adopt_recorded_buckets(rec_cfg, n_buckets)
    # chunk window map: adopt what the chunks table was written with (a
    # default-map re-encode of a custom-windowed table would break the
    # chunk_ttl_sql_predicate window/predicate match)
    rec_windows = _manifest_config(workdir, "chunks").get("chunk_window_days")
    chunk_windows = (
        {str(k): int(v) for k, v in rec_windows.items()} if rec_windows else None
    )
    missing = [c for c in _DELTA_COLS if c not in delta.columns]
    if missing:
        raise ValueError(f"backfill delta is missing columns: {missing}")
    io = TableIO(spark, workdir, n_buckets=n_buckets)
    delta = with_turn_metrics(delta.select(*_DELTA_COLS))
    # Loud contract on the upsert key: a duplicate (conv_id, turn_idx) in
    # the delta would survive the anti-join and insert BOTH rows — silent
    # duplication through every downstream table. Null keys would vanish
    # from the joins instead of erroring. One counting job checks both.
    chk = delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("conv_id", "turn_idx").alias("d"),
        F.count(F.when(F.col("conv_id").isNull() | F.col("turn_idx").isNull(), 1)).alias("nulls"),
    ).first()
    if chk["nulls"]:
        raise ValueError(f"backfill delta has {chk['nulls']} rows with null (conv_id, turn_idx)")
    if chk["n"] != chk["d"]:
        raise ValueError(
            f"backfill delta has {chk['n'] - chk['d']} duplicate (conv_id, turn_idx) keys "
            "— resolve to one row per key before applying"
        )
    affected = delta.select("conv_id").distinct().persist()
    if chk["n"] == 0:
        affected.unpersist()
        return {"tables": {}, "affected_convs": 0}

    filled_cols = read_stage(io, "filled").columns
    if chunked is None:
        # build_filled writes raw_anomaly exactly when chunked — the table
        # layout records the mode
        chunked = "raw_anomaly" in filled_cols
    elif chunked != ("raw_anomaly" in filled_cols):
        raise ValueError(
            "chunked flag contradicts the existing filled table layout "
            f"(raw_anomaly {'present' if not chunked else 'absent'})"
        )

    # --- new raw rows for the affected conversations (upsert) -------------
    old_ing = read_stage(io, "ingest")
    pruned = old_ing.where(
        F.col("p_bucket").isin(_affected_buckets(affected, io.n_buckets))
    )
    raw_aff = (
        pruned.drop("p_day", "p_bucket")
        .join(affected, "conv_id", "left_semi")
        .join(delta.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti")
        .unionByName(delta)
        .persist()
    )
    raw_aff.count()  # materialize BEFORE any table rewrite invalidates scans

    # --- recompute every stage for the affected conversations only --------
    # (the pipeline's own stage builds, plans/stages.py; the 1m tier takes
    # rollup_raw — rollup_raw_clustered's fused write clustering has no
    # use here, merge_conv_scoped lays the rows out)
    filled_new = build_filled(raw_aff, cfg, chunked).persist()
    treated_new = build_treated(filled_new, cfg, chunked)
    m1 = rollup_raw(raw_aff, "1m").persist()
    h1 = rollup_from_tier(m1, "1m", "1h").persist()
    d1 = rollup_from_tier(h1, "1h", "1d").persist()
    chunks_new = build_chunks(m1, h1, d1, chunk_windows)

    # --- partition-scoped merges + lineage upkeep --------------------------
    # The seven table merges are independent (each rewrites only its own
    # table; the recomputes read the persisted upstream frames, never the
    # tables being rewritten) — run them concurrently so the ops wall is
    # max(table merge), not the sum of ~30 driver-synchronous small jobs
    # (backfill wall is fixed-overhead-dominated at small deltas; concurrent
    # jobs interleave at task granularity even under the default FIFO
    # scheduler, so idle driver-sync gaps overlap other tables' work).
    jobs = [
        (name, df, ts_col)
        for name, df, ts_col in (
            ("ingest", raw_aff, "ts"),
            ("filled", filled_new, "ts"),
            ("treated", treated_new, "ts"),
            ("rollup_1m", m1, "bucket_ts"),
            ("rollup_1h", h1, "bucket_ts"),
            ("rollup_1d", d1, "bucket_ts"),
            ("chunks", chunks_new, "start_ts"),
        )
        if io.exists(name)
    ]

    def _one(job):
        name, df, ts_col = job
        stats = merge_conv_scoped(io, name, df, affected, ts_col=ts_col)
        _update_lineage(io, name, stats)
        return name, {
            k: stats[k] for k in ("removed", "added", "parts_rewritten", "stale_dropped")
        }

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, max(1, len(jobs)))) as ex:
        tables = dict(ex.map(_one, jobs))

    n_aff = affected.count()
    for p in (raw_aff, filled_new, m1, h1, d1, affected):
        p.unpersist()
    return {"tables": tables, "affected_convs": n_aff}


#: per-table merge timestamp columns — the order backfill/delete walk the
#: pipeline tables in (chunks uses start_ts: its p_day is the window START)
_TABLE_TS = (
    ("ingest", "ts"),
    ("filled", "ts"),
    ("treated", "ts"),
    ("rollup_1m", "bucket_ts"),
    ("rollup_1h", "bucket_ts"),
    ("rollup_1d", "bucket_ts"),
    ("chunks", "start_ts"),
)


def scrub_deadletter(spark: SparkSession, dead_path: str, convs: DataFrame) -> dict:
    """Remove conversations' rows from a dead-letter capture dir — the one
    STREAMING store that holds raw text (the erasure-relevant payload) and
    is not re-derivable, so a compliance deletion must scrub it too: an
    uncleared dead-letter delta would otherwise RE-INSERT the deleted
    conversation into freshly cleaned batch tables at the next heal.

    Each touched epoch dir is rewritten without the victims via a
    rename-aside swap (crash at any point leaves old or new restorable;
    a leftover aside from a crashed scrub is healed on the next call);
    epochs left empty are removed entirely. Untouched epochs are not
    read twice, not rewritten."""
    root = Path(dead_path)
    out = {"rows_removed": 0, "epochs_rewritten": [], "epochs_removed": []}
    if not root.exists():
        return out
    _heal_asides(root)  # a crash inside a previous scrub's swap
    aff = convs.select("conv_id").distinct()
    for epoch in sorted(root.glob("batch_id=*")):
        if not epoch.is_dir():
            continue
        df = spark.read.parquet(str(epoch))
        keep = df.join(F.broadcast(aff), "conv_id", "left_anti").persist()
        n_all = df.count()
        n_keep = keep.count()
        if n_keep == n_all:
            keep.unpersist()
            continue
        out["rows_removed"] += n_all - n_keep
        if n_keep:
            # dot-prefixed tmp: never visible to readers mid-rewrite
            tmp = str(epoch.parent / f".rewrite.{epoch.name}")
            keep.write.mode("overwrite").parquet(tmp)
            _swap_dir(epoch, tmp)
            out["epochs_rewritten"].append(epoch.name)
        else:
            shutil.rmtree(str(epoch))
            out["epochs_removed"].append(epoch.name)
        keep.unpersist()
    return out


def delete_conversations(
    spark: SparkSession,
    workdir: str,
    convs: DataFrame,
    n_buckets: int | None = None,
    deadletter_dirs: list[str] | tuple[str, ...] = (),
) -> dict:
    """Remove whole conversations from every pipeline table (VERDICT r6
    item 5 — the compliance shape: a user-erasure request must delete the
    raw turns AND every derived row).

    ``convs``: a DataFrame with a ``conv_id`` column (extra columns are
    ignored; null ids are a loud error). This is
    :func:`merge_conv_scoped` with an EMPTY recompute side — the
    conversation is the exact recompute unit, so removing one from the
    input removes precisely its rows from every stage (gap-fill,
    treatment, tiers, and chunks are all per-conversation; no other
    conversation's rows change). Cost model matches the upsert path:
    keep-side scans bucket- and partition-pruned to the affected
    conversations' footprint, partitions whose last row leaves are
    dropped, lineage re-spliced. Idempotent: deleting an absent or
    already-deleted conversation is a no-op merge. ``n_buckets`` adopts
    the manifest-recorded count (contradiction is a loud error).
    Sharded deployments delete through the owning shard, like
    ``--backfill-table``.

    Streaming-side stores: pass the deployment's dead-letter dirs via
    ``deadletter_dirs`` — they hold raw text and would RE-INSERT the
    conversation at the next heal (:func:`scrub_deadletter`). The derived
    streaming sinks (``rollup_1m_stream/``, ``chunks_stream/``) are
    rebuildable hot-end caches re-owned by the batch cascade: complete an
    erasure by pruning/resetting them (``prune_stream_epochs`` /
    checkpoint reset), not by in-place rewrites that would corrupt the
    sinks' ``_spark_metadata`` transaction logs."""
    if "conv_id" not in convs.columns:
        raise ValueError("delete_conversations needs a conv_id column")
    n_buckets = _adopt_recorded_buckets(_manifest_config(workdir, "filled"), n_buckets)
    io = TableIO(spark, workdir, n_buckets=n_buckets)
    affected = convs.select("conv_id").distinct().persist()
    if affected.where(F.col("conv_id").isNull()).limit(1).count():
        affected.unpersist()
        raise ValueError("delete set contains null conv_id")
    n_aff = affected.count()
    if n_aff == 0:
        affected.unpersist()
        return {"tables": {}, "affected_convs": 0}

    jobs = [(name, ts_col) for name, ts_col in _TABLE_TS if io.exists(name)]

    def _one(job):
        name, ts_col = job
        empty = read_stage(io, name).limit(0)
        stats = merge_conv_scoped(io, name, empty, affected, ts_col=ts_col)
        _update_lineage(io, name, stats)
        return name, {
            k: stats[k] for k in ("removed", "added", "parts_rewritten", "stale_dropped")
        }

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, max(1, len(jobs)))) as ex:
        tables = dict(ex.map(_one, jobs))
    scrubbed = {d: scrub_deadletter(spark, d, affected) for d in deadletter_dirs}
    affected.unpersist()
    out = {"tables": tables, "affected_convs": n_aff}
    if scrubbed:
        out["deadletter"] = scrubbed
    return out
