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
  layout carries ``p_bucket`` (k/N of the table for k affected buckets),
  one census per table finds the affected partitions, and one flat
  predicate prunes the keep-side scan to them; on real Iceberg the same
  predicate is metadata-pruned;
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
also the crash-recovery story: a backfill killed between table merges,
or between a merge and its lineage splice, is healed by re-running it
(each per-table merge and splice is independently idempotent). A day
the merge moved the affected conversations' last rows out of is in no
re-run's census, so each merge records its days in the table's manifest
before it writes, and the splice recounts and clears them.
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable
from datetime import date
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pneuma_treatment_spark.io.tableio import (
    DAY_BUCKET,
    TableIO,
    bucket_col,
    heal_asides,
    swap_dir,
)
from pneuma_treatment_spark.operators.rollup import (
    rollup_from_tier,
    rollup_raw,
    with_turn_metrics,
)
from pneuma_treatment_spark.operators.treatment import TreatmentConfig
from pneuma_treatment_spark.plans.lineage import (
    load_manifest,
    manifest_schema,
    partition_counts,
    read_stage,
    write_manifest,
    write_partition_counts,
)
from pneuma_treatment_spark.plans.stages import (
    LAYOUTS,
    build_chunks,
    build_filled,
    build_treated,
    check_transcripts,
)

#: the raw-transcript delta schema (input_hint shape) — extra columns are
#: dropped so dead-letter sink dirs (which carry a batch_id partition level)
#: feed straight into --backfill-table
_DELTA_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

#: the manifest key of the days a merge rewrote whose lineage splice has
#: not run yet: a kill between the two leaves them for the re-run's splice
_UNSPLICED = "unspliced_days"


def _affected_buckets(affected: DataFrame, n_buckets: int) -> list[int]:
    """The affected conversations' ``p_bucket`` values: one collect per
    backfill or erasure, shared by every table's merge."""
    rows = (
        affected.select(bucket_col(n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    return sorted(r["b"] for r in rows)


def merge_conv_scoped(
    io: TableIO,
    table: str,
    new_rows: DataFrame,
    affected: DataFrame,
    buckets: list[int],
    *,
    ts_col: str = "ts",
    partition_cols=DAY_BUCKET,
) -> dict:
    """Replace ``affected`` conversations' rows in ``table`` with
    ``new_rows``, rewriting only the partitions either side touches.
    ``buckets`` are the affected conversations' ``p_bucket`` values
    (:func:`_affected_buckets`; unused on a layout without ``p_bucket``).
    ``ts_col``/``partition_cols`` are the table's declared layout
    (``stages.LAYOUTS``; it must carry ``p_day``), never read off the
    directories: an emptied table has none left to read it from.

    The Iceberg ``MERGE INTO`` (copy-on-write) analog: keep-side rows of
    the affected partitions are rewritten next to the recomputed rows via
    dynamic partition overwrite; partitions whose last row moved away are
    dropped explicitly (dynamic overwrite can only replace partitions
    present in the written frame). Unaffected partitions are not read,
    not written, not touched. Both sets come from one collected census
    per partition: old rows, old rows of the affected conversations
    (removed) and recomputed rows (added) — bounded metadata, what
    Iceberg's planner holds. The census days are added to the manifest's
    ``unspliced_days`` before the write; :func:`update_lineage` clears
    them."""
    nr = io.with_partition_cols(new_rows, ts_col, partition_cols).persist()
    pcols = list(partition_cols)
    old = read_stage(io, table)
    if "p_bucket" in pcols:
        old = old.where(F.col("p_bucket").isin(buckets))

    # the census: every old row marks `rows`, an affected conversation's
    # also `removed`, every recomputed row `added`; count() counts marks
    flag = F.broadcast(affected.select("conv_id", F.lit(1).alias("__aff")))
    none = F.lit(None).cast("int")
    old_side = old.join(flag, "conv_id", "left").select(
        *pcols, F.lit(1).alias("rows"), F.col("__aff").alias("removed"), none.alias("added")
    )
    new_side = nr.select(
        *pcols, none.alias("rows"), none.alias("removed"), F.lit(1).alias("added")
    )
    counts = (
        old_side.unionByName(new_side)
        .groupBy(*pcols)
        .agg(*[F.count(c).alias(c) for c in ("rows", "removed", "added")])
        .where("removed > 0 OR added > 0")
        .collect()
    )
    census = {tuple(r[c] for c in pcols): (r["rows"], r["removed"], r["added"]) for r in counts}
    stale = [p for p, (rows, removed, added) in census.items() if rows == removed and not added]
    day_i = pcols.index("p_day")
    record_unspliced(io, table, {p[day_i] for p in census})

    # one flat partition predicate at any set size: Spark pushes it into
    # the scan's PartitionFilters (IN, or INSET above 10 values)
    lits = [
        F.struct(*[F.lit(v).cast(old.schema[c].dataType).alias(c) for c, v in zip(pcols, p)])
        for p in census
    ]
    keep = old.where(F.struct(*pcols).isin(lits)).join(affected, "conv_id", "left_anti")
    out = keep.unionByName(nr.select(*old.columns))
    io.write(out, table, partition_cols=pcols, dynamic=True)  # aff parts only
    if stale:
        io.drop_partitions(table, stale, pcols)

    nr.unpersist()
    return {
        "removed": sum(n[1] for n in census.values()),
        "added": sum(n[2] for n in census.values()),
        "parts_rewritten": len(census),
        "stale_dropped": len(stale),
    }


def record_unspliced(io: TableIO, name: str, days) -> None:
    """Add ``days`` to the ``unspliced_days`` of ``name``'s manifest, in one
    crash-atomic manifest write, before a backfill merge or a TTL drop
    rewrites them: a kill between that rewrite and its
    :func:`update_lineage` leaves them for the next splice, which a re-run
    census no longer finds once a day was emptied or dropped."""
    m = load_manifest(io.root, name)
    if m and days:
        m[_UNSPLICED] = sorted({*m.get(_UNSPLICED, ()), *map(str, days)})
        write_manifest(io.root, name, m)


def update_lineage(io: TableIO, name: str, ttl: str | None = None) -> None:
    """Keep a stage's lineage contract green after a rewrite of some of
    its days — a backfill merge, or the TTL sweep in
    ``jobs/rollup_job.run_pipeline``: splice the recounted days the
    manifest records as unspliced (:func:`record_unspliced`; this rewrite's
    and any a killed one left) into the per-day counts table, set the
    manifest total to its sum (``verify_partition_lineage`` recounts
    distributed and cross-checks both) and clear those days in the same
    manifest write. A table with days to splice and no counts table is a
    ``ValueError``: its lineage is already lost (``verify_partition_lineage``
    reads it red). A sweep passes its predicate as ``ttl``; the manifest
    records it, and later merges drop the recomputed rows it matches
    (:func:`_merge_tables`)."""
    m = load_manifest(io.root, name)
    if not m:
        return
    mdir = Path(io.root) / "_manifest"
    ppath = mdir / f"{name}_partitions"
    heal_asides(mdir, f".aside.{name}_partitions")
    days = sorted(map(date.fromisoformat, m.pop(_UNSPLICED, ())))
    if days:
        if not ppath.exists():
            raise ValueError(f"{name} has days to splice but no counts table {ppath}")
        recount = partition_counts(
            io.read(name, schema=manifest_schema(m)).where(F.col("p_day").isin(days))
        )
        old = io.spark.read.schema(recount.schema).parquet(str(ppath))
        newc = old.where(~F.col("p_day").isin(days)).unionByName(recount)
        tmp = str(mdir / f".rewrite.{ppath.name}")
        n_parts, m["rows"] = write_partition_counts(newc, tmp)
        # swap via rename-aside, never delete-before-replace: a crash at
        # any point leaves either the old or the new table restorable
        # (heal_asides above), so the documented re-run-the-delta
        # recovery actually recovers
        swap_dir(ppath, tmp)
        m["n_partitions"] = n_parts
    if ttl is not None:
        m["ttl"] = ttl
    m["backfilled_at"] = time.time()
    write_manifest(io.root, name, m)


def _manifest_config(workdir: str, stage: str) -> dict:
    """The raw config dict a stage's manifest recorded ({} when the
    manifest or the config predates recording)."""
    return load_manifest(workdir, stage).get("config") or {}


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
    n_buckets: int | None = None,
) -> dict:
    """Apply a late/corrected-turn delta through every pipeline table.

    ``delta``: raw transcript rows ``(conv_id, turn_idx, role, text, tool,
    ts)`` — upsert keyed on (conv_id, turn_idx); extra columns (e.g. a
    dead-letter sink's ``batch_id`` partition level) are dropped; malformed
    rows are rejected before any table is touched
    (:func:`.stages.check_transcripts`). ``cfg=None`` adopts the treatment
    config recorded in the ``filled`` manifest (an explicit ``cfg`` that
    contradicts the recorded one is a loud error — recomputing affected
    conversations under different parameters would silently mix treatment
    semantics within one table).
    ``n_buckets`` and the chunk window map follow the same adopt-or-error
    rule (ADVICE r6): a wrong bucket count would prune the wrong p_bucket
    set and silently DUPLICATE affected conversations' old rows, and a
    wrong window map would mix chunk layouts under one
    ``chunk_ttl_sql_predicate``. Returns per-table merge stats. Assumes a
    single-shard workdir (sharded deployments backfill through the shard
    that owns the conversations; the CLI rejects ``--shard-count > 1``).
    """
    heal_asides(Path(workdir))  # tables a killed compaction swap left aside
    heal_asides(Path(workdir) / "_manifest")  # counts tables a killed splice left aside
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
    # a duplicate upsert key would survive the anti-join and insert BOTH
    # rows; a null key would vanish from the joins
    if check_transcripts(delta, "backfill delta") == 0:
        return {"tables": {}, "affected_convs": 0}
    # The affected set and raw rows are detached from their sources
    # (local checkpoints, not caches): a write re-caches every cached plan
    # that reads its path, so a plan over ``ingest`` — the raw rows
    # always, the delta when it is queried from a pipeline table — would
    # be re-read once the ingest merge has rewritten those files. The
    # trade-off: checkpoint blocks cannot be recomputed, so an executor
    # lost mid-merge (or removed by dynamic allocation) fails the backfill,
    # possibly after earlier tables committed — rerun it with the same
    # delta, which the merge applies idempotently. Nothing unpersists them;
    # Spark's ContextCleaner drops the blocks once the frames are
    # garbage-collected after this call returns.
    affected = delta.select("conv_id").distinct().localCheckpoint()

    buckets = _affected_buckets(affected, io.n_buckets)

    # --- new raw rows for the affected conversations (upsert) -------------
    raw_aff = (
        read_stage(io, "ingest")
        .where(F.col("p_bucket").isin(buckets))
        .drop("p_day", "p_bucket")
        .join(affected, "conv_id", "left_semi")
        .join(delta.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti")
        .unionByName(delta)
        .localCheckpoint()
    )

    # --- recompute every stage for the affected conversations only --------
    # (the pipeline's own stage builds, plans/stages.py; the 1m tier takes
    # rollup_raw — rollup_raw_clustered's fused write clustering has no
    # use here, merge_conv_scoped lays the rows out). Frames that several
    # merges or builds read are local checkpoints too, so the merge threads
    # do not race to fill them.
    filled_new = build_filled(raw_aff, cfg).localCheckpoint()
    treated_new = build_treated(filled_new, cfg)
    m1 = rollup_raw(raw_aff, "1m").localCheckpoint()
    h1 = rollup_from_tier(m1, "1m", "1h").localCheckpoint()
    d1 = rollup_from_tier(h1, "1h", "1d").localCheckpoint()
    chunks_new = build_chunks(m1, h1, d1, chunk_windows)

    # --- partition-scoped merges + lineage upkeep --------------------------
    new_rows = {
        "ingest": raw_aff,
        "filled": filled_new,
        "treated": treated_new,
        "rollup_1m": m1,
        "rollup_1h": h1,
        "rollup_1d": d1,
        "chunks": chunks_new,
    }
    tables = _merge_tables(io, affected, buckets, new_rows.__getitem__)
    return {"tables": tables, "affected_convs": affected.count()}


def _merge_tables(
    io: TableIO,
    affected: DataFrame,
    buckets: list[int],
    new_rows: Callable[[str], DataFrame],
) -> dict:
    """Merge every existing pipeline table over the ``affected``
    conversations (``p_bucket`` values ``buckets``) — ``new_rows(table)``
    gives the table's recomputed rows (empty for a deletion) — and
    re-splice its lineage. Returns each table's merge counts. The recompute reads ``ingest``, which no TTL
    sweep touches, so it covers the conversations' whole history: rows
    matching the predicate the table's last sweep recorded are dropped
    before the merge, or it would write expired partitions back.

    The merges are independent (each rewrites only its own table; the
    recomputes read upstream frames checkpointed before the merges start,
    never the tables being rewritten), so they run concurrently: the ops
    wall is max(table merge), not the sum of every table's
    driver-synchronous small jobs (the wall is fixed-overhead-dominated at small deltas; concurrent jobs interleave at
    task granularity even under the default FIFO scheduler, so idle
    driver-sync gaps overlap other tables' work)."""
    from concurrent.futures import ThreadPoolExecutor

    jobs = [name for name in LAYOUTS if io.exists(name)]

    def _one(name):
        ts_col, partition_cols = LAYOUTS[name]
        rows = new_rows(name)
        ttl = load_manifest(io.root, name).get("ttl")
        if ttl:
            rows = io.with_partition_cols(rows, ts_col, partition_cols).where(
                f"NOT ({ttl})"
            )
        stats = merge_conv_scoped(
            io, name, rows, affected, buckets,
            ts_col=ts_col, partition_cols=partition_cols,
        )
        update_lineage(io, name)
        return name, {
            k: stats[k] for k in ("removed", "added", "parts_rewritten", "stale_dropped")
        }

    with ThreadPoolExecutor(max_workers=min(4, max(1, len(jobs)))) as ex:
        return dict(ex.map(_one, jobs))


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
    heal_asides(root)  # a crash inside a previous scrub's swap
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
            swap_dir(epoch, tmp)
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
    checkpoint reset), not by in-place rewrites of their epoch dirs."""
    if "conv_id" not in convs.columns:
        raise ValueError("delete_conversations needs a conv_id column")
    heal_asides(Path(workdir))  # tables a killed compaction swap left aside
    heal_asides(Path(workdir) / "_manifest")  # counts tables a killed splice left aside
    n_buckets = _adopt_recorded_buckets(_manifest_config(workdir, "filled"), n_buckets)
    io = TableIO(spark, workdir, n_buckets=n_buckets)
    # detached from its source, as in backfill_pipeline (and with its
    # trade-off: a lost checkpoint block fails the erasure; rerun it with
    # the same conversation ids): a delete set queried from a pipeline table
    # would be re-read after its merge
    affected = convs.select("conv_id").distinct().localCheckpoint()
    if affected.where(F.col("conv_id").isNull()).limit(1).count():
        raise ValueError("delete set contains null conv_id")
    n_aff = affected.count()
    if n_aff == 0:
        return {"tables": {}, "affected_convs": 0}

    tables = _merge_tables(
        io, affected, _affected_buckets(affected, io.n_buckets),
        lambda name: read_stage(io, name).limit(0),
    )
    scrubbed = {d: scrub_deadletter(spark, d, affected) for d in deadletter_dirs}
    out = {"tables": tables, "affected_convs": n_aff}
    if scrubbed:
        out["deadletter"] = scrubbed
    return out
