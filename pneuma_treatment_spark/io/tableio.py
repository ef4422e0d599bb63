"""TableIO — Iceberg-shaped table layer over partitioned Parquet.

The target deployment stores every engine table in Iceberg, partitioned
``days(ts) x bucket(conv_id, N)`` (BASELINE.json design target: 10^12 turns).
This sandbox has no Iceberg runtime jar, so TableIO implements the identical
layout and write discipline on plain Parquet:

* a table's layout is its list of partition columns, declared by the caller
  (each pipeline table's once, in ``plans/stages.LAYOUTS``) the way Iceberg
  declares a partition spec in metadata; the derived columns ``p_day``
  (date) and ``p_bucket`` (xxhash64(conv_id) mod N) are materialized and
  used with ``write.partitionBy`` — readers get partition pruning on day
  ranges and bucket-local joins for free. Every method that writes, drops
  or compacts takes the declared layout; none detects one from the
  directories;
* writes are idempotent overwrites: a stage write replaces the whole
  table (re-running a stage never leaves rows of the old run behind), and
  a caller that rewrites a subset of partitions on purpose asks for a
  **dynamic partition overwrite** — Iceberg's ``overwritePartitions()``;
* retention is a partition drop (:meth:`TableIO.delete_where`): the
  expired partition dirs go, every other file stays as it is;
* compaction rewrites a table beside itself and swaps it in by
  rename-aside (:func:`swap_dir`), so a kill at any point leaves the old
  or the new table restorable;
* all methods take/return DataFrames only, so flipping to real Iceberg is a
  config change (``writeTo(...).using("iceberg")``), not a rewrite.

The reference's analog is one CSV per stage (``src/processor.py:450-455``,
every numbered script) — full materialization, no partitioning, no
idempotence. We keep the restartability, fix the layout.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the AQE advisory partition size a compaction writes with: fewer, larger
#: files than the query-oriented session default
_COMPACT_ADVISORY_BYTES = "64m"


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


#: the day x conversation-bucket layout — Iceberg's
#: ``PARTITIONED BY (days(ts), bucket(conv_id))``
DAY_BUCKET = ("p_day", "p_bucket")


def bucket_col(n_buckets: int) -> Column:
    """The ``p_bucket`` value of a row: ``xxhash64(conv_id) mod n_buckets``.
    Every writer of a day x bucket table and the backfill's bucket pruning
    compute it here — a second spelling that drifted would prune the wrong
    ``p_bucket`` dirs and silently duplicate rows."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def read_schema(schema: T.StructType, partition_cols: list[str]) -> T.StructType:
    """The schema Spark infers for a parquet table written from a frame of
    ``schema`` partitioned by ``partition_cols``: the data columns in frame
    order, then the partition columns in directory order, every field
    nullable (a parquet scan drops non-null constraints, nested ones too)."""
    fields = [f for f in schema.fields if f.name not in partition_cols]
    fields += [schema[c] for c in partition_cols]
    return _nullable(T.StructType(fields))


def swap_dir(orig: Path, tmp: str) -> None:
    """Replace directory ``orig`` with ``tmp`` via rename-aside: a crash at
    any point leaves either the old or the new contents restorable
    (:func:`heal_asides`), never a half-deleted dir. The aside name is
    DOT-PREFIXED so it is invisible both to Spark's file listing and to
    any ``batch_id=*``-style glob — a visible aside would let readers
    resurrect the pre-swap contents (the erasure-undo bug class)."""
    aside = orig.parent / f".aside.{orig.name}"
    shutil.rmtree(aside, ignore_errors=True)
    shutil.move(str(orig), str(aside))
    shutil.move(tmp, str(orig))
    shutil.rmtree(aside, ignore_errors=True)


def heal_asides(root: Path, pattern: str = ".aside.*") -> None:
    """Recover from a crash inside :func:`swap_dir`: an aside whose
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


class TableIO:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 8):
        # n_buckets scales with the cluster (1024 on a 1000-executor
        # deployment); 8 keeps local partition-dir counts sane.
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets

    def exists(self, table: str) -> bool:
        """Hadoop-FS existence check (works for any scheme, not just file:).
        Public API — callers (e.g. jobs/rollup_job.py's --compact guard)
        rely on it to skip absent tables."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path(table))
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def with_partition_cols(
        self, df: DataFrame, ts_col: str = "ts", partition_cols=DAY_BUCKET
    ) -> DataFrame:
        """``df`` plus the derived partition columns that ``partition_cols``
        lists and ``df`` lacks: ``p_day`` is the date of ``ts_col``,
        ``p_bucket`` is :func:`bucket_col`. Any other partition column (the
        chunk table's ``tier``) the caller materializes."""
        if isinstance(partition_cols, str):
            raise TypeError(
                f"partition_cols is a sequence of column names, not {partition_cols!r}"
            )
        if "p_day" in partition_cols and "p_day" not in df.columns:
            df = df.withColumn("p_day", F.to_date(F.col(ts_col)))
        if "p_bucket" in partition_cols and "p_bucket" not in df.columns:
            df = df.withColumn("p_bucket", bucket_col(self.n_buckets))
        return df

    def write(
        self,
        df: DataFrame,
        table: str,
        ts_col: str = "ts",
        partition_cols=DAY_BUCKET,
        pre_clustered: bool = False,
        dynamic: bool = False,
    ) -> T.StructType:
        """Write ``df`` partitioned by ``partition_cols`` (the table's
        declared layout, ``plans/stages.LAYOUTS`` for the pipeline tables)
        and return the schema the table reads back with (pass it to
        :meth:`read`). A listed ``p_day``/``p_bucket`` that ``df`` lacks is
        derived (:meth:`with_partition_cols`). The write replaces the whole
        table. ``dynamic=True`` replaces only the partitions present in
        ``df`` and keeps every other one: for a caller that rewrites a
        chosen subset (the backfill merge), never for a stage rebuild,
        whose stale partitions would survive next to the new rows. The mode
        rides the writer, not the session conf, so concurrent writes cannot
        race on it. ``pre_clustered=True`` promises the frame is ALREADY
        hash-clustered by its partition columns (e.g.
        ``rollup_raw_clustered``, whose aggregation exchange doubles as the
        write clustering) — the writer then adds no exchange of its own."""
        w = self.with_partition_cols(df, ts_col, partition_cols)
        cols = list(partition_cols)
        # Cluster rows by their target partition before the write: without
        # this every task appends a file to every partition dir —
        # tasks x dirs tiny files, which then dominates downstream scan
        # time. REBALANCE (vs plain repartition) keeps the clustering
        # but lets AQE right-size the writer tasks, and a skewed hot
        # day SPLITS across tasks instead of pinning one writer. (Same
        # move as Iceberg's write.distribution-mode=hash.) The hint
        # only RESOLVES under AQE — with AQE off Spark drops it with a
        # log line and the tiny-file blowup returns, so fall back to
        # the unconditional repartition there.
        #
        # EXCEPT the day-only layout (the coarse rollup tiers): those
        # tables are small by construction (an aggregation grain of
        # <=24 resp. <=1 rows/conv/day), so their write cost is
        # file-open/commit-bound, not byte-bound — AQE's byte-sized
        # rebalance coalesces the writer to ONE task that opens every
        # p_day file serially (the same bytes-vs-fixed-cost mismatch
        # seriesmap.map_sorted_series fixes for Python kernels). A keyed
        # repartition to the session's shuffle partitions is
        # AQE-exempt, keeps exactly one file per day dir, and measured
        # 1.6->1.1 s per tier write at bench size with identical file
        # counts and downstream scan cost. The width scales with the
        # session conf, not the box; a deployment whose coarse-tier
        # day outgrows a single writer task should declare that tier
        # day x bucket (the existing n_buckets scale knob) rather than
        # retune the writer.
        if pre_clustered:
            pass  # caller's exchange already clusters by `cols`
        elif cols == ["p_day"]:
            nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            w = w.repartition(nparts, *cols)
        elif self.spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true":
            w = w.hint("rebalance", *cols)
        else:
            w = w.repartition(*cols)
        (
            w.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
            .partitionBy(*cols)
            .parquet(self.path(table))
        )
        return read_schema(w.schema, cols)

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """Scan a table. With ``schema`` (as :meth:`write` returned it) Spark
        infers nothing: no job reads a footer, and a table written from zero
        rows — a directory with no data file — still reads, empty."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def delete_where(
        self,
        table: str,
        predicate: str,
        partition_cols,
        schema: T.StructType,
        before_drop: Callable[[list[Row]], None] | None = None,
    ) -> list[Row]:
        """Partition-level TTL delete (Iceberg's metadata-only ``DELETE
        WHERE <partition predicate>``): drop the partition dirs of ``table``
        that match ``predicate`` and return one ``Row(*partition_cols,
        count)`` per dropped partition. ``partition_cols``/``schema`` are
        the table's declared layout and read-back schema. One job finds the
        partitions; every other partition is not read, written or renamed.

        ``predicate`` must name partition columns only — one on a data
        column would drop partitions that still hold live rows — or it is
        rejected with a ``ValueError`` before anything is read: it is
        analysed against an empty frame of the partition columns (no job
        runs; a projection of the table would still resolve a data
        column). ``before_drop``, if given, gets those rows before any dir
        is dropped (the TTL sweep records their days for its lineage
        splice, which a re-run after a kill would no longer find)."""
        cols = list(partition_cols)
        probe = T.StructType([schema[c] for c in cols])
        try:
            self.spark.createDataFrame([], probe).where(predicate)
        except AnalysisException as e:
            raise ValueError(
                f"{table}: a TTL predicate may name only the partition columns "
                f"{cols}: {predicate!r}"
            ) from e
        expired = (
            self.read(table, schema).where(predicate).groupBy(*cols).count().collect()
        )
        if before_drop is not None:
            before_drop(expired)
        self.drop_partitions(table, [tuple(r[c] for c in cols) for r in expired], cols)
        return expired

    def drop_partitions(
        self, table: str, parts: list[tuple], pcols: list[str]
    ) -> None:
        """Remove whole partition directories (Iceberg ``dropPartition`` /
        ``DELETE WHERE <partition predicate>`` metadata-delete analog).

        The TTL delete (:meth:`delete_where`) drops expired partitions with
        it, and the backfill merge needs it too: dynamic partition overwrite
        can only REPLACE partitions present in the written frame, so a
        partition whose last row moved away (e.g. a corrected ``ts`` pulled
        the only conversation out of a day) survives with stale rows unless
        dropped explicitly. ``parts`` are value tuples aligned with
        ``pcols`` in directory nesting order (the declared layout's order);
        values must be Hive-dir-safe (dates/ints/plain strings — the only
        partition value types this engine writes)."""
        jvm = self.spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.path(table))
        fs = root.getFileSystem(self.spark._jsc.hadoopConfiguration())
        for vals in parts:
            sub = "/".join(f"{c}={v}" for c, v in zip(pcols, vals))
            p = jvm.org.apache.hadoop.fs.Path(f"{self.path(table)}/{sub}")
            fs.delete(p, True)
            # prune now-empty ancestor dirs: an emptied outer level (e.g.
            # p_day=X/ after its last p_bucket leaf is dropped) is a husk;
            # remove it, so a table's dirs are exactly its partitions
            parent = p.getParent()
            while (
                str(parent) != str(root)
                and fs.exists(parent)
                and len(fs.listStatus(parent)) == 0
            ):
                fs.delete(parent, False)
                parent = parent.getParent()

    def compact(self, table: str, partition_cols, schema: T.StructType) -> None:
        """Small-file compaction (Iceberg ``rewriteDataFiles`` analog): the
        batch tables' repeated partition overwrites accumulate small files
        per partition dir; rewrite the table, read through ``schema`` and
        rebalanced by its declared ``partition_cols``, so each dir collapses
        back to few AQE-right-sized files.

        The rewrite lands beside the table and is swapped in by
        :func:`swap_dir`; a table a killed compaction left aside is
        restored first (:func:`heal_asides`). The session's AQE advisory
        partition size is raised to 64 MB for the rewrite and restored (or
        unset) afterwards; the conf is session-global meanwhile, so run
        maintenance in its own session when queries run concurrently. On
        real Iceberg this is the snapshot-isolated ``rewrite_data_files``
        procedure."""
        dst = Path(self.path(table))
        heal_asides(dst.parent, f".aside.{dst.name}")
        cols = list(partition_cols)
        conf_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"
        old = self.spark.conf.get(conf_key, None) if aqe else None
        if aqe:
            self.spark.conf.set(conf_key, _COMPACT_ADVISORY_BYTES)
        try:
            df = self.read(table, schema)
            w = df.hint("rebalance", *cols) if aqe else df.repartition(*cols)
            tmp = str(dst.parent / f".rewrite.{dst.name}")
            w.write.mode("overwrite").partitionBy(*cols).parquet(tmp)
            swap_dir(dst, tmp)
        finally:
            if aqe:
                if old is not None:
                    self.spark.conf.set(conf_key, old)
                else:
                    self.spark.conf.unset(conf_key)
