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
  ranges and bucket-local joins for free. Only the table-agnostic
  maintenance ops (:meth:`TableIO.delete_where`, :meth:`TableIO.compact`)
  detect a layout from the directories;
* writes are idempotent overwrites: a stage write replaces the whole
  table (re-running a stage never leaves rows of the old run behind), and
  a caller that rewrites a subset of partitions on purpose asks for a
  **dynamic partition overwrite** — Iceberg's ``overwritePartitions()``;
* all methods take/return DataFrames only, so flipping to real Iceberg is a
  config change (``writeTo(...).using("iceberg")``), not a rewrite.

The reference's analog is one CSV per stage (``src/processor.py:450-455``,
every numbered script) — full materialization, no partitioning, no
idempotence. We keep the restartability, fix the layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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

    def _guard_rewrite(self, table: str, op: str) -> None:
        """Refuse an in-place rewrite of a Structured Streaming sink dir —
        shared by :meth:`delete_where` and :meth:`compact`: its
        ``_spark_metadata`` transaction log pins exact file names, so a
        rewrite silently vanishes history from streaming-aware readers
        (stop the stream and convert the sink to a managed table first).
        The check goes through the Hadoop FS API (any scheme, not just
        local paths — same reason as :meth:`exists`)."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{self.path(table)}/_spark_metadata")
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            raise ValueError(
                f"{table}: refusing to {op} a streaming-sink dir — "
                "_spark_metadata pins exact file names; rewriting would drop "
                "history from streaming-aware readers"
            )

    def _rewrite_swap(self, df: DataFrame, table: str, partition_cols: list[str]) -> None:
        """Write ``df`` to a sibling dir and swap it under the table path —
        the shared atomic-ish rewrite used by :meth:`delete_where` and
        :meth:`compact` (sandbox-local; real Iceberg commits these
        transactionally as a new snapshot).

        An EMPTY partitioned write emits no data file at all (only
        _SUCCESS), leaving an unreadable table — e.g. a TTL delete that
        expires every row. Iceberg keeps schema in metadata; here the
        schema lives in parquet footers, so fall back to one flat
        schema-bearing empty file from the KNOWN schema (no second scan of
        the source lineage); :meth:`write` takes the static full-overwrite
        path over such an empty table, so the stale schema file cannot
        outlive the next real write."""
        import shutil

        tmp = self.path(table) + ".__rewrite__"
        wr = df.write.mode("overwrite")
        if partition_cols:
            wr = wr.partitionBy(*partition_cols)
        wr.parquet(tmp)
        if partition_cols and not self._has_data_file(tmp):
            self.spark.createDataFrame([], df.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
        dst = self.path(table)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.move(tmp, dst)

    def _has_data_file(self, path: str) -> bool:
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def _partition_dirs(self, table: str) -> list[str]:
        """Partition columns ACTUALLY present as directories, for the
        maintenance ops that serve any table dir (:meth:`delete_where`,
        :meth:`compact`); a table may carry p_day/p_bucket as plain data
        columns without being directory-partitioned. The pipeline's own
        writers and merges never detect a layout: they read the declared
        one (``plans/stages.LAYOUTS``)."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path(table))
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        # Walk ONE branch of the Hive layout collecting partition columns in
        # nesting order (outer→inner): the single top-level listing the old
        # code did missed every nested level, so a compact/TTL rewrite of a
        # p_day×p_bucket (or tier×p_day chunk) table silently flattened the
        # inner level out of the directory layout. The branch to descend is
        # the first entry that still HAS partition children — an emptied
        # husk (a dir whose leaf drop_partitions removed) would otherwise
        # truncate the detected layout at its level.
        cols: list[str] = []
        while True:
            entries = [
                st
                for st in fs.listStatus(p)
                if st.isDirectory() and "=" in st.getPath().getName()
            ]
            if not entries:
                return cols
            cols.append(entries[0].getPath().getName().split("=", 1)[0])
            nxt = None
            for st in entries:
                if any(
                    c.isDirectory() and "=" in c.getPath().getName()
                    for c in fs.listStatus(st.getPath())
                ):
                    nxt = st.getPath()
                    break
            if nxt is None:
                return cols  # leaf level everywhere — layout complete
            p = nxt

    def delete_where(self, table: str, predicate: str) -> None:
        """Partition-level TTL delete (Iceberg ``DELETE WHERE`` analog):
        rewrite the table keeping rows NOT matching the predicate. On real
        Iceberg with a partition-aligned predicate this is metadata-only.
        Shares :meth:`compact`'s streaming-sink guard and directory-detected
        partitioning (a flat table stays flat even if it carries
        p_day/p_bucket as data columns)."""
        self._guard_rewrite(table, "TTL-rewrite")
        df = self.read(table).where(f"NOT ({predicate})")
        self._rewrite_swap(df, table, self._partition_dirs(table))

    def drop_partitions(
        self, table: str, parts: list[tuple], pcols: list[str]
    ) -> int:
        """Remove whole partition directories (Iceberg ``dropPartition`` /
        ``DELETE WHERE <partition predicate>`` metadata-delete analog).

        Needed by the backfill merge: dynamic partition overwrite can only
        REPLACE partitions present in the written frame, so a partition
        whose last row moved away (e.g. a corrected ``ts`` pulled the only
        conversation out of a day) survives with stale rows unless dropped
        explicitly. ``parts`` are value tuples aligned with ``pcols`` in
        directory nesting order (as :meth:`_partition_dirs` returns them);
        values must be Hive-dir-safe (dates/ints/plain strings — the only
        partition value types this engine writes). Returns the number of
        directories actually removed."""
        jvm = self.spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.path(table))
        fs = root.getFileSystem(self.spark._jsc.hadoopConfiguration())
        dropped = 0
        for vals in parts:
            sub = "/".join(f"{c}={v}" for c, v in zip(pcols, vals))
            p = jvm.org.apache.hadoop.fs.Path(f"{self.path(table)}/{sub}")
            if fs.exists(p):
                fs.delete(p, True)
                dropped += 1
            # prune now-empty ancestor dirs: an emptied outer level (e.g.
            # p_day=X/ after its last p_bucket leaf is dropped) is a husk
            # that layout detection and future drops must not trip over
            parent = p.getParent()
            while (
                str(parent) != str(root)
                and fs.exists(parent)
                and len(fs.listStatus(parent)) == 0
            ):
                fs.delete(parent, False)
                parent = parent.getParent()
        return dropped

    def compact(self, table: str, advisory_bytes: str | None = "64m") -> None:
        """Small-file compaction (Iceberg ``rewriteDataFiles`` analog): the
        batch tables' repeated partition overwrites accumulate small files
        per partition dir; rewrite the table clustered by its DIRECTORY
        partition keys (detected from the layout, not from column
        presence — an unpartitioned table stays unpartitioned) so each dir
        collapses back to few AQE-right-sized files.

        Refuses a Structured Streaming sink dir (its ``_spark_metadata``
        transaction log lists exact files — rewriting them would silently
        vanish history from streaming-aware readers; stop the stream and
        convert the sink to a managed table first).

        ``advisory_bytes`` temporarily raises the session's AQE advisory
        partition size for the rewrite (compaction wants FEWER, larger
        files than the query-oriented session default; restored — or unset
        if the session never set it — afterwards; note the conf is
        session-global for the duration, so run maintenance in its own
        session when queries run concurrently). On real Iceberg this is
        the snapshot-isolated ``rewrite_data_files`` procedure."""
        self._guard_rewrite(table, "compact")
        df = self.read(table)
        cols = self._partition_dirs(table)
        conf_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        aqe = (
            self.spark.conf.get("spark.sql.adaptive.enabled", "true").lower()
            == "true"
        )
        old = self.spark.conf.get(conf_key, None) if advisory_bytes and aqe else None
        if advisory_bytes and aqe:
            self.spark.conf.set(conf_key, advisory_bytes)
        try:
            if cols:
                w = df.hint("rebalance", *cols) if aqe else df.repartition(*cols)
            else:
                w = df.hint("rebalance") if aqe else df.coalesce(1)
            self._rewrite_swap(w, table, cols)
        finally:
            if advisory_bytes and aqe:
                if old is not None:
                    self.spark.conf.set(conf_key, old)
                else:
                    self.spark.conf.unset(conf_key)
