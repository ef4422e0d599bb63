"""Checkpointed, resumable stage execution with per-partition lineage.

north_rule requirement: "every stage checkpoints per-partition lineage and
metrics so the job resumes mid-rollup". The reference gets restartability
implicitly from one-CSV-per-stage (SURVEY.md §3 — each numbered script is a
de-facto checkpoint); here it is explicit and content-addressed:

* each stage writes its output table via TableIO (idempotent partition
  overwrite), a per-partition row-count TABLE (written distributed — the
  counts never materialize on the driver), and a manifest JSON: input
  signature (config + upstream stage signatures), row count, partition
  count, read-back schema, wall-clock, status;
* the table is read back through the schema it was written with, fresh or
  resumed — never re-inferred, so a stage commit launches no listing or
  footer job, and a stage that wrote zero rows still reads;
* on re-run, a stage whose signature matches a COMPLETE manifest is skipped
  and its table is read back — so a job killed after stage k resumes at
  stage k+1 and produces byte-identical output (tests/test_resume.py);
* signatures chain (stage sig includes dep sigs), so changing an upstream
  config invalidates exactly the downstream stages.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pneuma_treatment_spark.io.tableio import DAY_BUCKET, TableIO


@dataclass
class StageResult:
    name: str
    signature: str
    rows: int
    skipped: bool
    wall_sec: float
    n_partitions: int = 0


class PipelineRunner:
    def __init__(self, io: TableIO, config: dict | None = None, stats: str = "full"):
        # stats: "full" collects per-partition row counts into the manifest
        # (the lineage contract); "fast" records total rows only (parquet
        # footer metadata count — used by throughput benches where the extra
        # per-stage count job is measurable overhead).
        self.io = io
        self.config = config or {}
        self.stats = stats
        self.manifest_dir = Path(io.root) / "_manifest"
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        self._sigs: dict[str, str] = {}
        self.results: dict[str, StageResult] = {}

    # -- signatures ---------------------------------------------------------
    def _signature(self, name: str, deps: list[str]) -> str:
        payload = {
            "stage": name,
            "config": self.config,
            # no longer settable; kept so workdirs of earlier builds resume
            "extra": {},
            "deps": {d: self._sigs[d] for d in deps},
        }
        return hashlib.sha256(json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()[:16]

    def _manifest_path(self, name: str) -> Path:
        return self.manifest_dir / f"{name}.json"

    def _partitions_path(self, name: str) -> str:
        return str(self.manifest_dir / f"{name}_partitions")

    # -- execution ----------------------------------------------------------
    def run_stage(
        self,
        name: str,
        build,
        deps: list[str] | None = None,
        ts_col: str = "ts",
        partition_cols=DAY_BUCKET,
        pre_clustered: bool = False,
    ) -> DataFrame:
        """Run ``build(io) -> DataFrame`` or skip if already complete. The
        table is written in the layout ``ts_col``/``partition_cols`` (see
        :meth:`TableIO.write`; the pipeline passes its declared
        ``stages.LAYOUTS`` entry).

        Returns the stage output read back from its table (so downstream
        stages never re-execute upstream lineage — each stage boundary is a
        scan, exactly like the reference's CSV boundaries but partitioned).
        """
        deps = deps or []
        sig = self._signature(name, deps)
        self._sigs[name] = sig
        mpath = self._manifest_path(name)

        if mpath.exists():
            m = json.loads(mpath.read_text())
            if m.get("status") == "COMPLETE" and m.get("signature") == sig:
                self.results[name] = StageResult(
                    name, sig, m["rows"], True, 0.0, m.get("n_partitions", 0)
                )
                return self.io.read(name, schema=manifest_schema(m))

        t0 = time.perf_counter()
        df = build(self.io)
        # Row count rides the write action itself via an Observation — no
        # second pass over the table (the Iceberg-snapshot-metadata analog).
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        schema = self.io.write(
            df, name, ts_col=ts_col, partition_cols=partition_cols,
            pre_clustered=pre_clustered,
        )
        out = self.io.read(name, schema=schema)
        rows = _observed_rows(obs)
        if rows is None:
            rows = out.count()  # one job, and only for an empty scan
        n_parts = 0
        if self.stats == "full" and "p_day" in out.columns:
            # Per-partition lineage counts are a TABLE, not driver state: at
            # 10^12 turns x years of days a per-stage python dict of counts
            # is a driver-side list per write. The counts DataFrame writes
            # straight to parquet; only the O(1) partition COUNT crosses to
            # the driver (for the summary), never the rows.
            n_parts, _ = write_partition_counts(
                partition_counts(out), self._partitions_path(name)
            )
        wall = time.perf_counter() - t0
        # crash-atomic: a kill mid-write must never leave torn JSON for the
        # next resume's json.loads — write aside, then rename into place
        tmp_m = mpath.with_suffix(".json.tmp")
        tmp_m.write_text(
            json.dumps(
                {
                    "status": "COMPLETE",
                    "stage": name,
                    "signature": sig,
                    "rows": rows,
                    "n_partitions": n_parts,
                    "schema": schema.json(),
                    "wall_sec": round(wall, 3),
                    "finished_at": time.time(),
                    # the raw config, not just its signature hash: ops
                    # tooling that recomputes this stage (plans/backfill.py)
                    # must reproduce the recorded parameters exactly, and a
                    # hash can be compared but not adopted
                    "config": self.config,
                },
                indent=2,
                default=str,
            )
        )
        os.replace(tmp_m, mpath)
        self.results[name] = StageResult(name, sig, rows, False, wall, n_parts)
        return out


def _observed_rows(obs: Observation) -> int | None:
    """The ``rows`` count ``obs`` observed, or ``None`` when it holds no row.

    A frame with no partitions (an empty parquet scan) runs no task, so its
    observation never fires; Spark 4.1 then completes it with an EMPTY row
    rather than blocking, and ``Observation.get`` fails on that row in
    ``PythonSQLUtils.toPyRow`` (a ``Py4JJavaError``). The row length is read
    off the JVM observation (``_jo``), so this is classic PySpark only;
    Spark Connect has no ``_jo``."""
    if obs._jo.getRow().length() == 0:
        return None
    return int(obs.get["rows"])


def manifest_schema(m: dict) -> StructType | None:
    """The read-back schema a stage manifest recorded (None for manifests
    written before it was recorded — those tables fall back to inference)."""
    return StructType.fromJson(json.loads(m["schema"])) if "schema" in m else None


def load_manifest(root: str, name: str) -> dict:
    """The manifest of stage ``name`` under workdir ``root`` ({} if none)."""
    mpath = Path(root) / "_manifest" / f"{name}.json"
    return json.loads(mpath.read_text()) if mpath.exists() else {}


def read_stage(io: TableIO, name: str) -> DataFrame:
    """A stage table read through the schema its manifest recorded; inferred
    only when there is no manifest or it predates the recorded schema."""
    return io.read(name, schema=manifest_schema(load_manifest(io.root, name)))


def partition_counts(df: DataFrame) -> DataFrame:
    """(p_day, rows) lineage counts as a DataFrame — never a driver dict."""
    return df.groupBy("p_day").agg(F.count(F.lit(1)).alias("rows"))


def write_partition_counts(counts: DataFrame, path: str) -> tuple[int, int]:
    """Write a (p_day, rows) counts table as one file and return its row
    count — the stage's partition count — and the sum of its ``rows``,
    both observed on the write itself, so the table is never read back to
    count it. ``coalesce(1)`` narrows the aggregate's output to one writer
    task without another shuffle."""
    obs = Observation()
    counts.observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("rows").alias("rows")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    got = obs.get
    return int(got["n"]), int(got["rows"] or 0)


def verify_partition_lineage(io: TableIO, name: str) -> bool:
    """Recount a stage's partitions and compare to its recorded lineage
    (integrity check used by tests and ops tooling). The comparison is a
    distributed full-outer join — a partition missing from either side, or
    disagreeing on its count, fails it; only O(1) scalars (mismatch count,
    total) ever reach the driver. Nothing is inferred: the table reads
    through its manifest schema, the counts table through the recount's."""
    m = json.loads((Path(io.root) / "_manifest" / f"{name}.json").read_text())
    ppath = Path(io.root) / "_manifest" / f"{name}_partitions"
    if not ppath.exists():
        # stats="fast" runs (bench) and pre-table-format manifests have no
        # partitions table — that is a failed integrity check, not a crash
        return False
    actual = partition_counts(io.read(name, schema=manifest_schema(m)))
    stored = io.spark.read.schema(actual.schema).parquet(str(ppath))
    j = stored.withColumnRenamed("rows", "m_rows").join(actual, "p_day", "full_outer")
    mismatches = j.where(
        F.col("m_rows").isNull()
        | F.col("rows").isNull()
        | (F.col("m_rows") != F.col("rows"))
    ).count()
    total = stored.agg(F.sum("rows").alias("t")).first()["t"] or 0
    return mismatches == 0 and int(total) == m["rows"]
