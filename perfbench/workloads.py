"""The benchmark's workloads: inputs, one timed operation, and output checks.

Each workload generates its inputs from the seed (``generate``, before the
session exists), then runs its operation repeatedly (``stage`` untimed,
``op`` timed). ``check`` verifies
one operation's outputs against facts known from the generated inputs,
reading the written tables with pyarrow rather than through the engine.
``corrupt`` drops one row from an output table; the smoke test uses it to
prove the checks catch a wrong output.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

TABLES = ("ingest", "filled", "treated", "rollup_1m", "rollup_1h", "rollup_1d", "chunks")
TIERS = ("rollup_1m", "rollup_1h", "rollup_1d")
CHUNKED = ("turn_count", "token_sum", "tool_calls")

#: input sizes per --size: "full" is what the benchmark measures; "tiny" is
#: for the smoke test only
SIZES = {
    "batch_rollup": {
        "full": {"turns": 24_000, "days": 2, "mega": 2_000},
        "tiny": {"turns": 3_000, "days": 2, "mega": 300},
    },
    "stream_ingest": {
        "full": {"turns": 20_000, "days": 2, "mega": 2_000, "file_turns": 1_300,
                 "file_hours": 6, "late_frac": 0.02, "files": 24},
        "tiny": {"turns": 2_000, "days": 2, "mega": 200, "file_turns": 200,
                 "file_hours": 6, "late_frac": 0.05, "files": 24},
    },
}


def table_files(*roots: Path) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of the data files under ``roots``, skipping
    lineage manifests, stream checkpoints and marker/checksum files."""
    out = {}
    for root in roots:
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if d not in ("_manifest", "checkpoints")]
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


def read_table(path: Path, columns=None) -> pd.DataFrame:
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pandas()


def drop_one_row(table_dir: Path) -> None:
    """Rewrite the first non-empty data file of a table without its first row."""
    for p in sorted(table_dir.rglob("*.parquet")):
        t = pq.read_table(p, partitioning=None)
        if t.num_rows:
            pq.write_table(t.slice(1), p)
            return
    raise RuntimeError(f"no rows to drop under {table_dir}")


def tier_problems(wd: Path, ingest_rows: int) -> list[str]:
    """Every tier must count each ingested turn exactly once."""
    out = []
    for t in TIERS:
        s = int(read_table(wd / t, ["turn_count"]).turn_count.sum())
        if s != ingest_rows:
            out.append(f"{t}: sum(turn_count)={s} != ingest rows {ingest_rows}")
    return out


class Workload:
    name = ""
    #: warm operations a run measures at least, whatever ``--seconds`` says
    min_ops = 1

    def __init__(self, work: Path, seed: int, size: str):
        self.work, self.seed, self.p = work, seed, SIZES[self.name][size]

    def stage(self, i: int) -> None:
        pass

    def max_ops(self) -> int:
        return 10**6

    def out_dirs(self, i: int) -> list[Path]:
        """Where operation ``i`` writes its tables."""
        raise NotImplementedError

    def layer_extras(self, spark, i: int) -> dict:
        """Per-op layer counters read from the filesystem (traced runs)."""
        return {}

    def cleanup(self, i: int) -> None:
        pass


class BatchRollup(Workload):
    """Cold-workdir ``run_pipeline`` with the CLI defaults over a pre-written
    transcripts table: ingest, gap-fill, treatment, the 1m/1h/1d tiers and
    Gorilla chunks, each a partitioned table with lineage."""

    name = "batch_rollup"
    min_ops = 2

    def generate(self) -> None:
        df = gen.transcripts(self.seed, self.p["turns"], self.p["days"], self.p["mega"])
        self.input = self.work / "input" / "transcripts"
        for k, part in enumerate(np.array_split(df, 4)):  # 4 files → 4 scan tasks
            gen.write_transcripts(part, str(self.input / f"part-{k}.parquet"))
        self.turns = len(df)

    def wd(self, i: int) -> Path:
        return self.work / "ops" / f"pipeline-{i}"

    def out_dirs(self, i: int) -> list[Path]:
        return [self.wd(i)]

    def op(self, spark, i: int) -> dict:
        from jobs.rollup_job import run_pipeline

        self.summary = run_pipeline(
            spark, str(self.wd(i)), input_table=str(self.input),
            chunked=True, stats="full", n_buckets=8,
        )
        return self.turns

    def check(self, spark, i: int) -> list[str]:
        from pneuma_treatment_spark.compression.gorilla import decode_chunks
        from pneuma_treatment_spark.io.tableio import TableIO
        from pneuma_treatment_spark.plans.lineage import verify_partition_lineage

        wd, st = self.wd(i), self.summary["stages"]
        bad = [f"stage {t} missing from summary" for t in TABLES if t not in st]
        if bad:
            return bad
        ingest = len(read_table(wd / "ingest", ["turn_idx"]))
        if ingest != self.turns or st["ingest"]["rows"] != self.turns:
            bad.append(f"ingest rows {ingest} (summary {st['ingest']['rows']}) != input {self.turns}")
        if st["treated"]["rows"] != st["filled"]["rows"]:
            bad.append(f"treated rows {st['treated']['rows']} != filled rows {st['filled']['rows']}")
        bad += tier_problems(wd, ingest)
        io = TableIO(spark, str(wd), n_buckets=8)
        with ThreadPoolExecutor(len(TABLES)) as pool:  # seven small independent jobs
            green = list(pool.map(lambda t: verify_partition_lineage(io, t), TABLES))
        bad += [f"lineage of {t} is not green" for t, ok in zip(TABLES, green) if not ok]
        # decoded chunks must equal the tier rows on the chunked columns
        ch = read_table(wd / "chunks", ["conv_id", "tier", "metric", "chunk"])
        lens, ts, vals = decode_chunks(list(ch.chunk))
        pts = pd.DataFrame({
            "conv_id": np.repeat(ch.conv_id.to_numpy(), lens),
            "tier": np.repeat(ch.tier.astype(str).to_numpy(), lens),
            "metric": np.repeat(ch.metric.to_numpy(), lens),
            "ts": ts, "value": vals,
        })
        tiers = pd.concat(
            read_table(wd / t, ["conv_id", "tier", "bucket_ts", *CHUNKED]) for t in TIERS
        )
        tiers["ts"] = tiers.bucket_ts.astype("datetime64[us]").astype("int64")
        want = tiers.melt(["conv_id", "tier", "ts"], list(CHUNKED), "metric", "value")
        key = ["conv_id", "tier", "metric", "ts", "value"]
        got = pts[key].sort_values(key, ignore_index=True)
        want = want[key].astype({"value": "float64"}).sort_values(key, ignore_index=True)
        if not got.equals(want):
            bad.append(f"decoded chunks ({len(got)} points) != tier rows ({len(want)} points)")
        return bad

    def corrupt(self, i: int) -> None:
        drop_one_row(self.wd(i) / "rollup_1m")

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.wd(i), ignore_errors=True)

    def layer_extras(self, spark, i: int) -> dict:
        from pneuma_treatment_spark.compression.gorilla import decode_chunks, encode_chunks

        wd, out = self.wd(i), {}
        for t in TABLES:
            files = table_files(wd / t)
            out[f"stage.{t}.out_bytes"] = sum(v[0] for v in files.values())
            out[f"stage.{t}.files"] = len(files)
        points = sum(len(read_table(wd / t, ["turn_count"])) for t in TIERS) * len(CHUNKED)
        out["chunks.bytes_per_point"] = out["stage.chunks.out_bytes"] / points
        # driver-side Gorilla codec throughput on this run's 1m series
        m1 = read_table(wd / "rollup_1m", ["conv_id", "bucket_ts", "token_sum"])
        m1 = m1.sort_values(["conv_id", "bucket_ts"])
        ts = m1.bucket_ts.astype("datetime64[us]").astype("int64").to_numpy()
        vals = m1.token_sum.astype("float64").to_numpy()
        lengths = m1.groupby("conv_id", sort=False).size().to_numpy()
        mb = (ts.nbytes + vals.nbytes) / 1e6
        enc, dec = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            blobs = encode_chunks(ts, vals, lengths)
            t1 = time.perf_counter()
            decode_chunks(blobs)
            enc.append(t1 - t0)
            dec.append(time.perf_counter() - t1)
        out["gorilla.encode_mb_s"] = mb / float(np.median(enc))
        out["gorilla.decode_mb_s"] = mb / float(np.median(dec))
        return out


class StreamIngest(Workload):
    """The hot end as a closed loop with one scheduler: each operation lands
    one arrival file and runs one ``run_stream_cycle`` (fused rollup+chunk
    sink and dead-letter capture, ``availableNow``) over it. From the second
    file on, a small share of rows are late turns of batch conversations,
    behind the watermark, so the capture writes. A traced run ends with the
    heal: ``run_pipeline`` builds the batch tables from the base transcripts
    and ``backfill_pipeline`` applies every captured row to them."""

    name = "stream_ingest"
    min_ops = 5

    def generate(self) -> None:
        p = self.p
        self.base = gen.transcripts(self.seed, p["turns"], p["days"], p["mega"])
        self.files = gen.arrivals(
            self.seed, self.base, p["files"], p["file_turns"], p["file_hours"], p["late_frac"]
        )
        self.src, self.batch, self.swd = (self.work / d for d in ("arrivals", "batch", "stream"))
        self.src.mkdir(parents=True)

    def max_ops(self) -> int:
        return len(self.files)

    def out_dirs(self, i: int) -> list[Path]:
        return [self.swd]

    def stage(self, i: int) -> None:
        """Land arrival file ``i`` (mtime-ordered, as the file source batches)."""
        path = self.src / f"arrival-{i:04d}.parquet"
        gen.write_transcripts(self.files[i], str(path))
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    def op(self, spark, i: int) -> dict:
        from jobs.stream_ingest_job import run_stream_cycle

        dead = self.swd / "deadletter"
        seen = set(dead.glob("batch_id=*"))
        run_stream_cycle(spark, str(self.src), str(self.swd))
        self.new_dead = sorted(set(dead.glob("batch_id=*")) - seen)
        return len(self.files[i])

    def check(self, spark, i: int) -> list[str]:
        bad = []
        key = ["conv_id", "turn_idx"]
        f = self.files[i]
        late = f[f.late]
        dead = (
            pd.concat(read_table(d, key) for d in self.new_dead)
            if self.new_dead else pd.DataFrame(columns=key)
        )
        if sorted(map(tuple, dead[key].values)) != sorted(map(tuple, late[key].values)):
            bad.append(f"cycle {i}: dead-letter rows {len(dead)} != late rows {len(late)}")
        # every on-time source row is counted once in the rollup sink: no
        # bucket emitted twice, each emitted bucket's count matches the
        # source, and every closed bucket has been emitted
        sink = read_table(self.swd / "rollup_1m_stream", ["conv_id", "bucket_ts", "turn_count"])
        src = pd.concat(self.files[: i + 1])
        src = src[~src.late]
        want = src.groupby(["conv_id", src.ts.dt.floor("min").rename("bucket_ts")]).size()
        sink["bucket_ts"] = sink.bucket_ts.astype("datetime64[us]")
        got = sink.set_index(["conv_id", "bucket_ts"]).turn_count
        if got.index.has_duplicates:
            bad.append(f"cycle {i}: a rollup bucket was emitted twice")
        elif not got.eq(want.reindex(got.index)).all():
            bad.append(f"cycle {i}: emitted bucket counts differ from the source")
        # availableNow ends with a no-data batch that emits what this cycle's
        # watermark (max event time - 10 min) closed
        closed = src.ts.max() - pd.Timedelta(minutes=11)
        missing = want[want.index.get_level_values(1) < closed].index.difference(got.index)
        if len(missing):
            bad.append(f"cycle {i}: {len(missing)} closed buckets never emitted")
        return bad

    def corrupt(self, i: int) -> None:
        drop_one_row(self.swd / "rollup_1m_stream")

    def epilogue(self, spark, n_ops: int) -> tuple[dict, list[str]]:
        """The heal (traced runs): build the batch tables, then backfill every
        captured dead-letter row into them; returns (layer extras, problems)."""
        from jobs.rollup_job import run_pipeline
        from pneuma_treatment_spark.plans.backfill import backfill_pipeline

        base = self.work / "input" / "transcripts" / "part-0.parquet"
        gen.write_transcripts(self.base, str(base))
        run_pipeline(spark, str(self.batch), input_table=str(base.parent), chunked=True,
                     stats="full", n_buckets=8)
        before = table_files(self.batch)
        dead = sorted((self.swd / "deadletter").glob("batch_id=*"))
        backfill_pipeline(spark, str(self.batch), spark.read.parquet(*map(str, dead)))
        after = table_files(self.batch)
        extras = {"backfill.bytes_rewritten_frac":
                  written_bytes(before, after) / sum(v[0] for v in after.values())}
        key = ["conv_id", "turn_idx"]
        healed = pd.concat(f[f.late] for f in self.files[:n_ops])[key]
        ingest = read_table(self.batch / "ingest", key)
        bad = []
        if len(ingest) != len(self.base) + len(healed):
            bad.append(f"ingest rows {len(ingest)} != {len(self.base)} + {len(healed)} healed")
        if len(healed.merge(ingest, on=key)) != len(healed):
            bad.append("a healed row is missing from ingest")
        return extras, bad + tier_problems(self.batch, len(ingest))


WORKLOADS = {w.name: w for w in (BatchRollup, StreamIngest)}
