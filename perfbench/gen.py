"""Seeded input generators for the benchmark.

The benchmark owns its inputs: they are generated here from ``--seed``
alone, before any timing, and handed to the engine as data (parquet files).
Nothing here imports the engine, so an engine change can never change the
inputs a benchmark run measures. Sizes are fixed counts (total turns, rows),
not draws, so two seeds give inputs of identical size and shape and differ
only in content.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = np.datetime64("2024-03-01T00:00:00", "us")
_DAY_US = 86_400_000_000
_WORDS = np.array(
    "the a of to and in is for on with as by at from or an be this that it "
    "query table row scan join agg window sort merge filter batch stream "
    "spark node lane speed frame mask state rollup tier chunk series gap".split()
)
_TOOLS = np.array(["search", "bash", "python", "browser", "editor"])

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _texts(rng: np.random.Generator, n: int, max_words: int = 40) -> np.ndarray:
    n_words = rng.integers(1, max_words, size=n)
    words = _WORDS[rng.integers(0, len(_WORDS), size=int(n_words.sum()))].tolist()
    ends = np.cumsum(n_words)
    return np.array(
        [" ".join(words[s:e]) for s, e in zip(ends - n_words, ends)], dtype=object
    )


def _conv_turns(
    rng: np.random.Generator, conv_id: str, n: int, start_us: int
) -> dict[str, np.ndarray]:
    """One conversation: alternating roles, regime-switching gaps (bursts of
    seconds between idle stretches of minutes), ~2% of turn indices missing
    so gap-fill has work, nullable text and tool."""
    regime = (rng.integers(0, 2) + np.cumsum(rng.random(n) < 0.06)) % 2
    gaps_s = np.where(regime == 0, rng.exponential(3.0, n), rng.exponential(90.0, n))
    ts = BASE_TS + (start_us + np.cumsum(np.maximum(gaps_s, 1e-3) * 1e6)).astype(
        "timedelta64[us]"
    )
    idx = np.arange(n, dtype=np.int32)
    roles = np.where(idx % 2 == 0, "user", "assistant").astype(object)
    texts = _texts(rng, n)
    texts[rng.random(n) < 0.015] = None
    tools = np.full(n, None, dtype=object)
    tool_mask = (roles == "assistant") & (rng.random(n) < 0.3)
    tools[tool_mask] = _TOOLS[rng.integers(0, len(_TOOLS), size=int(tool_mask.sum()))]
    keep = rng.random(n) >= 0.02
    keep[0] = True
    cols = {
        "conv_id": np.full(n, conv_id, dtype=object),
        "turn_idx": idx,
        "role": roles,
        "text": texts,
        "tool": tools,
        "ts": ts,
    }
    return {k: v[keep] for k, v in cols.items()}


def transcripts(
    seed: int, n_turns: int, n_days: int, mega_turns: int, max_turns: int = 300
) -> pd.DataFrame:
    """Exactly ``n_turns`` transcript rows: one ``mega_turns`` conversation
    (``conv00000000``, the skew case) plus Zipf-sized conversations whose
    starts spread over ``n_days`` days. The multiset of conversation sizes
    is the same for every seed (drawn from a fixed stream); the seed orders
    them and draws everything else."""
    sizes, total = [], mega_turns
    fixed = _rng(0, 0)
    while total < n_turns * 1.05:  # ~2% of turns are dropped; the last conversation is cut
        sizes.append(int(min(fixed.zipf(1.6) + 2, max_turns)))
        total += sizes[-1]
    rng = _rng(seed, 1)
    sizes = [mega_turns, *rng.permutation(sizes)]
    parts, total = [], 0
    for i, size in enumerate(sizes):
        start = int(rng.integers(0, n_days * _DAY_US))
        p = _conv_turns(rng, f"conv{i:08d}", int(size), start)
        take = min(len(p["turn_idx"]), n_turns - total)
        parts.append({k: v[:take] for k, v in p.items()})
        total += take
        if total == n_turns:
            break
    return pd.DataFrame({k: np.concatenate([p[k] for p in parts]) for k in parts[0]})


def arrivals(
    seed: int, base: pd.DataFrame, n_files: int, turns_per_file: int,
    hours_per_file: int, late_frac: float,
) -> list[pd.DataFrame]:
    """Streaming arrival files in event-time order, starting an hour after
    ``base`` ends. File ``k`` holds ``turns_per_file`` turns of new
    conversations stamped inside the ``k``-th slice of ``hours_per_file``
    hours. From the second file on, exactly a ``late_frac`` share of the rows are
    instead late turns of ``base`` conversations (the next free ``turn_idx``,
    stamped just after the conversation's last turn) — far behind any
    watermark the stream holds, so the dead-letter capture takes them and a
    backfill heals them into the batch tables. Keys are unique over all
    files."""
    rng = _rng(seed, 3)
    last = base.groupby("conv_id", sort=True).agg(turn_idx=("turn_idx", "max"), ts=("ts", "max"))
    last = last.drop(index="conv00000000", errors="ignore")
    next_idx = (last.turn_idx + 1).to_dict()
    t0 = (base.ts.max() + np.timedelta64(1, "h")).floor("h").to_datetime64()
    slice_us = hours_per_file * 3_600_000_000
    files = []
    for k in range(n_files):
        n = turns_per_file
        conv = np.array([f"s{k:04d}c{c:04d}" for c in rng.integers(0, 400, size=n)], dtype=object)
        idx = np.zeros(n, dtype=np.int32)
        for c in np.unique(conv):  # turn_idx counts up within each new conversation
            m = conv == c
            idx[m] = np.arange(m.sum())
        ts = t0 + (np.sort(rng.integers(0, slice_us, size=n)) + k * slice_us).astype("timedelta64[us]")
        late = np.sort(rng.choice(n, size=round(late_frac * n), replace=False)) if k else []
        for j in late:
            c = last.index[int(rng.integers(0, len(last)))]
            conv[j], idx[j] = c, next_idx[c]
            ts[j] = last.ts[c] + np.timedelta64(30 * (next_idx[c] - last.turn_idx[c]), "s")
            next_idx[c] += 1
        files.append(
            pd.DataFrame(
                {
                    "conv_id": conv,
                    "turn_idx": idx,
                    "role": np.where(idx % 2 == 0, "user", "assistant"),
                    "text": _texts(rng, n),
                    "tool": None,
                    "ts": ts,
                    "late": np.isin(np.arange(n), late),
                }
            )
        )
    return files


def write_transcripts(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = TRANSCRIPT_SCHEMA.names
    pq.write_table(pa.Table.from_pandas(df[cols], schema=TRANSCRIPT_SCHEMA, preserve_index=False), path)
