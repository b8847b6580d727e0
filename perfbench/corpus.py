"""Seeded workload inputs, generated outside every timed region.

Two inputs, both cached per (kind, seed) under the work directory so that
repeated runs with one seed reuse the same files:

- a transcripts corpus ``(conv_id, turn_idx, role, text, tool, ts)`` with
  the engine generator's shape — one hot conversation holding 20% of the
  turns plus a zipf(1.5) tail of conversation sizes, bursty/normal/long
  gaps — but bounded to a 30-day calendar: each conversation's offsets
  are rescaled into the window, so a table has 30 day partitions instead
  of one per day of a multi-year span. ``ts`` stays non-decreasing in
  ``turn_idx`` (a non-negative rescale of a cumulative sum).
- an ``events`` table shaped like the repository's sf0.1 testdata (100k
  events, 1500 users, 30 days, five event types), plus one-row
  placeholders for the other tables ``__spark_entry__`` registers as
  views; the benchmarked queries read only ``events``.

Each output directory holds ``_meta.json`` describing what was generated.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = 1704067200  # 2024-01-01T00:00:00Z
DAYS = 30
DAY_US = 86_400_000_000
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["bash", "read", "edit", "search", "none"])
WORDS = np.array(
    "the quick brown fox jumps over lazy dog spark shuffle rollup spine gap "
    "tier block window flag check conv turn latency tool agent text stream".split()
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PLACEHOLDER_TABLES = ("lineitem", "orders", "customer", "nation", "documents", "embeddings")
TEXT_POOL = 4096
FILES = 8  # parquet files per corpus, whatever the core count


def _conv_sizes(rng: np.random.Generator, n_turns: int, n_convs: int) -> np.ndarray:
    hot = int(n_turns * 0.20)
    rest = n_turns - hot
    w = rng.zipf(1.5, size=n_convs - 1).astype(np.float64)
    sizes = np.maximum(1, np.round(w / w.sum() * rest)).astype(np.int64)
    sizes[np.argmax(sizes)] += rest - sizes.sum()
    if sizes.min() < 1:
        raise ValueError("n_turns too small for n_convs")
    return np.concatenate([[hot], sizes])


def gen_corpus(n_turns: int, n_convs: int, seed: int) -> pa.Table:
    """Calendar-bounded transcripts, sorted by (conv_id, turn_idx)."""
    rng = np.random.default_rng(seed)
    sizes = _conv_sizes(rng, n_turns, n_convs)
    conv = np.repeat(np.arange(sizes.size), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn_idx = np.arange(n_turns) - np.repeat(starts, sizes)

    kind = rng.choice(3, size=n_turns, p=[0.05, 0.90, 0.05])
    gaps = np.where(
        kind == 0, 0.0,
        np.where(kind == 1, rng.uniform(1.0, 120.0, n_turns),
                 rng.uniform(3600.0, 6 * 3600.0, n_turns)),
    )
    gaps[starts] = 0.0
    offset = np.cumsum(gaps)
    offset -= np.repeat(offset[starts], sizes)  # seconds since the conv's first turn

    # rescale each conversation into the window, then place it uniformly
    span_s = DAYS * 86400.0 - 1.0
    dur = offset[np.cumsum(sizes) - 1]
    scale = np.where(dur > span_s, span_s / np.maximum(dur, 1.0), 1.0)
    start = rng.uniform(0.0, 1.0, sizes.size) * (span_s - dur * scale)
    ts_s = EPOCH + np.repeat(start, sizes) + offset * np.repeat(scale, sizes)
    ts_us = np.floor(ts_s * 1e6).astype(np.int64)

    role = ROLES[rng.choice(4, size=n_turns, p=[0.42, 0.42, 0.06, 0.10])]
    tool_raw = TOOLS[rng.choice(5, size=n_turns)]
    tool = np.where((role == "tool") | (rng.random(n_turns) < 0.15), tool_raw, None)
    # texts drawn from a seeded pool of sentences (0-24 words each, 2% empty)
    pool = [" ".join(rng.choice(WORDS, size=k)) for k in rng.integers(0, 25, size=TEXT_POOL)]
    pool[0] = ""
    pick = rng.integers(1, TEXT_POOL, size=n_turns)
    pick[rng.random(n_turns) < 0.02] = 0

    return pa.table({
        "conv_id": pa.array([f"conv_{c:06d}" for c in range(sizes.size)])
        .take(pa.array(conv)),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(role, pa.string()),
        "text": pa.array(pool, pa.string()).take(pa.array(pick)),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
    })


def gen_events(seed: int, n_events: int = 100_000, n_users: int = 1500) -> pa.Table:
    """sf0.1-shaped events: ts sorted and unique, event_id in ts order."""
    rng = np.random.default_rng(seed)
    span_us = DAYS * DAY_US
    ts = np.unique(rng.integers(0, span_us, size=n_events + n_events // 10))
    ts = np.sort(rng.choice(ts, size=n_events, replace=False)) + EPOCH * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
    })


def _publish(tmp: str, out: str) -> str:
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def corpus_dir(work: str, seed: int, n_turns: int, n_convs: int) -> str:
    """Path of the cached corpus for ``seed``, generating it on first use."""
    out = os.path.join(work, "inputs", f"corpus-s{seed}-n{n_turns}-c{n_convs}-f{FILES}")
    if os.path.exists(os.path.join(out, "_meta.json")):
        return out
    table = gen_corpus(n_turns, n_convs, seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    day = (ts // DAY_US).astype(np.int64)
    days = np.unique(day)
    names, inverse = np.unique(
        table.column("conv_id").to_numpy(zero_copy_only=False), return_inverse=True)
    counts = np.bincount(inverse)
    meta = {
        "seed": seed,
        "turns": table.num_rows,
        "conversations": int(counts.size),
        "days": int(days.size),
        "largest_conversation_share": round(float(counts.max() / table.num_rows), 4),
        "largest_conversations": [str(names[i]) for i in np.argsort(-counts)[:10]],
        "first_day": str(np.datetime64(int(days[0]), "D")),
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    return _publish(tmp, out)


def events_dir(work: str, seed: int) -> str:
    """Path of the cached sf0.1-shaped table set for ``seed``."""
    out = os.path.join(work, "inputs", f"events-s{seed}")
    if os.path.exists(os.path.join(out, "_meta.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    events = gen_events(seed)
    pq.write_table(events, os.path.join(tmp, "events.parquet"))
    for name in PLACEHOLDER_TABLES:
        pq.write_table(pa.table({"placeholder": [0]}), os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump({"seed": seed, "events": events.num_rows,
                   "users": int(len(set(events.column("user_id").to_pylist())))}, f)
    return _publish(tmp, out)
