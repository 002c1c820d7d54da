"""Seeded input generators for the benchmark (the load side).

Everything here is NumPy + pyarrow: no Spark job runs to make an input, so
generation is never timed as part of the system under test and the live
feeder can write files while Spark is measuring. The same seed gives the
same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Same shape as the package's own generator: a small vocabulary with
# multibyte entries, five tools, roles alternating user / response.
VOCAB = np.array([
    "alpha", "beta", "gamma", "delta", "query", "result", "token", "stream",
    "window", "state", "join", "merge", "shuffle", "spark", "ledger", "turn",
    "données", "模型", "ответ", "naïve", "東京", "🙂ok",
], dtype=object)
TOOLS = np.array(["search", "code", "fetch", "browse", "calc"], dtype=object)

TRANSCRIPTS_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
])

EPOCH_START = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
# conversation shape: Zipf-like sizes, turns 20 s apart with up to 15 s of
# event-time disorder (well inside a 2-minute watermark)
ZIPF_A = 1.8
MAX_TURNS = 64
HOT_CONVS = 2
CONV_SPACING_S = 4.0
TURN_STEP_S = 20
DISORDER_S = 15


def _texts(rng: np.random.Generator, n: int) -> np.ndarray:
    n_words = rng.integers(1, 41, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    cuts = np.cumsum(n_words)[:-1]
    return np.array([" ".join(w) for w in np.split(words, cuts)], dtype=object)


def transcripts(seed: int, n_convs: int, hot_turns: int) -> pa.Table:
    """Transcript turns sorted by event time.

    Conversation sizes follow a Zipf-like power law (capped at
    ``MAX_TURNS``) plus ``HOT_CONVS`` hot conversations of ``hot_turns``
    turns. The sizes are the law's quantiles, so the total turn count is
    the same for every seed; the seed shuffles which conversation gets
    which size. Conversation i starts near ``i * CONV_SPACING_S``.
    """
    rng = np.random.default_rng(seed)
    u = (np.arange(n_convs) + 0.5) / n_convs
    sizes = np.minimum(np.floor(u ** (-1 / (ZIPF_A - 1))).astype(np.int64), MAX_TURNS)
    sizes[:HOT_CONVS] = hot_turns
    sizes = rng.permutation(sizes)
    conv = np.repeat(np.arange(n_convs), sizes)
    starts = np.cumsum(np.concatenate([[0], sizes]))[:-1]
    turn = np.arange(len(conv)) - np.repeat(starts, sizes)
    n = len(conv)

    sys_first = rng.random(n_convs) < 1 / 7
    is_resp = turn % 2 == 1
    tool_slot = rng.random(n) < 1 / 5
    role = np.where(is_resp, np.where(tool_slot, "tool", "assistant"), "user").astype(object)
    role[(turn == 0) & sys_first[conv]] = "system"
    is_tool = role == "tool"
    tool = np.full(n, None, dtype=object)
    tool[is_tool] = TOOLS[rng.integers(0, len(TOOLS), int(is_tool.sum()))]

    text = _texts(rng, n)
    text[rng.random(n) < 1 / 97] = ""
    failed = is_tool & (rng.random(n) < 1 / 13)
    text[failed] = np.array(["error: " + t for t in text[failed]], dtype=object)

    conv_start = np.arange(n_convs) * CONV_SPACING_S + rng.uniform(0, CONV_SPACING_S, n_convs)
    jitter = rng.integers(-DISORDER_S, DISORDER_S + 1, n)
    offset_us = ((conv_start[conv] + turn * TURN_STEP_S + jitter) * 1e6).astype(np.int64)
    ts_us = int(EPOCH_START.timestamp() * 1e6) + offset_us

    order = np.argsort(ts_us, kind="stable")
    return pa.table(
        {
            "conv_id": pa.array([f"conv_{c:08d}" for c in conv[order]], pa.string()),
            "turn_idx": pa.array(turn[order].astype(np.int32)),
            "role": pa.array(role[order], pa.string()),
            "text": pa.array(text[order], pa.string()),
            "tool": pa.array(tool[order], pa.string()),
            "ts": pa.array(ts_us[order], pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPTS_SCHEMA,
    )


def write_atomic(table: pa.Table, directory: str, name: str, mtime: float) -> None:
    """Write one parquet file so that a file-stream source never lists it
    half-written: write under a hidden name, set its mtime, then rename."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(directory, name))


def write_event_time_slices(table: pa.Table, directory: str, n_files: int) -> None:
    """Split an event-time-sorted table into ``n_files`` contiguous slices,
    with strictly increasing mtimes so the file source takes them in
    event-time order."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        write_atomic(table.slice(lo, hi - lo), directory, f"part-{i:05d}.parquet", 1_700_000_000.0 + i)


def flush_row(after: pa.Table) -> pa.Table:
    """A system row 30 days after ``after``'s last event: it pushes the
    watermark past every real event. Its conv_id is ``flush``; checks drop it."""
    max_ts = pa.compute.max(after["ts"]).as_py()
    return pa.table(
        {
            "conv_id": ["flush"],
            "turn_idx": pa.array([0], pa.int32()),
            "role": ["system"],
            "text": [""],
            "tool": pa.array([None], pa.string()),
            "ts": pa.array([max_ts + dt.timedelta(days=30)], pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPTS_SCHEMA,
    )


# --- driver tables for the registry queries ---------------------------------
# Same schemas as the driver's fixture tables; the registry queries read
# ``{dir}/<table>.parquet``.
DOC_WORDS = np.array(
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row".split(),
    dtype=object,
)
LANGS = np.array(["en", "zh", "es", "de", "fr"], dtype=object)


def driver_tables(seed: int, directory: str, n_events: int, n_users: int, n_docs: int,
                  n_vecs: int) -> dict[str, int]:
    """Write events, documents and embeddings parquet files; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)

    ts0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(
            np.array(["click", "view", "signup", "purchase", "error"], dtype=object)[
                rng.integers(0, 5, n_events)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
    })

    # documents: random word strings; one in ten is a near duplicate of an
    # earlier base document, made as the sf0.1 fixture makes its near
    # duplicates: the base text with " dup" appended. A base is never itself
    # a duplicate, so near-dup clusters stay small (diameter <= 2).
    n_words = rng.integers(20, 90, n_docs)
    words = DOC_WORDS[rng.integers(0, len(DOC_WORDS), int(n_words.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(n_words)[:-1])]
    is_dup = rng.random(n_docs) < 0.1
    is_dup[0] = False
    for i in np.nonzero(is_dup)[0]:
        base = int(rng.integers(0, i))
        while is_dup[base]:
            base = int(rng.integers(0, i))
        texts[i] = texts[base] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # embeddings: unit vectors around ten weak label centres
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centres = rng.normal(0, 1, (10, 64))
    vec = rng.normal(0, 1, (n_vecs, 64)) + 0.15 * centres[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    counts = {}
    for name, table in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

