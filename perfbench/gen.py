"""Seeded input generators for the benchmark (numpy + pyarrow, no Spark).

The transcript table follows the closed-form shape of the shipped
generator (``cerberus_spark.sources.transcripts``): the same vocabulary,
turn counts, role/tool/text/ts formulas and default injection moduli.
The constants are copied here on purpose, so a later change to the
program's generator cannot silently change the benchmark's inputs.  The
seed picks which conversation numbers are generated (a random offset),
so every seed yields a different table with the same default injection
rates.  The near-duplicate corpus of the ``clean`` layer is seeded too.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array([
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa",
])
VALID_TOOLS = np.array(["search", "calculator", "python", "browser", "sql"])
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
MOD_HOT, HOT_FACTOR = 997, 100
MOD_ROLE, MOD_NULL_TEXT, MOD_EMPTY_TEXT = 611, 509, 503
MOD_BAD_TOOL, MOD_STRAY_TOOL, MOD_DUP, TOOL_TURN = 97, 479, 499, 11

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# every text body is a function of (start word, word count) only
_BODIES = np.array(
    [" ".join(WORDS[(s + 7 * k) % 16] for k in range(1, n + 1))
     for s in range(16) for n in range(5, 45)],
    dtype=object,
)


def transcripts(seed: int, n_convs: int) -> dict[str, np.ndarray]:
    """Columns of a transcript table, sorted by (conv, turn)."""
    rng = np.random.default_rng(seed)
    c0 = int(rng.integers(0, 10_000_000))
    conv = np.arange(c0, c0 + n_convs, dtype=np.int64)
    n_turns = 3 + conv % 8
    n_turns = np.where(conv % MOD_HOT == 0, n_turns * HOT_FACTOR, n_turns)
    c = np.repeat(conv, n_turns)
    starts = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    i = np.arange(len(c), dtype=np.int64) - starts

    is_tool = (i > 0) & ((c + i) % TOOL_TURN == 3)
    role = np.where(i % 2 == 1, "user", "assistant").astype(object)
    role[(c * 31 + i) % MOD_ROLE == 0] = "critic"
    role[is_tool] = "tool"
    role[i == 0] = "system"

    n_words = 5 + (c + i * 3) % 40
    text = _BODIES[((c * 131 + i * 17) % 16) * 40 + (n_words - 5)].copy()
    text[(c * 17 + i) % MOD_EMPTY_TEXT == 1] = ""
    text[(c * 17 + i) % MOD_NULL_TEXT == 0] = None

    tool = np.full(len(c), None, dtype=object)
    stray = ~is_tool & ((c * 7 + i) % MOD_STRAY_TOOL == 0) & (i > 0)
    tool[stray] = VALID_TOOLS[c[stray] % 5]
    tool[is_tool] = VALID_TOOLS[(c[is_tool] + i[is_tool]) % 5]
    tool[is_tool & ((c * 13 + i) % MOD_BAD_TOOL == 0)] = "ghost_tool"

    cols = {
        "conv_id": np.char.mod("conv-%08d", c).astype(object),
        "turn_idx": i.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": (BASE_EPOCH + c * 60 + i * 7) * 1_000_000,
    }
    dup = np.flatnonzero((i == 1) & (c % MOD_DUP == 3))
    order = np.sort(np.concatenate([np.arange(len(c)), dup]), kind="stable")
    return {k: v[order] for k, v in cols.items()}


def near_dup_conversations(seed: int, n_convs: int, dup_share: float = 0.2) -> dict:
    """A corpus whose near-duplicate structure comes from the seed:
    conversations of random texts over a large vocabulary, of which
    ``dup_share`` are copies of another conversation with one turn
    replaced.  Every conversation follows the transcript grammar
    except a seeded 5%, which open with an assistant turn."""
    rng = np.random.default_rng(seed + 2_000_029)
    orig = rng.integers(4, 12, n_convs)
    total = int(orig.sum())
    vocab = np.char.mod("w%05d", np.arange(20_000)).astype(object)
    words = vocab[rng.integers(0, len(vocab), (total, 6))]
    texts = np.array([" ".join(r) for r in words], dtype=object)
    starts = np.cumsum(orig) - orig
    src = np.arange(n_convs)
    dups = np.flatnonzero(rng.random(n_convs) < dup_share)
    src[dups] = rng.integers(0, n_convs, len(dups))
    n_turns = orig[src]

    edited = set(dups[src[dups] != dups].tolist())
    conv, idx, text = [], [], []
    for k in range(n_convs):
        s, n = starts[src[k]], n_turns[k]
        t = texts[s:s + n].copy()
        if k in edited:
            t[rng.integers(0, n)] = "edited " + t[0]
        conv.append(np.full(n, k))
        idx.append(np.arange(n))
        text.append(t)
    c = np.concatenate(conv)
    i = np.concatenate(idx)
    role = np.where(i == 0, "system", np.where(i % 2 == 1, "user", "assistant")).astype(object)
    bad = rng.random(n_convs) < 0.05
    role[(i == 0) & bad[c]] = "assistant"
    return {
        "conv_id": np.char.mod("conv-%08d", c).astype(object),
        "turn_idx": i.astype(np.int32),
        "role": role,
        "text": np.concatenate(text),
        "tool": np.full(len(c), None, dtype=object),
        "ts": (BASE_EPOCH + c * 60 + i * 7) * 1_000_000,
    }


def write(cols: dict[str, np.ndarray], path: str, n_files: int) -> list[str]:
    """Write ``cols`` as ``n_files`` parquet files split on row ranges
    (rows stay in (conv, turn) order); returns the file paths."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in SCHEMA], schema=SCHEMA)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for k in range(n_files):
        p = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), p)
        paths.append(p)
    return paths
