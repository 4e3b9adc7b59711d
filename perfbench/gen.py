"""Seeded transcript generator owned by the benchmark.

Writes a parquet table (conv_id, turn_idx, role, text, tool, ts) whose
every value follows from the seed; the program under test only reads the
parquet. Row shape:

- 2..80 turns per conversation, every 97th conversation at 4096 turns;
- `hot_share` > 0 adds one conversation holding that share of all turns;
- ~1/3 of turns carry a tool;
- a session gap (> 1800 s) every 5..50 turns of a conversation;
- ~10% of turns tie the previous turn's ts, ~10% step 500 ms back;
- `gate_mix` spreads text lengths past the 4000-byte bound: ~12% null,
  ~11% empty, ~2% over length (25% invalid); otherwise ~4% of texts are
  null.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ["Lorem", "ipsum", "DOLOR", "sit", "amet", "Consectetur",
          "adipiscing", "ELIT", "sed", "do", "Eiusmod", "tempor",
          "incididunt", "ut", "LABORE", "et", "Dolore", "magna", "aliqua"]
FILLER = " ".join(_WORDS[i % len(_WORDS)] for i in range(1200))
FILES = 8  # files per table, the same on every core count


def expected_turns(n_convs):
    return round(n_convs * (41.0 * 96 / 97 + 4096.0 / 97))


def turns(seed, n_convs, hot_share=0.0, gate_mix=False):
    """Returns the generated table as a pyarrow.Table."""
    rng = np.random.default_rng(seed)
    conv = np.arange(1, n_convs + 1)
    n = rng.integers(2, 81, size=n_convs)
    n[conv % 97 == 96] = 4096
    if hot_share > 0:
        hot = int(n.sum() * hot_share / (1 - hot_share))
        conv = np.concatenate([[0], conv])
        n = np.concatenate([[hot], n])
    rows = int(n.sum())
    starts = np.repeat(np.cumsum(n) - n, n)
    i = np.arange(rows) - starts

    start = np.repeat(1_700_000_000 + rng.integers(0, 30 * 86400, size=len(n)), n)
    gap_every = np.repeat(rng.integers(5, 51, size=len(n)), n)
    base = start + i * 60 + (i // gap_every) * 7200 + rng.integers(0, 30, size=rows)
    prev = np.concatenate([[0], base[:-1]])
    kind = rng.integers(0, 10, size=rows)
    ts = base * 1_000_000
    ts = np.where((i > 0) & (kind == 0), prev * 1_000_000, ts)
    ts = np.where((i > 0) & (kind == 1), prev * 1_000_000 - 500_000, ts)

    u = rng.integers(0, 1000, size=rows)
    off = rng.integers(0, 200, size=rows)
    if gate_mix:
        length = np.where(u < 20, rng.integers(4001, 4201, size=rows),
                          rng.integers(1, 201, size=rows))
        null = (u >= 20) & (u < 140)
        empty = (u >= 140) & (u < 250)
    else:
        length = rng.integers(16, 256, size=rows)
        null = u < 40
        empty = np.zeros(rows, dtype=bool)
    text = ["" if e else "  " + FILLER[o:o + ln] + " "
            for o, ln, e in zip(off.tolist(), length.tolist(), empty.tolist())]

    roles = pa.array(["user"] * 8 + ["assistant"] * 8 + ["tool"] * 3 + ["system"])
    tools = pa.array([f"tool_{k}" for k in range(7)] + [None])
    tool = np.where(rng.integers(0, 3, size=rows) == 0,
                    rng.integers(0, 7, size=rows), 7)
    conv_ids = pa.array([f"c{x:07d}" for x in conv.tolist()])

    return pa.table({
        "conv_id": conv_ids.take(pa.array(np.repeat(np.arange(len(n)), n))),
        "turn_idx": pa.array(i.astype(np.int32)),
        "role": roles.take(pa.array(rng.integers(0, 20, size=rows))),
        "text": pa.array(text, mask=null),
        "tool": tools.take(pa.array(tool)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
    })


def write(table, out):
    os.makedirs(out, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for k in range(FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out, f"part-{k:05d}.parquet"))
