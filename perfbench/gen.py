"""Seeded transcript input for the benchmark workloads.

The benchmark owns its input: every workload draws a fresh table from
``numpy.random.default_rng([workload id, seed])``, so one seed always gives
the same parquet bytes and the program only ever sees those files. The
table has the pipeline's transcript schema
(conv_id, turn_idx, role, text, tool, ts) and the text templates its parse
bank recognises (key-value LOG lines, syslog lines, JSON events), plus free
text and a share of deliberately unparsable lines.

Per workload the generator varies what the layers are sensitive to:

- conversation-size skew (rank Zipf, capped) drives the stable-order
  window and the per-conversation aggregate;
- text length and template mix drive the regex parse bank;
- file count drives scan splits and, for the stream, the number of
  micro-batches.

The enrich dimensions are written next to the table. The tool dimension
has no row for ``calc``, so the enrich layer's default fill is exercised.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "code", "browser", "calc"])
SEVERITIES = np.array(["debug", "info", "warning", "err"])
SEV_WEIGHTS = np.array([2, 6, 2, 1]) / 11
COMPONENTS = np.array(["planner", "executor", "memory", "sandbox", "router"])
EVENTS = np.array(["tool_call", "completion", "retry", "handoff"])
MODELS = np.array(["alpha-1", "beta-2", "gamma-3"])
WORDS = np.array(
    (
        "the quick brown fox jumps over lazy dog while agent runs query plan "
        "over table scan and shuffle join with broadcast hash aggregate tool "
        "result returned context window token budget retry handoff summary"
    ).split()
)
_WORD_LIST = WORDS.tolist()
_WORD_LEN = np.char.str_len(WORDS)

TOOL_DIM = {
    "tool": ["search", "code", "browser", "none", "shell"],
    "tool_category": ["retrieval", "execution", "io", "n/a", "execution"],
    "tool_cost_weight": [1.5, 3.0, 2.0, 0.0, 4.0],
}
ROLE_DIM = {
    "role": ["user", "assistant", "system", "tool"],
    "role_group": ["human", "model", "infra", "infra"],
    "severity_default": ["info", "info", "warning", "debug"],
}

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

# bump when the generator's code changes the bytes it writes
VERSION = 1


@dataclass(frozen=True)
class Shape:
    """The input properties one workload fixes."""

    wid: int  # mixed into the seed so workloads never share a table
    turns: int  # target row count
    mean_turns: int  # mean conversation size
    zipf_alpha: float  # 0 = flat Gaussian sizes
    max_turns: int
    files: int
    free_words: tuple[int, int]  # free-text word count range
    syslog_words: tuple[int, int]  # syslog message word count range
    kv_share: float  # of tool-bearing rows rendered as key-value lines
    syslog_share: float  # of remaining rows rendered as syslog lines
    unparsable_share: float = 0.02


SHAPES = {
    # the submitted job's input: Zipf-1.1 conversation skew, fixture mix
    "batch_fanout": Shape(1, 40_000, 50, 1.1, 2_000, 8, (8, 30), (4, 12), 0.55, 0.35),
    # few small files, one micro-batch each; flat conversations and
    # text-heavier lines, so the parse bank's share of a batch grows
    "stream_drain": Shape(2, 8_000, 25, 0.0, 60, 4, (30, 90), (15, 45), 0.40, 0.45),
}

_EPOCH_US = np.datetime64("2025-01-01T00:00:00", "us").astype(np.int64)


def _conv_sizes(rng: np.random.Generator, s: Shape) -> np.ndarray:
    n_convs = max(1, s.turns // s.mean_turns)
    if s.zipf_alpha <= 0:
        sizes = rng.normal(s.mean_turns, s.mean_turns / 4, n_convs).astype(np.int64)
    else:
        rank = np.arange(1, n_convs + 1, dtype=np.float64)
        raw = 1.0 / rank**s.zipf_alpha
        sizes = (raw * (s.mean_turns * n_convs / raw.sum())).astype(np.int64)
        rng.shuffle(sizes)
    return np.clip(sizes, 1, s.max_turns)


def _word_slices(rng: np.random.Generator, lo_hi: tuple[int, int], n: int) -> list[str]:
    """``n`` random word runs, cut from one long random word stream."""
    if n == 0:
        return []
    counts = rng.integers(lo_hi[0], lo_hi[1] + 1, n)
    picks = rng.integers(0, len(_WORD_LIST), int(counts.sum()))
    stream = " ".join(map(_WORD_LIST.__getitem__, picks.tolist()))
    ends = np.cumsum(_WORD_LEN[picks] + 1)
    stops = np.cumsum(counts)
    starts = np.concatenate(([0], ends[stops[:-1] - 1]))
    finish = ends[stops - 1] - 1
    return [stream[a:b] for a, b in zip(starts.tolist(), finish.tolist())]


def cache_key(workload: str, seed: int) -> str:
    """Names one generated input: workload, seed, generator and shape."""
    digest = hashlib.sha1(repr((VERSION, SHAPES[workload])).encode()).hexdigest()[:10]
    return f"{workload}-s{seed}-{digest}"


def generate(workload: str, seed: int) -> pa.Table:
    """The workload's table for ``seed``; rows come out shuffled."""
    s = SHAPES[workload]
    rng = np.random.default_rng([s.wid, seed])
    sizes = _conv_sizes(rng, s)
    n = int(sizes.sum())
    conv = np.repeat(np.arange(len(sizes)), sizes)
    first = np.zeros(n, dtype=bool)
    first[np.concatenate(([0], np.cumsum(sizes)[:-1]))] = True
    turn_idx = np.arange(n) - np.repeat(np.cumsum(sizes) - sizes, sizes)

    role = ROLES[rng.choice(4, n, p=np.array([4, 5, 1, 2]) / 12)]
    role[first] = np.where(rng.random(first.sum()) < 0.3, "system", "user")
    tool_pick = np.isin(role, ("assistant", "tool")) & (rng.random(n) < 0.5)
    tool = np.where(tool_pick, TOOLS[rng.integers(0, 4, n)], "none")

    # ~1% of turns share their predecessor's ts (the order tie-break)
    step_ms = rng.integers(200, 30_001, n)
    step_ms[rng.random(n) < 0.01] = 0
    step_ms[first] = 0
    start_us = _EPOCH_US + rng.integers(0, 90 * 86_400, len(sizes)) * 1_000_000
    cum = np.cumsum(step_ms)
    within = cum - np.repeat(cum[first], sizes)
    ts_us = np.repeat(start_us, sizes) + within * 1000

    r = rng.random(n)
    bad = r < s.unparsable_share
    kv = ~bad & ((role == "tool") | ((tool != "none") & (r < s.kv_share)))
    sl = ~bad & ~kv & ((role == "system") | (r < s.syslog_share))
    js = ~bad & ~kv & ~sl & (role == "assistant") & (r < 0.65)
    free = ~(bad | kv | sl | js)

    text = np.empty(n, dtype=object)
    bad_tail = _word_slices(rng, (3, 8), int(bad.sum()))
    text[bad] = ["LOG lvl= ??? " + w for w in bad_tail]

    k = int(kv.sum())
    sev = SEVERITIES[rng.choice(4, k, p=SEV_WEIGHTS)]
    lat = rng.integers(1, 5001, k)
    status = np.where(rng.random(k) < 0.10, "err", "ok")
    text[kv] = [
        f"LOG lvl={a} tool={b} latency_ms={c} status={d}"
        for a, b, c, d in zip(sev.tolist(), tool[kv].tolist(), lat.tolist(), status.tolist())
    ]

    m = int(sl.sum())
    iso = np.datetime_as_string(ts_us[sl].astype("datetime64[us]"), unit="s")
    sev_u = np.char.upper(SEVERITIES[rng.choice(4, m, p=SEV_WEIGHTS)])
    comp = COMPONENTS[rng.integers(0, len(COMPONENTS), m)]
    msg = _word_slices(rng, s.syslog_words, m)
    text[sl] = [
        f"{a} [{b}] {c}: {d}" for a, b, c, d in zip(iso.tolist(), sev_u.tolist(), comp.tolist(), msg)
    ]

    j = int(js.sum())
    ev = EVENTS[rng.integers(0, len(EVENTS), j)]
    tok = rng.integers(1, 4001, j)
    mod = MODELS[rng.integers(0, len(MODELS), j)]
    text[js] = [
        f'{{"event":"{a}","tokens":{b},"model":"{c}"}}'
        for a, b, c in zip(ev.tolist(), tok.tolist(), mod.tolist())
    ]

    text[free] = _word_slices(rng, s.free_words, int(free.sum()))

    order = rng.permutation(n)
    conv_ids = np.char.add("conv-", np.char.zfill(conv.astype(str), 8))
    return pa.Table.from_arrays(
        [
            pa.array(conv_ids[order], pa.string()),
            pa.array(turn_idx[order].astype(np.int32)),
            pa.array(role[order], pa.string()),
            pa.array(text[order], pa.string()),
            pa.array(tool[order], pa.string()),
            pa.array(ts_us[order].astype("datetime64[us]"), pa.timestamp("us")),
        ],
        schema=SCHEMA,
    )


def write(table: pa.Table, table_dir: str, dims_dir: str, files: int) -> None:
    """Write ``table`` as ``files`` equal parquet parts, plus both dims."""
    os.makedirs(table_dir, exist_ok=True)
    per = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * per, per),
            os.path.join(table_dir, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
    os.makedirs(dims_dir, exist_ok=True)
    pq.write_table(pa.table(TOOL_DIM), os.path.join(dims_dir, "tool_dim.parquet"))
    pq.write_table(pa.table(ROLE_DIM), os.path.join(dims_dir, "role_dim.parquet"))
