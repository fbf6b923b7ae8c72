"""Seeded load generator for the benchmark (numpy + pyarrow only).

Runs in the benchmark process before Spark starts and never imports
Spark or ``tits_spark``: the program under test receives only the
tables built here. The same seed always yields the same tables, and
``digest`` fingerprints them so a run can prove it.

Two inputs:

- ``transcripts``: BASELINE-schema turns
  ``(conv_id, turn_idx, role, text, tool, ts)`` over ``n_days`` UTC days.
  Conversation sizes are Pareto-skewed, the same sizes every day, and
  gaps are lognormal with 5%
  stalls over an hour, so series are irregular and gap-fill has gaps to
  fill. Rows are sorted by ``ts``; ``day_bounds`` slices them per day.
- ``quotes``: ``(ts, venue, bid, ask)`` with one leader venue and
  followers that replay its prices after planted offsets on the 10 ms
  grid. Every row has a bid; the ask side is sparse (about 15% of
  rows), so ASK books stay below ``guess_lag``'s partner threshold and
  only BID pairs are scored.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
DAY_US = 86_400_000_000

_ROLES = np.array(["user", "assistant", "tool"], dtype=object)
_TOOLS = np.array(
    ["", "search", "browser", "python", "bash", "sql", "retrieval", "editor"],
    dtype=object,
)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

QUOTE_SCHEMA = pa.schema([
    ("ts", pa.timestamp("us", tz="UTC")),
    ("venue", pa.string()),
    ("bid", pa.float64()),
    ("ask", pa.float64()),
])

LEADER = "LEAD"
#: follower venue -> planted delay behind the leader, in ms (tau-grid multiples)
FOLLOWER_LAG_MS = {"FA": 20, "FB": 40, "FC": 60, "FD": 90, "FE": 130}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def transcripts(seed: int, n_days: int, convs_per_day: int) -> pa.Table:
    """Turns of ``n_days * convs_per_day`` conversations, sorted by ts.

    Each conversation starts at a uniform instant of its start day and
    may run past midnight; turns past the last day are dropped."""
    rng = _rng(seed, 1)
    n_conv = n_days * convs_per_day
    # every day starts the same quantile-stratified multiset of Pareto
    # (alpha 1.2) sizes, so daily volume does not swing with the seed;
    # the seed decides which conversation gets which size
    u = (np.arange(convs_per_day) + 0.5) / convs_per_day
    sizes = np.minimum(2 + (8.0 * ((1.0 - u) ** (-1 / 1.2) - 0.75)).astype(np.int64), 400)
    n_turns = np.concatenate([rng.permutation(sizes) for _ in range(n_days)])
    start = (
        EPOCH_US
        + np.repeat(np.arange(n_days, dtype=np.int64), convs_per_day) * DAY_US
        + rng.integers(0, DAY_US, n_conv)
    )
    total = int(n_turns.sum())
    conv = np.repeat(np.arange(n_conv), n_turns)
    first = np.cumsum(n_turns) - n_turns
    turn_idx = np.arange(total) - np.repeat(first, n_turns)

    gaps = rng.lognormal(3.0, 1.3, total)
    stall = rng.random(total) < 0.05
    gaps[stall] += 3600.0 + rng.exponential(3600.0, int(stall.sum()))
    gaps_us = np.maximum((gaps * 1e6).astype(np.int64), 1)
    gaps_us[first] = 0
    csum = np.cumsum(gaps_us)
    ts = np.repeat(start, n_turns) + csum - np.repeat(csum[first], n_turns)

    role_code = (turn_idx % 2).astype(np.int64)
    is_tool = rng.random(total) < 0.10
    role_code[is_tool] = 2
    tool_code = np.where(is_tool, rng.integers(1, len(_TOOLS), total), 0)
    lens = np.clip(rng.lognormal(4.6, 0.9, total), 20, 4000).astype(np.int64)
    soup = "".join(
        chr(c) for c in rng.integers(97, 123, 8192 + 4000)
    )
    offs = rng.integers(0, 8192, total)

    keep = ts < EPOCH_US + n_days * DAY_US
    order = np.argsort(ts[keep], kind="stable")
    idx = np.flatnonzero(keep)[order]
    text = [soup[o:o + n] for o, n in zip(offs[idx].tolist(), lens[idx].tolist())]
    return pa.table(
        {
            "conv_id": pa.array([f"conv{c:07d}" for c in conv[idx].tolist()], pa.string()),
            "turn_idx": pa.array(turn_idx[idx].astype(np.int32)),
            "role": pa.array(_ROLES[role_code[idx]], pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(_TOOLS[tool_code[idx]], pa.string()),
            "ts": pa.array(ts[idx], pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def day_bounds(table: pa.Table, n_days: int) -> np.ndarray:
    """Row offsets of each day in a ts-sorted transcripts table:
    day ``d`` is rows ``[b[d], b[d + 1])``."""
    ts = table.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    edges = EPOCH_US + np.arange(n_days + 1, dtype=np.int64) * DAY_US
    return np.searchsorted(ts, edges, side="left")


def quotes(seed: int, n_ticks: int) -> pa.Table:
    """Leader ticks ~exp(10 ms) apart with a 1e-4-quantum random-walk
    mid; each follower replays the leader's quotes delayed by its
    planted lag plus up to 0.5 ms of jitter. Asks on about 15% of rows.
    Sorted by ts."""
    rng = _rng(seed, 2)
    t = EPOCH_US + 31 * DAY_US + np.cumsum(
        np.maximum(rng.exponential(10_000.0, n_ticks).astype(np.int64), 1)
    )
    mid = 100_000 + np.cumsum(rng.integers(-3, 4, n_ticks))
    spread = rng.integers(1, 4, n_ticks)
    bid, ask = (mid - spread) / 1e4, (mid + spread) / 1e4
    venues = [(LEADER, 0)] + list(FOLLOWER_LAG_MS.items())
    ts = np.concatenate([
        t + ms * 1000 + (rng.integers(-500, 501, n_ticks) if ms else 0)
        for _, ms in venues
    ])
    venue = np.repeat(np.array([v for v, _ in venues], dtype=object), n_ticks)
    bids = np.tile(bid, len(venues))
    asks = np.tile(ask, len(venues))
    asks[rng.random(ts.size) >= 0.15] = np.nan
    order = np.argsort(ts, kind="stable")
    return pa.table(
        {
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
            "venue": pa.array(venue[order], pa.string()),
            "bid": pa.array(bids[order], pa.float64(), from_pandas=True),
            "ask": pa.array(asks[order], pa.float64(), from_pandas=True),
        },
        schema=QUOTE_SCHEMA,
    )


def digest(table: pa.Table) -> str:
    """SHA-256 over every column's values in row order."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        if pa.types.is_string(col.type):
            offsets = np.frombuffer(col.buffers()[1], np.int32)[col.offset:col.offset + len(col) + 1]
            h.update(offsets - offsets[0])
            h.update(col.buffers()[2].to_pybytes()[offsets[0]:offsets[-1]])
        else:
            h.update(np.ascontiguousarray(col.to_numpy(zero_copy_only=False)).view(np.uint8))
    return h.hexdigest()[:16]
