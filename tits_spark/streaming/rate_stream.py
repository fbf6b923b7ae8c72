"""Streaming weekend-rate monitor: the twin of
operators/ratecomp.weekend_rate_prefix with FIVE integer scalars of
state per key — (lo, cur, cc, c1, c2): first observed day, current
open day, its running count, and the closed weekend/weekday totals.
A day CLOSES when an event from a later day arrives; the closing
emits the conditional-rate readout over the prefix [lo, cur] through
the IDENTICAL float tree the batch operator compiles (raw doubles,
no rounding — the theta/we_stream discipline), so the ledger is
bit-equal to the batch replay by construction (asserted incl.
restarts in tests/test_rate_stream.py; soak twin #33).

The weekend-day exposure over [lo, D] uses the same closed form as
batch (two floor divisions per weekday) — state never carries the
calendar.  Ordering contract: per-key time-ordered across batches,
equal-us rows within one batch (SURVEY.md §2.10, same as every
twin).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "lo long, cur long, cc long, c1 long, c2 long"
OUTPUT_SCHEMA = (
    "key string, day long, n_days long, t_weekend long, "
    "c_weekend long, c_weekday long, rate_z double, rate_ratio double"
)
US_PER_DAY = 86_400_000_000


def _count_dow(lo: int, hi: int, w: int) -> int:
    a = lo + ((w - (lo + 4)) % 7 + 7) % 7
    return 0 if a > hi else (hi - a) // 7 + 1


def _is_weekend(d: int) -> bool:
    return (d + 4) % 7 in (0, 6)


def _readout(key, lo, d, c1, c2, min_days):
    span = d - lo + 1
    if span < min_days:
        return None
    t1 = _count_dow(lo, d, 0) + _count_dow(lo, d, 6)
    t2 = span - t1
    z = rr = None
    nn = float(c1 + c2)
    if t1 > 0 and t2 > 0:
        p = float(t1) / float(t1 + t2)
        var = nn * p * (1.0 - p)
        if var > 0:
            z = (float(c1) - nn * p) / math.sqrt(var)
        if c2 > 0:
            rr = (float(c1) / float(t1)) / (float(c2) / float(t2))
    return (key, d, span, t1, c1, c2, z, rr)


def make_rate_fn(min_days: int = 14):
    md = int(min_days)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            lo, cur, cc, c1, c2 = state.get
        else:
            lo, cur, cc, c1, c2 = (-1, -1, 0, 0, 0)
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            for u in np.sort(us).tolist():
                d = u // US_PER_DAY
                if cur < 0:
                    lo, cur, cc = d, d, 1
                    continue
                if d == cur:
                    cc += 1
                    continue
                # day rollover: fold + emit the closed prefix
                if _is_weekend(cur):
                    c1 += cc
                else:
                    c2 += cc
                row = _readout(key[0], lo, cur, c1, c2, md)
                if row is not None:
                    out.append(row)
                cur, cc = d, 1
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "key", "day", "n_days", "t_weekend",
                    "c_weekend", "c_weekday", "rate_z", "rate_ratio",
                ],
            )
        state.update((int(lo), int(cur), int(cc), int(c1), int(c2)))

    return fn


def stream_weekend_rate(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    min_days: int = 14,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) ticks into the closed-day rate ledger."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_rate_fn(min_days), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
