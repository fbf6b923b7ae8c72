"""Streaming Poisson CUSUM volume monitor: the twin of
operators/changepoint.poisson_cusum_daily with SIX integer scalars
of state per key — (lo, cur, cc, n_base, kk, s): first day, open
day + its running count, baseline days consumed, the Phase-I
reference mass K, and the scaled CUSUM S.  The family is
integer-only end to end (S_i = max(0, S_{i-1} + B*y_i - K), cleared
by the baseline length B), so stream/batch bit-equality needs no
float argument at all.  A day closes when a later day's event
arrives; silent gap days close in the same rollover and bleed S
down by K each — the loop walks them without materializing a
calendar.  Emissions are the closed evaluated days (key, day, y,
s_scaled, alarm), identical to batch by construction (asserted incl.
restarts in tests/test_pcusum_stream.py; soak twin #34).

Ordering contract: per-key time-ordered across batches, equal-us
rows within one batch (SURVEY.md §2.10, same as every twin).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "lo long, cur long, cc long, n_base long, kk long, s long"
OUTPUT_SCHEMA = "key string, day long, y long, s_scaled long, alarm boolean"
US_PER_DAY = 86_400_000_000


def make_pcusum_fn(baseline_days: int = 14, h_excess: int = 20):
    b = int(baseline_days)
    h = int(h_excess)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            lo, cur, cc, n_base, kk, s = state.get
        else:
            lo, cur, cc, n_base, kk, s = (-1, -1, 0, 0, 0, 0)
        out = []

        def close_day(d: int, y: int):
            nonlocal n_base, kk, s
            if n_base < b:
                kk += y
                n_base += 1
                return
            s = s + b * y - kk
            if s < 0:
                s = 0
            out.append((key[0], d, y, s, bool(s > b * h)))

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
                close_day(cur, cc)
                for gap in range(cur + 1, d):
                    close_day(gap, 0)
                cur, cc = d, 1
        if out:
            yield pd.DataFrame(
                out, columns=["key", "day", "y", "s_scaled", "alarm"]
            )
        state.update(
            (int(lo), int(cur), int(cc), int(n_base), int(kk), int(s))
        )

    return fn


def stream_poisson_cusum(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    baseline_days: int = 14,
    h_excess: int = 20,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) ticks into the Poisson-CUSUM ledger."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_pcusum_fn(baseline_days, h_excess), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
