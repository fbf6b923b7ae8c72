"""Streaming gap / heartbeat alerting with O(1) state per key.

The batch operator (operators/windows.gap_intervals) finds silence
intervals with one lag window; on an unbounded stream the same rows
come from ONE timestamp of state per key — the last event seen:

    on event t:  if t - last > threshold: emit (last, t); last = t

Within a micro-batch the pair scan is vectorized (shifted numpy
compare, no per-row Python); only ``last`` crosses batches via
applyInPandasWithState — the bounded-stream-state discipline of
SURVEY.md §2.10 (the reference never re-reads its ring buffer either,
ref:guess_lag.c:90-105).

Optionally (``stale_timeout_sec``), a ProcessingTimeTimeout emits an
open-ended "stale key" alert (gap_end NULL) when a key stops sending
entirely — a genuinely streaming-only capability: batch can only see a
gap once the NEXT event arrives; a live pipeline must page before
that. Timeout firing depends on wall-clock, so equivalence tests cover
the deterministic gap rows; the stale branch carries its own unit
coverage via direct state manipulation.

Ordering: per-key time-ordered across batches (same assumption as the
other stream twins); within a batch, rows are sorted.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tits_spark.streaming import _run

STATE_SCHEMA = "last_us long"
OUTPUT_SCHEMA = "key string, gap_start timestamp, gap_end timestamp, gap_sec double"


def make_gap_fn(threshold_sec: float, stale_timeout_sec: float | None = None):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (last_us,) = state.get
            yield pd.DataFrame({
                "key": [key[0]],
                "gap_start": pd.to_datetime([last_us], unit="us"),
                "gap_end": pd.to_datetime([pd.NaT]),
                "gap_sec": [float("nan")],
            })
            state.remove()
            return
        last_us = state.get[0] if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts", kind="stable")
            ts64 = pdf["ts"].to_numpy().astype("datetime64[us]")
            t_us = ts64.astype(np.int64)
            # per-element seconds THEN subtract — the identical float
            # path as the batch twin's ts_seconds(end) - ts_seconds(start)
            es = t_us / 1e6
            prev_es = np.empty_like(es)
            prev_es[1:] = es[:-1]
            prev_es[0] = last_us / 1e6 if last_us is not None else np.nan
            prev_ts = np.empty_like(ts64)
            prev_ts[1:] = ts64[:-1]
            if last_us is not None:
                prev_ts[0] = np.datetime64(int(last_us), "us")
            else:
                prev_ts[0] = ts64[0]  # never emitted (gap[0] is NaN)
            gap = es - prev_es
            hit = gap > threshold_sec  # NaN compares False: first-ever row
            if hit.any():
                yield pd.DataFrame({
                    "key": pdf["key"].to_numpy()[hit],
                    "gap_start": prev_ts[hit],
                    "gap_end": ts64[hit],
                    "gap_sec": gap[hit],
                })
            last_us = int(t_us[-1])
        if last_us is not None:
            state.update((last_us,))
            if stale_timeout_sec is not None:
                state.setTimeoutDuration(int(stale_timeout_sec * 1000))

    return fn


def stream_gaps(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    threshold_sec: float,
    stale_timeout_sec: float | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, ...) parquet into gap-alert rows; one double of
    state per key regardless of stream length."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if stale_timeout_sec is not None
        else GroupStateTimeout.NoTimeout
    )
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_gap_fn(threshold_sec, stale_timeout_sec),
                     OUTPUT_SCHEMA, STATE_SCHEMA, timeout=timeout)
    return _run.to_parquet(out, out_path, checkpoint)
