"""Streaming gap-aware Kalman filter with O(1) state per key.

Twin of the batch operator (operators/kalman.kalman_local_level): the
local-level recursion carries exactly (prev_us, level, variance)
across events, so the state is three scalars per key regardless of
series length. Unlike the Holt twin there is no delayed init — the
first observation emits immediately (a_1 = y_1, K_1 = 1, P_1 = r) —
so every micro-batch flushes completely and the union of outputs
across batches equals the batch operator row-for-row, bit-for-bit
(identical IEEE operation tree; the previous timestamp is carried as
an exact int64-microsecond value inside a double, lossless below
2^53 — i.e. for any timestamp before the year 2255).

Ordering: events sorted within each micro-batch; across batches the
stream is assumed per-key time-ordered (SURVEY.md §2.10's assumption,
as for the EWMA/Holt/TWA streams).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "t_us double, a double, p double"
OUTPUT_SCHEMA = (
    "key string, ts timestamp, level double, gain double, p_var double"
)


def make_kalman_fn(q: float, r: float):
    qf, rf = float(q), float(r)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # t_prev = -1 is the "no state yet" sentinel (real epochs are
        # positive), so an all-empty batch can't fake an initialized key
        if state.exists:
            t_prev, a, p = state.get
        else:
            t_prev, a, p = -1.0, 0.0, 0.0
        started = t_prev >= 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            y = pdf["value"].to_numpy(np.float64)
            n = len(y)
            lev = np.empty(n)
            kg = np.empty(n)
            pv = np.empty(n)
            i = 0
            if not started:
                a, p = y[0], rf
                lev[0], kg[0], pv[0] = a, 1.0, p
                t_prev = float(t[0])
                started, i = True, 1
            while i < n:
                # same two ops as the batch kernel: exact int64 gap,
                # one double division
                dt = (t[i] - int(t_prev)) / 1e6
                pp = p + qf * dt
                k = pp / (pp + rf)
                a = a + k * (y[i] - a)
                p = (1 - k) * pp
                lev[i], kg[i], pv[i] = a, k, p
                t_prev = float(t[i])
                i += 1
            yield pd.DataFrame({
                "key": key[0],
                "ts": pdf["ts"].to_numpy(),
                "level": lev,
                "gain": kg,
                "p_var": pv,
            })
        state.update((float(t_prev), float(a), float(p)))

    return fn


def stream_kalman(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    q: float = 1.0,
    r: float = 100.0,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) into per-event
    filtered (level, gain, p_var) rows; state is 3 scalars per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_kalman_fn(q, r), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
