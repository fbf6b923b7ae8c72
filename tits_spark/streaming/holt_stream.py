"""Streaming Holt level/trend smoothing with O(1) state per key.

Twin of the batch operator (operators/smoothing.holt_by_key): the
coupled recursion carries exactly (level, trend) across events, so the
streaming state is constant-size no matter how long the series runs —
the same bounded-one-pass discipline as the EWMA stream.

The only wrinkle is the textbook init: the FIRST observation's output
(l_1 = x_1, b_1 = x_2 - x_1) depends on the SECOND observation, so a
key's first event is buffered in state and emitted together with the
second — output is therefore delayed by at most one event per key,
and the union of rows across micro-batches equals the batch operator
row-for-row (bit-for-bit: the state machine replays the identical
IEEE operation tree).

State: (stage, t0, x0, l, b) — stage 0 = one buffered point
(t0/x0 valid), stage 1 = model running (l/b valid). Ordering: events
sorted within each micro-batch; across batches the stream is assumed
per-key time-ordered (SURVEY.md §2.10's assumption, as for the EWMA
and TWA streams).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "stage int, t0 double, x0 double, l double, b double"
OUTPUT_SCHEMA = "key string, ts timestamp, value double, level double, trend double"


def make_holt_fn(alpha: float, beta: float):
    a, b_ = float(alpha), float(beta)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stage, t0, x0, lev, trd = state.get
        else:
            stage, t0, x0, lev, trd = -1, 0.0, 0.0, 0.0, 0.0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            x = pdf["value"].to_numpy(np.float64)
            out_t, out_x, out_l, out_b = [], [], [], []
            i = 0
            if stage == -1 and len(x) >= 1:
                # buffer the key's very first observation
                t0, x0 = float(t[0]), float(x[0])
                stage, i = 0, 1
            if stage == 0 and i < len(x):
                # second observation arrives: emit the delayed init row
                # and the current row (l_1 = x_1, b_1 = x_2 - x_1)
                lev, trd = x0, x[i] - x0
                out_t += [int(t0), int(t[i])]
                out_x += [x0, float(x[i])]
                l2 = a * x[i] + (1 - a) * (lev + trd)
                t2 = b_ * (l2 - lev) + (1 - b_) * trd
                out_l += [lev, l2]
                out_b += [trd, t2]
                lev, trd = l2, t2
                stage, i = 1, i + 1
            while i < len(x):
                l_new = a * x[i] + (1 - a) * (lev + trd)
                trd = b_ * (l_new - lev) + (1 - b_) * trd
                lev = l_new
                out_t.append(int(t[i]))
                out_x.append(float(x[i]))
                out_l.append(lev)
                out_b.append(trd)
                i += 1
            if out_t:
                yield pd.DataFrame({
                    "key": key[0],
                    "ts": np.array(out_t, dtype="datetime64[us]"),
                    "value": out_x,
                    "level": out_l,
                    "trend": out_b,
                })
        state.update((int(stage), float(t0), float(x0), float(lev), float(trd)))

    return fn


def stream_holt(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) into per-event
    Holt (level, trend) rows; state is 5 scalars per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_holt_fn(alpha, beta), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
