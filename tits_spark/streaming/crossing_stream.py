"""Streaming threshold-crossing alerts: the twin of
operators/windows.threshold_crossings with ONE (ts µs, value) pair of
state per key.

A crossing depends only on the previous sample, so every crossing is
emittable the moment its sample arrives — no bucket to finalize, no
watermark trade-off: the stream emits exactly the batch operator's
rows (asserted in tests/test_crossing_stream.py, including across
incremental restarts). Within a micro-batch the comparison is one
vectorized shift over the sorted batch; only the carried previous
sample crosses batches via applyInPandasWithState.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "t0 long, v0 double"
OUTPUT_SCHEMA = (
    "key string, ts timestamp, value double, prev_value double, "
    "direction string"
)


def make_crossing_fn(level: float):
    lv = float(level)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t0, v0 = state.get
        else:
            t0 = v0 = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            v = pdf["value"].to_numpy(np.float64)
            prev = np.concatenate(([v0 if t0 is not None else np.nan], v[:-1]))
            up = (prev < lv) & (v >= lv)
            down = (prev >= lv) & (v < lv)
            hit = up | down
            if hit.any():
                yield pd.DataFrame(
                    {
                        "key": key[0],
                        "ts": pd.to_datetime(t[hit], unit="us"),
                        "value": v[hit],
                        "prev_value": prev[hit],
                        "direction": np.where(up[hit], "up", "down"),
                    }
                )
            t0, v0 = int(t[-1]), float(v[-1])
        if t0 is not None:
            state.update((int(t0), float(v0)))

    return fn


def stream_crossings(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    level: float,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) samples into
    threshold-crossing alert rows."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_crossing_fn(level), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
