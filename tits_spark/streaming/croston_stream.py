"""Streaming Croston/SBA with O(1) state per key — twin #26.

The batch operator (operators/croston.croston_sba) runs two coupled
SES recursions over the per-key sequence of CLOSED hourly demand
buckets. On a stream, a bucket is closed exactly when a later-bucket
event arrives for the key (the per-key time-ordered assumption, the
same open-bucket pivot device as te_stream/rollup closures): carrying

    (open_b, open_sum, n_dem, prev_b, z, p)

— the open bucket's index and exact int64 positive-cents sum plus the
recursion state — reproduces the batch recursion BIT-exactly, because
demand sums are integers before they touch the recursion and the
float64 update tree `s + 0.125 * (x - s)` is evaluated in the same
order batch evaluates it. Zero/negative values never accumulate (they
are not demand) but DO close buckets: time has provably advanced.

Emits one row per CLOSED demand bucket with the post-update state
(key, b, n_dem, z, p) in append mode; the soak compares the last
emitted row per key against the batch operator applied to the same
prefix with the open bucket excluded. Restart safety: the whole state
is the six-field tuple, so a checkpoint restore at any micro-batch
boundary resumes the exact recursion.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

_ALPHA = 0.125
_NONE = -(2**62)  # "no open bucket" sentinel (ts >= epoch assumed)

STATE_SCHEMA = (
    "open_b long, open_sum long, n_dem long, prev_b long, "
    "z double, p double"
)
OUTPUT_SCHEMA = "key string, b long, n_dem long, z double, p double"


def make_croston_fn(bucket_secs: int = 3600):
    bus = int(bucket_secs) * 1_000_000

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            open_b, open_sum, n_dem, prev_b, z, p = state.get
        else:
            open_b, open_sum, n_dem, prev_b, z, p = (
                _NONE, 0, 0, _NONE, 0.0, 0.0,
            )
        out_b: list[int] = []
        out_n: list[int] = []
        out_z: list[float] = []
        out_p: list[float] = []

        def close_open() -> None:
            nonlocal n_dem, prev_b, z, p
            if open_sum <= 0:
                return  # bucket held no demand
            d = float(open_sum)
            n_dem += 1
            if n_dem == 1:
                z = d
            else:
                z = z + _ALPHA * (d - z)
                pj = float(open_b - prev_b)
                p = pj if n_dem == 2 else p + _ALPHA * (pj - p)
            prev_b = open_b
            out_b.append(open_b)
            out_n.append(n_dem)
            out_z.append(z)
            out_p.append(p)

        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts", kind="stable")
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            cents = (
                (pdf["value"].to_numpy("float64") * 100).round().astype("int64")
            )
            for t, c in zip(us // bus, cents):
                b = int(t)
                if open_b == _NONE:
                    open_b, open_sum = b, 0
                elif b > open_b:
                    close_open()
                    open_b, open_sum = b, 0
                if c > 0:
                    open_sum += int(c)
        state.update((open_b, open_sum, n_dem, prev_b, z, p))
        if out_b:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(out_b),
                    "b": out_b,
                    "n_dem": out_n,
                    "z": out_z,
                    "p": out_p,
                }
            )

    return fn


def stream_croston(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) parquet into per-closed-demand-bucket
    Croston state rows; state is six scalars per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_croston_fn(bucket_secs), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
