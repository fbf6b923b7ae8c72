"""Streaming token-bucket rate limiter with O(1) integer state per key.

Twin of the batch replay (operators/rate_limit.rate_limit_replay) —
and the one place the streaming form is the NATURAL one: admission
control is an online decision, the batch operator is its audit replay.
State is (prev_us, balance_ut): two integers, and the whole recursion
is BIGINT (micro-tokens, floor-div refill), so stream and batch agree
bit-for-bit by construction — including across restarts, since the
carried balance is an exact integer, not a float.

Ordering: rows sorted within each micro-batch by (ts, eid); across
batches the stream is assumed per-key time-ordered (SURVEY.md §2.10).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "t_us long, b long"
OUTPUT_SCHEMA = (
    "key string, eid long, ts timestamp, admitted boolean, tokens_ut long"
)


def make_rate_limit_fn(capacity: int, rate_per_hour: int):
    cap_ut = int(capacity) * 1_000_000
    r = int(rate_per_hour)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # t_us = -1 is the "no state yet" sentinel (epochs are positive)
        if state.exists:
            t_prev, b = state.get
        else:
            t_prev, b = -1, cap_ut
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "eid"], kind="stable")
            us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
            n = len(us)
            adm = np.empty(n, dtype=bool)
            bal = np.empty(n, dtype=np.int64)
            for i in range(n):
                if t_prev >= 0:
                    b = min(cap_ut, b + (r * (int(us[i]) - t_prev)) // 3600)
                if b >= 1_000_000:
                    adm[i] = True
                    b -= 1_000_000
                else:
                    adm[i] = False
                bal[i] = b
                t_prev = int(us[i])
            yield pd.DataFrame({
                "key": pdf["key"].to_numpy(),
                "eid": pdf["eid"].to_numpy(np.int64),
                "ts": pdf["ts"].to_numpy(),
                "admitted": adm,
                "tokens_ut": bal,
            })
        state.update((int(t_prev), int(b)))

    return fn


def stream_rate_limit(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    capacity: int = 2,
    rate_per_hour: int = 1,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, eid, ts) into per-event
    admission decisions; state is 2 integers per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_rate_limit_fn(capacity, rate_per_hour),
                     OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
