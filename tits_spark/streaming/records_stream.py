"""Streaming running-record extraction: the twin of
operators/olap.record_highs with THREE scalars of state per key.

Records are the friendliest possible streaming semantics: a record is
FINAL the moment it happens (no later event can un-record it), so the
stream emits immediately — no bucket-close discipline, no watermark.
State = (running max, records so far, last record's epoch µs).

Within a micro-batch the record scan is fully vectorized
(np.maximum.accumulate); only the 3-tuple crosses batches. Outputs are
copied values and exact integers, so the stream is bit-equal to the
batch operator by construction (asserted incl. restarts in
tests/test_records_stream.py).

Ordering contract: (ts, value)-sorted within each batch; across
batches per-key time-ordered, like the other twins (SURVEY.md §2.10).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "mx double, cnt long, last_us long"
OUTPUT_SCHEMA = (
    "key string, ts timestamp, value double, record_idx int, us_since_prev long"
)


def make_records_fn():
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            mx, cnt, last_us = state.get
        else:
            mx, cnt, last_us = None, 0, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            pdf = pdf[pdf["value"].notna()]
            if not len(pdf):
                continue
            v = pdf["value"].to_numpy(np.float64)
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            seed = -np.inf if mx is None else mx
            run = np.maximum.accumulate(np.concatenate(([seed], v)))[:-1]
            mask = v > run
            n_rec = int(mask.sum())
            if n_rec:
                rus = t[mask]
                prev = np.concatenate(
                    ([np.nan if last_us is None else last_us], rus[:-1].astype(np.float64))
                )
                gaps = rus.astype(np.float64) - prev
                out = pd.DataFrame({
                    "key": key[0],
                    "ts": pdf["ts"].to_numpy()[mask],
                    "value": v[mask],
                    "record_idx": np.arange(cnt + 1, cnt + n_rec + 1, dtype=np.int32),
                    "us_since_prev": pd.array(
                        [None if np.isnan(g) else int(g) for g in gaps],
                        dtype="Int64",
                    ),
                })
                yield out
                cnt += n_rec
                last_us = int(rus[-1])
            mx = float(max(seed, v.max()))
        if mx is not None and mx != -np.inf:
            state.update((float(mx), int(cnt), int(last_us) if last_us is not None else None))

    return fn


def stream_record_highs(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) samples into record-breaking events."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_records_fn(), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
