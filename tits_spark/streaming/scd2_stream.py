"""Streaming SCD2 run-collapse with O(1) state per key.

Twin of the batch operator (operators/scd2.scd2_intervals) under the
append-mode contract: a version's interval is only knowable when the
NEXT attribute change arrives, so the stream emits CLOSED intervals
(valid_to set) the moment they close, and the one open version per key
lives in state — exactly the batch output minus its single
``is_current`` row per key (asserted row-for-row in
tests/test_scd2_stream.py, including restarts). This is the same
finalize-on-close discipline as the OHLC bars stream: append sinks
cannot retract, so nothing is emitted until it is immutable.

State: (version, attr, valid_from_us, n_events) — four scalars
regardless of how many events the open run absorbs. Ordering: rows
sorted within each micro-batch by (ts, attr); across batches the
stream is assumed per-key time-ordered (SURVEY.md §2.10).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "version long, attr string, vf_us double, n_events long"
OUTPUT_SCHEMA = (
    "key string, version long, attr string, valid_from timestamp, "
    "valid_to timestamp, n_events long"
)


def _scd2_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        ver, attr, vf_us, cnt = state.get
    else:
        ver, attr, vf_us, cnt = 0, None, 0.0, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        # na_position="first" mirrors the batch window's NULLS FIRST
        # attr tiebreak, so NULL-attr rows land in the same run order
        pdf = pdf.sort_values(["ts", "attr"], kind="stable", na_position="first")
        t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        a = pdf["attr"].to_numpy()
        out = []
        for i in range(len(a)):
            if ver == 0:
                ver, attr, vf_us, cnt = 1, a[i], float(t[i]), 1
            elif a[i] != attr:
                out.append((ver, attr, int(vf_us), int(t[i]), cnt))
                ver, attr, vf_us, cnt = ver + 1, a[i], float(t[i]), 1
            else:
                cnt += 1
        if out:
            vs, ats, vfs, vts, cs = zip(*out)
            yield pd.DataFrame({
                "key": key[0],
                "version": np.array(vs, dtype=np.int64),
                "attr": list(ats),
                "valid_from": np.array(vfs, dtype="datetime64[us]"),
                "valid_to": np.array(vts, dtype="datetime64[us]"),
                "n_events": np.array(cs, dtype=np.int64),
            })
    state.update((int(ver), attr, float(vf_us), int(cnt)))


def stream_scd2(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, attr) into closed SCD2
    interval rows; state is 4 scalars per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, _scd2_fn, OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
