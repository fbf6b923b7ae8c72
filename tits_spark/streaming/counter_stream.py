"""Streaming counter rate: the continuous-aggregate twin of
operators/timeweight.counter_rate with O(1) state per key.

Counter deltas need only the previous sample, and a bucket's aggregate
is complete once a sample lands in a later bucket (deltas are assigned
to the bucket of the CURRENT sample, so no earlier-bucket contribution
can arrive on a time-ordered stream). State per key is therefore
(last sample time µs, last value, open bucket, its partial increase /
sample count / reset count) — emitted finalized exactly once, matching
the batch operator on every bucket strictly before the key's latest
sample's bucket.

Within a micro-batch the delta/reset computation is one vectorized
diff over the sorted batch; only the 6-tuple crosses batches via
applyInPandasWithState. Equivalence asserted in
tests/test_twa_stream.py.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

_US = 1_000_000

STATE_SCHEMA = "t0 long, v0 double, cb long, cinc double, cn long, cres long"
OUTPUT_SCHEMA = (
    "key string, bucket_ts timestamp, increase double, rate_per_sec double, "
    "n_samples long, n_resets long"
)


def make_counter_fn(bucket_secs: int):
    bu = int(bucket_secs) * _US

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t0, v0, cb, cinc, cn, cres = state.get
        else:
            t0 = v0 = cb = None
            cinc, cn, cres = 0.0, 0, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            v = pdf["value"].to_numpy(np.float64)
            prev = np.concatenate(([v0 if t0 is not None else np.nan], v[:-1]))
            d = v - prev
            reset = d < 0  # NaN-prev (first sample ever) compares False
            adj = np.where(np.isnan(prev), 0.0, np.where(reset, v, d))
            b = t // bu
            ub, inv = np.unique(b, return_inverse=True)
            inc = np.bincount(inv, weights=adj)
            n = np.bincount(inv)
            res = np.bincount(inv, weights=reset.astype(np.float64))
            if cb is not None:
                ub = np.concatenate((ub, [cb]))
                inc = np.concatenate((inc, [cinc]))
                n = np.concatenate((n, [cn]))
                res = np.concatenate((res, [cres]))
                ub, inv = np.unique(ub, return_inverse=True)
                inc = np.bincount(inv, weights=inc)
                n = np.bincount(inv, weights=n)
                res = np.bincount(inv, weights=res)
            bucket_last = int(t[-1]) // bu
            fin = ub < bucket_last
            if fin.any():
                yield pd.DataFrame(
                    {
                        "key": key[0],
                        "bucket_ts": pd.to_datetime(ub[fin] * bu, unit="us"),
                        "increase": inc[fin],
                        "rate_per_sec": inc[fin] / float(bucket_secs),
                        "n_samples": n[fin].astype(np.int64),
                        "n_resets": res[fin].astype(np.int64),
                    }
                )
            m = ub == bucket_last
            cb = bucket_last
            cinc = float(inc[m][0]) if m.any() else 0.0
            cn = int(n[m][0]) if m.any() else 0
            cres = int(res[m][0]) if m.any() else 0
            t0, v0 = int(t[-1]), float(v[-1])
        if t0 is not None:
            state.update((int(t0), float(v0), int(cb), float(cinc), int(cn), int(cres)))

    return fn


def stream_counter_rate(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) counter samples
    into finalized per-(key, bucket) increase/rate rows."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_counter_fn(bucket_secs), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
