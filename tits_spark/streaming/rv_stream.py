"""Streaming realized volatility: the continuous-aggregate twin of
operators/returns.{log_returns, realized_vol} with O(1) state per key.

A log return needs only the previous POSITIVE sample (the batch
operator drops non-positive prints before lagging, so the stream
ignores them entirely — they neither produce a return nor advance the
carried previous value). A return is attributed to the bucket of its
own timestamp, so a bucket is complete once a positive sample lands in
a later bucket; state per key is (last positive sample ts µs, its
value, open bucket, the open bucket's partial rv/r_sum/r_min/r_max/n)
— 8 scalars, emitted finalized exactly once.

Within a micro-batch everything is one vectorized pass over the sorted
batch (log diff + contiguous-group reduceat); only the 8-tuple crosses
batches via applyInPandasWithState. Equivalence to the batch operator
(including across incremental restarts) is asserted in
tests/test_rv_stream.py — to ~1e-12, not bit-exact, because numpy's
libm ln and the JVM's StrictMath ln may differ in the last ulp and the
batch shuffle sums in partition order.
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

STATE_SCHEMA = (
    "t0 long, v0 double, cb long, crv double, crsum double, "
    "crmin double, crmax double, cn long"
)
OUTPUT_SCHEMA = (
    "key string, bucket_ts timestamp, n_ret long, rv double, "
    "r_sum double, r_min double, r_max double"
)


def make_rv_fn(bucket_secs: int):
    bu = int(bucket_secs) * _US

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t0, v0, cb, crv, crsum, crmin, crmax, cn = state.get
        else:
            t0 = v0 = cb = None
            crv = crsum = 0.0
            crmin, crmax = np.inf, -np.inf
            cn = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            pdf = pdf[pdf["value"].to_numpy(np.float64) > 0]
            if not len(pdf):
                continue
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            v = pdf["value"].to_numpy(np.float64)
            prev = np.concatenate(([v0 if t0 is not None else np.nan], v[:-1]))
            with np.errstate(invalid="ignore"):
                r = np.log(v / prev)
            valid = ~np.isnan(prev)
            rb, rr = t[valid] // bu, r[valid]
            bucket_last = int(t[-1]) // bu

            if len(rr):
                # contiguous groups (t sorted) -> one reduceat per stat
                starts = np.flatnonzero(
                    np.concatenate(([True], rb[1:] != rb[:-1]))
                )
                ub = rb[starts]
                rv = np.add.reduceat(rr * rr, starts)
                rsum = np.add.reduceat(rr, starts)
                rmin = np.minimum.reduceat(rr, starts)
                rmax = np.maximum.reduceat(rr, starts)
                n = np.diff(np.concatenate((starts, [len(rr)])))
            else:
                ub = np.empty(0, np.int64)
                rv = rsum = rmin = rmax = np.empty(0, np.float64)
                n = np.empty(0, np.int64)
            if cb is not None and cn > 0:
                if len(ub) and ub[0] == cb:
                    rv[0] += crv
                    rsum[0] += crsum
                    rmin[0] = min(rmin[0], crmin)
                    rmax[0] = max(rmax[0], crmax)
                    n[0] += cn
                elif cb < bucket_last or (len(ub) and cb < ub[0]):
                    # carried bucket closed with no new contribution
                    ub = np.concatenate(([cb], ub))
                    rv = np.concatenate(([crv], rv))
                    rsum = np.concatenate(([crsum], rsum))
                    rmin = np.concatenate(([crmin], rmin))
                    rmax = np.concatenate(([crmax], rmax))
                    n = np.concatenate(([cn], n))
            fin = ub < bucket_last
            if fin.any():
                yield pd.DataFrame(
                    {
                        "key": key[0],
                        "bucket_ts": pd.to_datetime(ub[fin] * bu, unit="us"),
                        "n_ret": n[fin].astype(np.int64),
                        "rv": rv[fin],
                        "r_sum": rsum[fin],
                        "r_min": rmin[fin],
                        "r_max": rmax[fin],
                    }
                )
            m = ub == bucket_last
            cb = bucket_last
            if m.any():
                i = int(np.flatnonzero(m)[0])
                crv, crsum = float(rv[i]), float(rsum[i])
                crmin, crmax = float(rmin[i]), float(rmax[i])
                cn = int(n[i])
            else:
                crv = crsum = 0.0
                crmin, crmax = np.inf, -np.inf
                cn = 0
            t0, v0 = int(t[-1]), float(v[-1])
        if t0 is not None:
            state.update(
                (
                    int(t0), float(v0), int(cb), float(crv), float(crsum),
                    float(crmin), float(crmax), int(cn),
                )
            )

    return fn


def stream_realized_vol(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) samples into
    finalized per-(key, bucket) realized-variance rows."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_rv_fn(bucket_secs), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
