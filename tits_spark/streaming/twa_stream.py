"""Streaming time-weighted average: the continuous-aggregate twin of
operators/timeweight.time_weighted_avg with O(1) state per key.

LOCF segments are closed by the NEXT observation, so a fixed-size state
of (last event time, last value, open-bucket partial sums) is enough to
emit every bucket exactly once, finalized, as soon as an event lands in
a later bucket:

    state: (t0, v0)  — the open segment's start (last event seen)
           (cb, cw, co) — the open bucket and its partial
                          (sum v*overlap_us, sum overlap_us)

    on events [t1..tn] (sorted): segments (t0,t1,v0), (t1,t2,v1), ...
    split at bucket edges exactly like the batch operator (integer-µs
    arithmetic, same staleness clip); every bucket strictly before
    bucket(tn) is complete — no later event can touch it, because
    segments only ever start at event times <= tn — and is emitted;
    bucket(tn)'s partial stays in state.

Within a micro-batch the segment/bucket split is fully vectorized
(ragged repeat + bincount — no per-row Python); only the 5-tuple
crosses batches via applyInPandasWithState. Equivalence to the batch
operator on closed buckets is asserted in tests/test_streaming.py.

As in the batch twin, pass ``max_gap_sec`` to bound the per-event
bucket fan-out (and the size of any one batch's emission) by
``max_gap_sec / bucket_secs``; unbounded LOCF over a key that goes
silent for a year would otherwise emit that whole span's buckets when
the key's next event arrives.

Ordering: events are sorted within each micro-batch; across batches the
stream is assumed per-key time-ordered (SURVEY.md §2.10 — use the
watermarked batch path for late-data correctness).
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

STATE_SCHEMA = "t0 long, v0 double, cb long, cw double, co double, late long"
OUTPUT_SCHEMA = (
    "key string, bucket_ts timestamp, twa double, covered_sec double, "
    "n_late_total long"
)


def _split_segments(s, e, val, bu):
    """Vectorized bucket split of segments [s, e) valued val: returns
    (bucket, w_sum, o_sum) aggregated over all segments."""
    b0 = s // bu
    b1 = (e - 1) // bu
    cnt = (b1 - b0 + 1).astype(np.int64)
    total = int(cnt.sum())
    idx = np.repeat(np.arange(s.size), cnt)
    offs = np.arange(total) - np.repeat(
        np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt
    )
    b = b0[idx] + offs
    lo = np.maximum(s[idx], b * bu)
    hi = np.minimum(e[idx], (b + 1) * bu)
    o = (hi - lo).astype(np.float64)
    w = val[idx] * o
    ub, inv = np.unique(b, return_inverse=True)
    return ub, np.bincount(inv, weights=w), np.bincount(inv, weights=o)


def make_twa_fn(bucket_secs: int, max_gap_sec: float | None = None):
    bu = int(bucket_secs) * _US
    gap = int(max_gap_sec * _US) if max_gap_sec is not None else None

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t0, v0, cb, cw, co, late = state.get
        else:
            t0 = v0 = cb = None
            cw = co = 0.0
            late = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            v = pdf["value"].to_numpy(np.float64)
            if t0 is not None:
                # cross-batch ordering violation: an event strictly older
                # than the carried segment start cannot extend coverage
                # (its segment would have e <= s and be dropped below) —
                # COUNT it instead of losing it silently, and surface the
                # running total on every emitted row (ADVICE r3)
                late += int(np.sum(t < t0))
                t = np.concatenate(([t0], t))
                v = np.concatenate(([v0], v))
            s, e, val = t[:-1], t[1:], v[:-1]
            if gap is not None:
                e = np.minimum(e, s + gap)
            keep = e > s
            s, e, val = s[keep], e[keep], val[keep]
            t_last = int(t[-1])
            bucket_last = t_last // bu
            if s.size:
                ub, w_sum, o_sum = _split_segments(s, e, val, bu)
            else:
                ub = np.array([], np.int64)
                w_sum = o_sum = np.array([], np.float64)
            if cb is not None:
                # fold the carried open-bucket partial in (its bucket may
                # or may not be touched again by this batch's segments)
                ub = np.concatenate((ub, [cb]))
                w_sum = np.concatenate((w_sum, [cw]))
                o_sum = np.concatenate((o_sum, [co]))
                ub, inv = np.unique(ub, return_inverse=True)
                w_sum = np.bincount(inv, weights=w_sum)
                o_sum = np.bincount(inv, weights=o_sum)
            fin = (ub < bucket_last) & (o_sum > 0)
            if fin.any():
                yield pd.DataFrame(
                    {
                        "key": key[0],
                        "bucket_ts": pd.to_datetime(ub[fin] * bu, unit="us"),
                        "twa": w_sum[fin] / o_sum[fin],
                        "covered_sec": o_sum[fin] / _US,
                        "n_late_total": np.int64(late),
                    }
                )
            m = ub == bucket_last
            cb = bucket_last
            cw = float(w_sum[m][0]) if m.any() else 0.0
            co = float(o_sum[m][0]) if m.any() else 0.0
            t0, v0 = t_last, float(v[-1])
        if t0 is not None:
            state.update(
                (int(t0), float(v0), int(cb), float(cw), float(co), int(late))
            )

    return fn


def stream_twa(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    max_gap_sec: float | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) into finalized
    per-(key, bucket) time-weighted averages; O(1) state per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_twa_fn(bucket_secs, max_gap_sec), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
