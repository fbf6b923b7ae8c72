"""Streaming time-decayed EWMA with O(1) state per key.

The batch operator (operators/sessionize.ewma_irregular) computes
ewma_i = sum_j<=i v_j e^{-(t_i-t_j)/tau} / sum_j<=i e^{-(t_i-t_j)/tau}
as a ratio of prefix sums. On an unbounded stream the same quantity is
maintained incrementally with exactly TWO floats per key — the decayed
numerator s and denominator c anchored at the last event time T:

    on event (t, v):  d = e^{-(t-T)/tau};  s = s*d + v;  c = c*d + 1

the same bounded-one-pass discipline as the reference's stream push
(ref:guess_lag.c:205-224 appends to fixed state, never re-reads).
Within a micro-batch the scan is vectorized (cumsum of v*e^{t/tau}
rebased in segments — no per-row Python), and only the (T, s, c)
triple crosses batches via applyInPandasWithState.

Overflow safety (mirrors the batch operator's segmented rebase,
operators/sessionize.py): a single rebase to the batch start overflows
double exp when the batch's event-time span exceeds ~709*tau — easily
hit by an availableNow backfill over historical data with a small tau.
The sorted batch is therefore processed in segments of span <=
EWMA_CHUNK_EXP*tau (=256), re-anchoring the O(1) (T, s, c) state at
each segment boundary; the carry into a segment decays by
e^{(T - base)/tau} <= 1, which underflows harmlessly for long gaps.
Non-finite results (possible only if inputs violate the time-ordering
assumption badly enough to blow the exponent) raise instead of
silently poisoning the state.

Ordering: events are sorted within each micro-batch; across batches the
stream is assumed per-key time-ordered (the reference's assumption,
SURVEY.md §2.10 — use the watermarked batch path for late-data
correctness).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "t double, s double, c double"
OUTPUT_SCHEMA = "key string, ts timestamp, value double, ewma double"

# Same 256-exponent segment budget as the batch operator
# (operators/sessionize.EWMA_CHUNK_EXP); duplicated as a literal to keep
# this module importable on executors without the operators package.
_CHUNK_EXP = 256.0


def make_ewma_fn(tau_seconds: float):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        t0, s0, c0 = state.get if state.exists else (None, 0.0, 0.0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts", kind="stable")
            t = (
                pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
                / 1e6
            )
            v = pdf["value"].to_numpy(np.float64)
            seg_width = _CHUNK_EXP * tau_seconds
            ewma = np.empty(t.size)
            start = 0
            while start < t.size:
                # segment: span bounded so the rebased exponent <= 256
                b = t[start]
                end = max(start + 1,
                          int(np.searchsorted(t, b + seg_width, side="left")))
                g = np.exp((t[start:end] - b) / tau_seconds)
                num = np.cumsum(v[start:end] * g)
                den = np.cumsum(g)
                if t0 is not None:
                    # decay of the carried state to this segment's base;
                    # <= 1 under time ordering, underflows to 0 for gaps
                    # past the double horizon (their true weight is ~0)
                    carry = np.exp((t0 - b) / tau_seconds)
                    num = num + s0 * carry
                    den = den + c0 * carry
                # S_i = num_i/G_i, C_i = den_i/G_i; 1/G_i cancels in S/C
                ewma[start:end] = num / den
                # re-anchor the carried sums at the segment's last event
                t0 = float(t[end - 1])
                s0 = float(num[-1] / g[-1])
                c0 = float(den[-1] / g[-1])
                start = end
            if not (np.isfinite(ewma).all()
                    and np.isfinite(s0) and np.isfinite(c0)):
                raise ValueError(
                    "stream_ewma: non-finite state — input violates the "
                    "per-key time-ordering assumption beyond the exp bound"
                )
            yield pd.DataFrame(
                {
                    "key": pdf["key"].to_numpy(),
                    "ts": pdf["ts"].to_numpy(),
                    "value": v,
                    "ewma": ewma,
                }
            )
        if t0 is not None:
            state.update((t0, s0, c0))

    return fn


def stream_ewma(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    tau_seconds: float = 86400.0,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value) into per-event
    EWMA rows; state is (T, s, c) per key regardless of stream length."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_ewma_fn(tau_seconds), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
