"""Streaming stochastic oscillator (%K/%D/%R) + OBV over bars: the
17th streaming twin, pairing operators/bars.stochastic with bounded
per-key state.

State per key = the OPEN bucket's HLC partials + the previous close +
rings of the last (n-1) closed-bar highs/lows and the last (d-1) RAW
%K values + the running OBV — a fixed ~2n scalars. A bar finalizes
when a sample lands in a later bucket (the bars_stream discipline);
its %K/%D/%R/OBV emit with the bar, no second pass, no joins.

Parity with the batch operator is EXACT (asserted bit-equal in
tests/test_stoch_stream.py, including across restarts): windowed
extrema are exact copies so raw %K is one deterministic division; %D
averages the RAW %K ring in frame order (the same ordered short sum
Spark's window avg performs) and rounds once via Decimal(repr(x))
HALF_UP — Spark round()'s shortest-decimal semantics.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

_US = 1_000_000

STATE_SCHEMA = (
    "cb long, h double, l double, c double, nobs long, prev_close double, "
    "obv long, highs array<double>, lows array<double>, kraws array<double>"
)
OUTPUT_SCHEMA = (
    "key string, bucket_ts timestamp, close double, pct_k double, "
    "pct_d double, pct_r double, obv long, n_win long"
)

_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def make_stoch_fn(bucket_secs: int, n: int = 14, d: int = 3):
    bu = int(bucket_secs) * _US

    def finalize(cb, h, l, c, nobs, prev_close, obv, highs, lows, kraws):
        w_h = highs + [h]
        w_l = lows + [l]
        hh, ll = max(w_h), min(w_l)
        if hh > ll:
            k_raw = 100.0 * (c - ll) / (hh - ll)
            pct_k = _round6(k_raw)
            pct_r = _round6(-100.0 * (hh - c) / (hh - ll))
        else:
            k_raw = pct_k = pct_r = np.nan
        w_k = kraws + [k_raw]
        k_def = [x for x in w_k if not np.isnan(x)]
        pct_d = _round6(sum(k_def) / len(k_def)) if k_def else np.nan
        if prev_close is not None and not np.isnan(prev_close):
            if c > prev_close:
                obv += nobs
            elif c < prev_close:
                obv -= nobs
        row = {
            "bucket_ts": pd.to_datetime(cb * bu, unit="us"),
            "close": c, "pct_k": pct_k, "pct_d": pct_d, "pct_r": pct_r,
            "obv": obv, "n_win": len(w_h),
        }
        return row, obv, w_h[-(n - 1):], w_l[-(n - 1):], w_k[-(d - 1):]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cb, h, l, c, nobs, prev_close, obv, highs, lows, kraws = state.get
            highs, lows, kraws = list(highs), list(lows), list(kraws)
        else:
            cb = None
            h = l = c = prev_close = float("nan")
            nobs, obv = 0, 0
            highs, lows, kraws = [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            v = pdf["value"].to_numpy(np.float64)
            b = t // bu
            rows = []
            for i in range(len(t)):
                if cb is None:
                    cb, h, l, c, nobs = int(b[i]), v[i], v[i], v[i], 1
                elif b[i] == cb:
                    h, l, c = max(h, v[i]), min(l, v[i]), v[i]
                    nobs += 1
                else:
                    row, obv, highs, lows, kraws = finalize(
                        cb, h, l, c, nobs, prev_close, obv, highs, lows, kraws
                    )
                    rows.append(row)
                    prev_close = c
                    cb, h, l, c, nobs = int(b[i]), v[i], v[i], v[i], 1
            if rows:
                out = pd.DataFrame(rows)
                out.insert(0, "key", key[0])
                for col in ("pct_k", "pct_d", "pct_r"):
                    out[col] = out[col].astype("Float64")
                yield out
        if cb is not None:
            state.update(
                (
                    int(cb), float(h), float(l), float(c), int(nobs),
                    float(prev_close) if prev_close is not None else float("nan"),
                    int(obv),
                    [float(x) for x in highs],
                    [float(x) for x in lows],
                    [float(x) for x in kraws],
                )
            )

    return fn


def stream_stochastic(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    n: int = 14,
    d: int = 3,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) samples into finalized bars carrying
    stochastic %K/%D/%R and OBV."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_stoch_fn(bucket_secs, n, d), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
