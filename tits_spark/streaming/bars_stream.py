"""Streaming OHLC bars WITH technical indicators: the twin of
operators/bars.atr_rsi over operators/rollup bars, with bounded
per-key state.

State per key = the OPEN bucket's OHLC partials + the previous close +
ring buffers of the last (n-1) true ranges and close-diffs — a fixed
~3n scalars. A bar finalizes when a sample lands in a later bucket
(same discipline as rv_stream); its TR/ATR/RSI are emitted with the
bar, so the indicator stream needs no second pass and no joins.

Parity with the batch operator is EXACT (asserted bit-equal in
tests/test_bars_stream.py, including across incremental restarts):
the windowed averages replicate Spark's round() semantics via
Decimal(repr(x)) HALF_UP — Spark rounds the shortest decimal
representation of the double, which numpy.round (half-even) and
floor(x*1e6+0.5) (float re-multiplication) do NOT reproduce at
representational edge cases.
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
    "cb long, o double, h double, l double, c double, nobs long, "
    "prev_close double, trs array<double>, ds array<double>"
)
OUTPUT_SCHEMA = (
    "key string, bucket_ts timestamp, open double, high double, "
    "low double, close double, n_obs long, tr double, atr double, "
    "rsi double, n_win long"
)

_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark F.round(x, 6) semantics: HALF_UP on the double's shortest
    decimal representation."""
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def make_bars_fn(bucket_secs: int, n: int = 14):
    bu = int(bucket_secs) * _US

    def finalize(cb, o, h, l, c, nobs, prev_close, trs, ds):
        """Close the bar: compute tr/d, the trailing-window indicator
        values over (ring + current), and the emission row."""
        if prev_close is None or np.isnan(prev_close):
            tr, d = h - l, np.nan
        else:
            tr = max(h - l, abs(h - prev_close), abs(l - prev_close))
            d = c - prev_close
        w_tr = trs + [tr]
        w_d = ds + [d]
        atr = _round6(sum(w_tr) / len(w_tr))
        d_def = [x for x in w_d if not np.isnan(x)]
        if d_def:
            ag = _round6(sum(x if x > 0 else 0.0 for x in d_def) / len(d_def))
            al = _round6(sum(-x if x < 0 else 0.0 for x in d_def) / len(d_def))
            rsi = _round6(100 * ag / (ag + al)) if ag + al > 0 else 50.0
        else:
            rsi = np.nan
        row = {
            "bucket_ts": pd.to_datetime(cb * bu, unit="us"),
            "open": o, "high": h, "low": l, "close": c,
            "n_obs": nobs, "tr": tr, "atr": atr, "rsi": rsi,
            "n_win": len(w_tr),
        }
        return row, w_tr[-(n - 1):], w_d[-(n - 1):]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cb, o, h, l, c, nobs, prev_close, trs, ds = state.get
            trs, ds = list(trs), list(ds)
        else:
            cb = None
            o = h = l = c = prev_close = float("nan")
            nobs, trs, ds = 0, [], []
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
                    cb, o, h, l, c, nobs = int(b[i]), v[i], v[i], v[i], v[i], 1
                elif b[i] == cb:
                    h, l, c = max(h, v[i]), min(l, v[i]), v[i]
                    nobs += 1
                else:
                    row, trs, ds = finalize(
                        cb, o, h, l, c, nobs, prev_close, trs, ds
                    )
                    rows.append(row)
                    prev_close = c
                    cb, o, h, l, c, nobs = int(b[i]), v[i], v[i], v[i], v[i], 1
            if rows:
                out = pd.DataFrame(rows)
                out.insert(0, "key", key[0])
                # first-ever bar has no defined close-diff -> rsi must
                # arrive as a NULL (like the batch operator), not NaN
                out["rsi"] = out["rsi"].astype("Float64")
                yield out
        if cb is not None:
            state.update(
                (
                    int(cb), float(o), float(h), float(l), float(c),
                    int(nobs),
                    float(prev_close) if prev_close is not None else float("nan"),
                    [float(x) for x in trs],
                    [float(x) for x in ds],
                )
            )

    return fn


def stream_bars_atr_rsi(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    n: int = 14,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) samples into finalized OHLC bars with
    TR/ATR/RSI attached."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_bars_fn(bucket_secs, n), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
