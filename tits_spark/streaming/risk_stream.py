"""Streaming risk-ratio ledger: the twin of
operators/risk_ratios.risk_ratios with TEN integer scalars of state
per key.

Day-close discipline: a day's close is only FINAL when a later day's
first event arrives (the rollup/croston bucket-close rule), so the
stream carries the OPEN day's (day, close-so-far) in state and, on
each close, folds the day into the running ledger

    (n_days, sum_r, down2, gain, loss, peak, maxdd)   — all exact
    int64 cents, the batch operator's integers verbatim —

and emits one ledger row as of that closed day, with the same
round-6 Sortino/Omega/Calmar trees the batch emits. The last
emission per key therefore equals risk_ratios(min_days=1) run over
the closed-day prefix bit for bit (asserted incl. restarts in
tests/test_risk_stream.py).

Within a micro-batch the day collapse is vectorized (pandas groupby
last-by-us); only the 10-tuple crosses batches. Ordering contract:
per-key time-ordered across batches, (ts)-sorted within each batch
(SURVEY.md §2.10's contract, same as every twin).
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

STATE_SCHEMA = (
    "d_open long, c_open long, prev_close long, n_days long, sum_r long, "
    "down2 long, gain long, loss long, peak long, maxdd long"
)
OUTPUT_SCHEMA = (
    "key string, d long, n_days long, sum_r long, down2 long, gain long, "
    "loss long, maxdd long, sortino double, omega double, calmar double"
)

_US_PER_DAY = 86_400_000_000
_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark F.round parity: BigDecimal.valueOf(double) uses the
    shortest repr, then HALF_UP — Python's half-even round() diverges
    on exact 7-digit boundaries like 1/128 (the croston/stoch twin
    lesson; integer ratios DO produce them)."""
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def _ratios(n_days, sum_r, down2, gain, loss, maxdd):
    sortino = (
        _round6(sum_r / float(np.sqrt((n_days - 1) * float(down2)))) + 0.0
        if down2 > 0
        else None
    )
    omega = _round6(gain / float(loss)) + 0.0 if loss > 0 else None
    calmar = _round6(sum_r / float(maxdd)) + 0.0 if maxdd > 0 else None
    return sortino, omega, calmar


def make_risk_fn():
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (d_open, c_open, prev_close, n_days, sum_r, down2, gain, loss,
             peak, maxdd) = state.get
        else:
            d_open = c_open = prev_close = None
            n_days = sum_r = down2 = gain = loss = maxdd = 0
            peak = None
        out_rows = []

        def close_day(d, close):
            nonlocal prev_close, n_days, sum_r, down2, gain, loss, peak, maxdd
            n_days += 1
            if prev_close is not None:
                r = close - prev_close
                sum_r += r
                if r < 0:
                    down2 += r * r
                    loss += -r
                elif r > 0:
                    gain += r
            peak = close if peak is None else max(peak, close)
            dd = peak - close
            maxdd = max(maxdd, dd)
            prev_close = close
            so, om, ca = _ratios(n_days, sum_r, down2, gain, loss, maxdd)
            out_rows.append((key[0], d, n_days, sum_r, down2, gain, loss,
                             maxdd, so, om, ca))

        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts", kind="stable")
            pdf = pdf[pdf["value"].notna()]
            if not len(pdf):
                continue
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            c = np.round(pdf["value"].to_numpy(np.float64) * 100).astype(
                np.int64
            )
            d = us // _US_PER_DAY
            # close = max cents among the rows sharing the day's max us
            # (the batch (key, us) max-cents dedup + arg_max rule)
            last_idx = np.flatnonzero(np.diff(d, append=d[-1] + 1) != 0)
            for i in last_idx:
                day = int(d[i])
                tie = (d == day) & (us == us[i])
                close = int(c[tie].max())
                if d_open is None:
                    d_open, c_open = day, close
                elif day == d_open:
                    c_open = close
                else:
                    close_day(d_open, c_open)
                    d_open, c_open = day, close
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=["key", "d", "n_days", "sum_r", "down2", "gain",
                         "loss", "maxdd", "sortino", "omega", "calmar"],
            )
        state.update((
            d_open, c_open, prev_close, int(n_days), int(sum_r), int(down2),
            int(gain), int(loss), peak, int(maxdd),
        ))

    return fn


def stream_risk_ratios(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) ticks into the closed-day risk ledger."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_risk_fn(), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
