"""Streaming additive Holt-Winters: the 19th streaming twin, pairing
operators/smoothing.holt_winters with bounded per-key state.

The textbook init consumes the first TWO periods up front (l/b from
the period means, s from the first period), so a key's first ``2p``
samples buffer in state and everything from t = p+1 emits the moment
the 2p-th sample lands — after that the state is exactly
(idx, level, trend, seasonal ring): constant size forever.

Bit-equality with the batch operator (asserted in
tests/test_hw_stream.py incl. restarts): the init chain-sums, the
recursion steps, and the seasonal ring rotation replay the identical
IEEE operation trees; emission order and rounding are byte-for-byte
the batch rows.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = (
    "n_seen long, buf array<double>, l double, b double, s array<double>"
)
OUTPUT_SCHEMA = (
    "key string, idx long, value double, fitted double, level double, "
    "trend double, seasonal double"
)


def make_hw_fn(alpha: float, beta: float, gamma: float, period: int):
    a, b_, g, p = float(alpha), float(beta), float(gamma), int(period)

    def step(l, b, s, xt):
        sh = s[0]
        fitted = (l + b) + sh
        l_new = a * (xt - sh) + (1 - a) * (l + b)
        b_new = b_ * (l_new - l) + (1 - b_) * b
        s_new = g * (xt - l_new) + (1 - g) * sh
        return fitted, l_new, b_new, s[1:] + [s_new]

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n_seen, buf, l, b, s = state.get
            buf, s = list(buf), list(s)
        else:
            n_seen, buf, l, b, s = 0, [], 0.0, 0.0, []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "value"], kind="stable")
            pdf = pdf[pdf["value"].notna()]
            x = pdf["value"].to_numpy(np.float64)
            rows = []
            for xv in x:
                xv = float(xv)
                n_seen += 1
                if not s:  # still initializing
                    buf.append(xv)
                    if len(buf) == 2 * p:
                        acc1 = 0.0
                        for j in range(p):
                            acc1 = acc1 + buf[j]
                        l = acc1 / p
                        acc2 = 0.0
                        for j in range(p, 2 * p):
                            acc2 = acc2 + buf[j]
                        b = (acc2 / p - l) / p
                        s = [buf[j] - l for j in range(p)]
                        # replay the second period through the model
                        for t in range(p, 2 * p):
                            fitted, l, b, s = step(l, b, s, buf[t])
                            rows.append(
                                (t + 1, buf[t], fitted, l, b, s[-1])
                            )
                        buf = []
                    continue
                fitted, l, b, s = step(l, b, s, xv)
                rows.append((n_seen, xv, fitted, l, b, s[-1]))
            if rows:
                out = pd.DataFrame(
                    rows,
                    columns=["idx", "value", "fitted", "level", "trend",
                             "seasonal"],
                )
                out.insert(0, "key", key[0])
                yield out
        state.update(
            (
                int(n_seen),
                [float(v) for v in buf],
                float(l), float(b),
                [float(v) for v in s],
            )
        )

    return fn


def stream_holt_winters(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.4,
    period: int = 4,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) samples into per-event Holt-Winters
    fitted/level/trend/seasonal rows."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_hw_fn(alpha, beta, gamma, period), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
