"""Streaming GARCH(1,1) filter with O(1) state per key — twin #27.

The causal form of operators/garch.garch_filter: the variance init is
an EXPLICIT calibration (init_var; the batch default's full-sample
var0 looks ahead and is not streamable), and the recursion

    s_{i+1} = omega + alpha * r_i^2 + beta * s_i
    omega   = init_var * alpha        (alpha=1/16, beta=7/8)

carries four scalars per key: the previous tick's cents (for the next
return), the conditional variance s, the return count and the z^2
accumulator. Returns are exact int64 cents diffs of the dedup'd tick
order (within a micro-batch the (key, us) max-cents rule is applied
batch-side; across batches per-key time order is the documented
contract). The float64 update tree matches the batch operator's loop
verbatim, so the state after any prefix is bit-identical to the batch
operator run on that prefix with the same init_var.

Emits one row per processed return (key, us, n_ret, s, z2_acc) in
append mode — s is sigma2_{i} BEFORE consuming return i's innovation,
i.e. exactly the variance a forecaster had available at that tick.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

_ALPHA = 0.0625
_BETA = 0.875
_NONE = -(2**62)

STATE_SCHEMA = "prev_c long, s double, n_ret long, z2 double"
OUTPUT_SCHEMA = "key string, us long, n_ret long, s double, z2 double"


def make_garch_fn(init_var: float):
    v0 = float(init_var)
    om = v0 * _ALPHA

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            prev_c, s, n_ret, z2 = state.get
        else:
            prev_c, s, n_ret, z2 = _NONE, v0, 0, 0.0
        out_us: list[int] = []
        out_n: list[int] = []
        out_s: list[float] = []
        out_z: list[float] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts", kind="stable")
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            cents = (
                (pdf["value"].to_numpy("float64") * 100)
                .round().astype("int64")
            )
            # in-batch (key, us) dedup by max cents — the house rule
            by_us: dict[int, int] = {}
            for t, c in zip(us, cents):
                t, c = int(t), int(c)
                if t not in by_us or c > by_us[t]:
                    by_us[t] = c
            for t in sorted(by_us):
                c = by_us[t]
                if prev_c != _NONE:
                    r = c - prev_c
                    rr = float(r * r)
                    n_ret += 1
                    out_us.append(t)
                    out_n.append(n_ret)
                    out_s.append(s)  # variance available BEFORE r_i
                    z2 = z2 + rr / s
                    s = om + _ALPHA * rr + _BETA * s
                    out_z.append(z2)
                prev_c = c
        state.update((prev_c, s, n_ret, z2))
        if out_us:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(out_us),
                    "us": out_us,
                    "n_ret": out_n,
                    "s": out_s,
                    "z2": out_z,
                }
            )

    return fn


def stream_garch(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    init_var: float,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) parquet into per-return GARCH variance
    rows; state is four scalars per key."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_garch_fn(init_var), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
