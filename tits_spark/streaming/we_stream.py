"""Streaming Western Electric zone-rule monitor: the twin of
operators/western_electric.western_electric_ticks with ELEVEN integer
scalars of state per key — (n, s, mr, prev) for the Phase-I baseline
accumulation plus six bit-packed flag rings (2-bit zone-2, 4-bit
zone-1, 7-bit side, each signed pair) and nothing else.  CL and sigma
are NOT stored: they are recomputed per call from the exact integer
(s, mr) pair through the identical double tree the batch operator
compiles — float(s)/B and (float(mr)/(B-1))/1.128 — so stream and
batch branch on bit-identical doubles, and the alert rows (key, us,
c, dev, r1..r4) are bit-equal to the batch replay by construction
(asserted incl. restarts in tests/test_we_stream.py; soak twin #32).

Rule sums are popcounts of (ring << 1 | flag) over the window mask —
pure Python ints.  Degenerate keys (short baseline forever, or
zero-sigma baseline) emit nothing, exactly like batch.  Ordering
contract: per-key time-ordered across batches, equal-us rows within
one batch (SURVEY.md §2.10, same as every twin).
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
    "n long, s long, mr long, prev long, "
    "u2 long, d2 long, u1 long, d1 long, u0 long, d0 long"
)
OUTPUT_SCHEMA = (
    "key string, us long, c long, dev double, "
    "r1 boolean, r2 boolean, r3 boolean, r4 boolean"
)


def make_we_fn(baseline_n: int = 50):
    b = int(baseline_n)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s, mr, prev, u2, d2, u1, d1, u0, d0 = state.get
        else:
            n, s, mr, prev, u2, d2, u1, d1, u0, d0 = (0,) * 10
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf[pdf["value"].notna()]
            if not len(pdf):
                continue
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            cc = np.round(pdf["value"].to_numpy(np.float64) * 100).astype(
                np.int64
            )
            dd = {}
            for u, c in zip(us.tolist(), cc.tolist()):
                dd[u] = c if u not in dd or c > dd[u] else dd[u]
            for u in sorted(dd):
                c = dd[u]
                n += 1
                if n <= b:
                    s += c
                    if n >= 2:
                        mr += abs(c - prev)
                    prev = c
                    continue
                cl = float(s) / float(b)
                sig = (float(mr) / float(b - 1)) / 1.128
                if not sig > 0:
                    continue
                dev = float(c) - cl
                f_u3 = dev > 3.0 * sig
                f_d3 = dev < -3.0 * sig
                f_u2 = int(dev > 2.0 * sig)
                f_d2 = int(dev < -2.0 * sig)
                f_u1 = int(dev > sig)
                f_d1 = int(dev < -sig)
                f_u0 = int(dev > 0)
                f_d0 = int(dev < 0)
                er = n - b
                r1 = f_u3 or f_d3
                su2 = bin((u2 << 1) | f_u2).count("1")
                sd2 = bin((d2 << 1) | f_d2).count("1")
                su1 = bin((u1 << 1) | f_u1).count("1")
                sd1 = bin((d1 << 1) | f_d1).count("1")
                su0 = bin((u0 << 1) | f_u0).count("1")
                sd0 = bin((d0 << 1) | f_d0).count("1")
                r2 = er >= 3 and (
                    (su2 >= 2 and f_u2 == 1) or (sd2 >= 2 and f_d2 == 1)
                )
                r3 = er >= 5 and (
                    (su1 >= 4 and f_u1 == 1) or (sd1 >= 4 and f_d1 == 1)
                )
                r4 = er >= 8 and (su0 == 8 or sd0 == 8)
                if r1 or r2 or r3 or r4:
                    out.append(
                        (key[0], u, c, dev, bool(r1), bool(r2), bool(r3),
                         bool(r4))
                    )
                # shift rings, keeping window-1 history bits
                u2 = ((u2 << 1) | f_u2) & 0b11
                d2 = ((d2 << 1) | f_d2) & 0b11
                u1 = ((u1 << 1) | f_u1) & 0b1111
                d1 = ((d1 << 1) | f_d1) & 0b1111
                u0 = ((u0 << 1) | f_u0) & 0b1111111
                d0 = ((d0 << 1) | f_d0) & 0b1111111
        if out:
            yield pd.DataFrame(
                out,
                columns=["key", "us", "c", "dev", "r1", "r2", "r3", "r4"],
            )
        state.update(
            (
                int(n), int(s), int(mr), int(prev),
                int(u2), int(d2), int(u1), int(d1), int(u0), int(d0),
            )
        )

    return fn


def stream_western_electric(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    baseline_n: int = 50,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) ticks into WE zone-rule alert rows."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_we_fn(baseline_n), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
