"""Streaming Page-Hinkley drift alarms: the twin of
operators/page_hinkley.page_hinkley with FOUR integer scalars of
state per key — (t, cum_cents, ph, min_ph) — the textbook case for
sequential-by-construction statistics: the batch operator IS a
replay of this recursion, so the stream's fire-as-you-go alarm rows
are bit-equal to batch by construction (asserted incl. restarts in
tests/test_ph_stream.py; soak-registered as twin #30).

Per micro-batch the (us -> max cents) dedup and the per-row loop run
in pandas/numpy; each row advances

    t += 1;  a += c
    q   = floor(1e6 * (t*c - a) / t) - delta*1e6
    ph += q;  mn = min(mn, ph)
    alarm iff ph - mn > lambda*1e6

with Python ints (arbitrary precision — the decimal(38,0) analog; the
ONE float op is the same floor(double*1e6/double) both engines run).
Ordering contract: per-key time-ordered across batches, equal-us rows
within one batch (SURVEY.md §2.10, same as every twin).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "t long, a long, ph long, mn long"
OUTPUT_SCHEMA = (
    "key string, us long, t long, ph_u long, min_u long, excess_u long"
)


def make_ph_fn(delta_cents: int = 0, lambda_cents: int = 500):
    dlt = int(delta_cents) * 1_000_000
    lam = int(lambda_cents) * 1_000_000

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t, a, ph, mn = state.get
            if t == 0:  # stored sentinel: no observation yet
                mn = None
        else:
            t, a, ph, mn = 0, 0, 0, None
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf[pdf["value"].notna()]
            if not len(pdf):
                continue
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            c = np.round(pdf["value"].to_numpy(np.float64) * 100).astype(
                np.int64
            )
            # (us -> max cents) dedup inside the batch, time order
            dd = {}
            for u, cc in zip(us.tolist(), c.tolist()):
                dd[u] = cc if u not in dd or cc > dd[u] else dd[u]
            for u in sorted(dd):
                cc = dd[u]
                t += 1
                a += cc
                q = math.floor(float(t * cc - a) * 1e6 / float(t)) - dlt
                ph += q
                mn = ph if mn is None else min(mn, ph)
                if ph - mn > lam:
                    out.append((key[0], u, t, ph, mn, ph - mn))
        if out:
            yield pd.DataFrame(
                out, columns=["key", "us", "t", "ph_u", "min_u", "excess_u"]
            )
        state.update((int(t), int(a), int(ph), int(mn if mn is not None else 0)))

    return fn


def stream_page_hinkley(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    delta_cents: int = 0,
    lambda_cents: int = 500,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) ticks into Page-Hinkley alarm rows."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_ph_fn(delta_cents, lambda_cents), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
