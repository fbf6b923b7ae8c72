"""Stateful streaming analog of the reference's keyed tick books:
bounded per-key buffers with slide-on-full and fire-on-threshold
(ref:guess_lag.c:81,90-105,260,319-325 — W1/W4 in SURVEY.md §2.5).

Implemented with applyInPandasWithState: state = the newest <= max_ticks
(ts, value) pairs per key; when the buffer reaches ``edg_ticks`` the
operator emits one trigger row carrying the buffered series stats and
crops the buffer to half (so it won't re-fire on every subsequent tick,
exactly the reference's crop-after-fire)."""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "t array<double>, v array<double>"
OUTPUT_SCHEMA = (
    "key string, fire_t double, n int, v_mean double, v_min double, v_max double"
)

MAX_TICKS = 4096
EDG_TICKS = 3 * MAX_TICKS // 4 + 1


def make_book_fn(max_ticks: int = MAX_TICKS, edg_ticks: int = EDG_TICKS):
    """Build the (key, pdf_iter, state) -> pdf_iter function for
    DataFrame.groupBy(key).applyInPandasWithState."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            t, v = state.get
            t, v = list(t), list(v)
        else:
            t, v = [], []
        fired = []
        for pdf in pdfs:
            # within-batch ordering is not guaranteed by the state
            # shuffle; sort like the other per-event twins (the
            # cross-batch order is the stream's documented contract)
            pdf = pdf.sort_values(["t", "v"], kind="stable")
            for tt, vv in zip(pdf["t"].to_numpy(), pdf["v"].to_numpy()):
                if len(t) >= max_ticks:  # slide: keep newest half
                    t = t[-(max_ticks // 2) :]
                    v = v[-(max_ticks // 2) :]
                t.append(float(tt))
                v.append(float(vv))
                if len(t) == edg_ticks:
                    arr = np.asarray(v)
                    fired.append((key[0], float(tt), len(t),
                                  float(arr.mean()), float(arr.min()), float(arr.max())))
                    # crop-after-fire (ref:guess_lag.c:319-325)
                    t = t[-(max_ticks // 2) :]
                    v = v[-(max_ticks // 2) :]
        state.update((t, v))
        if fired:
            yield pd.DataFrame(
                fired, columns=["key", "fire_t", "n", "v_mean", "v_min", "v_max"]
            )

    return fn


def book_triggers(df, key: str = "key", max_ticks: int = MAX_TICKS,
                  edg_ticks: int = EDG_TICKS):
    """Wire the stateful book over a streaming DataFrame with columns
    (key, t: double, v: double)."""
    return _run.keyed(df, make_book_fn(max_ticks, edg_ticks), OUTPUT_SCHEMA,
                      STATE_SCHEMA, key=key)
