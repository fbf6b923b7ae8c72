"""The guess_lag pipeline: pairwise lead/lag estimation between keyed
quote streams (ref:guess_lag.c:238-331, SURVEY.md §3.1).

Batch re-expression of the reference's streaming CLI:

  quotes(ts, venue, bid, ask)
    -> melt to per-(venue, side) books, absent sides never enter a book
    -> bounded book: newest MAX_TICKS rows per book (W1)
    -> eligibility: triggers have >= EDG_TICKS rows (use newest
       EDG_TICKS), partners >= LOW_TICKS (P5)
    -> all ordered pairs (trigger, partner), same side, i != j (J1)
    -> per pair: rebase t to trigger's first ts, first-difference the
       prices (W2/W3), kernel XCF at NLAGS lags on the tau grid (Q2)
    -> best-lag argmax with NaN propagation (T1), or full correlogram

Deviation from the reference, documented: the reference replays the
whole loop after *every* input line and fires a trigger exactly when a
book hits EDG_TICKS rows; a batch job sees one snapshot, so each
eligible book fires once on its newest EDG_TICKS rows. The planted-lag
fixture asserts the recovered offsets, not stream replay order.

Scale shape: the only heavy shuffle is the bounded-book window on
(side, venue); the group-by after it folds each book into one row of
time-ordered arrays without a second exchange. The books self-join on
side (the partner side broadcast: one row per book) into one row per
ordered pair, and each pair row crosses to Python once, so Python sees
no per-tick strings. Per-book state is bounded by MAX_TICKS, so a pair
row, and the memory of scoring it, is O(1) regardless of input size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tits_spark.functions import kernels as K
from tits_spark.functions.exprs import ts_seconds
from tits_spark.operators.windows import sliding_last_n

MAX_TICKS = 4096                     # ref:guess_lag.c:81
EDG_TICKS = 3 * MAX_TICKS // 4 + 1   # ref:guess_lag.c:242
LOW_TICKS = 2 * MAX_TICKS // 4 + 1   # ref:guess_lag.c:243
NLAGS = 256                          # ref:guess_lag.c:241
TAU = 0.01                           # ref:guess_lag.c:251

_FULL_SCHEMA = "side string, key1 string, key2 string, lag_time double, xcf double"
_BEST_SCHEMA = "side string, key1 string, key2 string, best_lag double, best_xcf double"


def melt_books(quotes: DataFrame) -> DataFrame:
    """(ts, venue, bid, ask) -> (side, venue, ts, px); a NULL side simply
    produces no row (the reference never appends absent fields). One
    pass over the quotes: each row inlines into its BID and ASK rows."""
    sides = [
        F.struct(F.lit(side).alias("side"), "venue", "ts", F.col(col).alias("px"))
        for side, col in (("BID", "bid"), ("ASK", "ask"))
    ]
    return quotes.select(F.inline(F.array(*sides))).filter(F.col("px").isNotNull())


def _best_lag(xcf: np.ndarray, nlags: int, tau: float) -> tuple[float, float]:
    """The reference argmax over a correlogram: the first maximal element
    wins and a NaN never beats the running best, so a NaN at lag -nlags
    stays best and yields a NaN lag (ref:guess_lag.c:286-304)."""
    k = 0 if np.isnan(xcf[0]) else int(np.nanargmax(xcf))
    best_lag = float("nan") if np.isnan(xcf[k]) else (k - nlags) * tau
    return best_lag, float(xcf[k])


def guess_lag(
    quotes: DataFrame,
    best: bool = True,
    max_ticks: int = MAX_TICKS,
    edg_ticks: int | None = None,
    low_ticks: int | None = None,
    nlags: int = NLAGS,
    tau: float = TAU,
) -> DataFrame:
    """Pairwise lead/lag over a quotes table.

    Returns (side, key1, key2, best_lag, best_xcf) when ``best`` else the
    full correlogram rows (side, key1, key2, lag_time, xcf).
    """
    if edg_ticks is None:
        edg_ticks = 3 * max_ticks // 4 + 1
    if low_ticks is None:
        low_ticks = 2 * max_ticks // 4 + 1

    # one row per book: its size and its (t, px) series in time order.
    # The window already hash-partitions on (side, venue), so the
    # group-by adds no exchange; sorting the (t, px) structs breaks
    # equal-ts ties by price, whatever order the shuffle delivered.
    books = (
        sliding_last_n(melt_books(quotes), ["side", "venue"], "ts", max_ticks)
        .groupBy("side", "venue")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list(
                F.struct(ts_seconds("ts").alias("t"), "px"))).alias("tp"),
        )
    )
    # trigger fires on its newest edg_ticks rows (ref fires at n == EDG)
    tp1, tp2 = F.slice("tp", -edg_ticks, edg_ticks), F.col("tp")
    trig = books.filter(F.col("n") >= edg_ticks).select(
        "side", F.col("venue").alias("key1"),
        tp1["t"].alias("t1"), tp1["px"].alias("p1"),
    )
    part = books.filter(F.col("n") >= low_ticks).select(
        "side", F.col("venue").alias("key2"),
        tp2["t"].alias("t2"), tp2["px"].alias("p2"),
    )
    # one row per ordered pair: (side, key1, t1, p1, key2, t2, p2)
    pairs = trig.join(F.broadcast(part), "side").filter(F.col("key1") != F.col("key2"))

    def score(batches):
        lag_time = np.arange(-nlags, nlags + 1) * tau
        for pdf in batches:
            out = []
            for side, key1, t1, p1, key2, t2, p2 in pdf.itertuples(index=False):
                tref = t1[0]
                # first-difference prices; drop the first element of each
                # book (clean form of ref:guess_lag.c:228-236's synthetic
                # zero slot)
                xcf = K.xcor(t1[1:] - tref, np.diff(p1), t2[1:] - tref, np.diff(p2),
                             nlags, tau)
                if not best:
                    out.append(pd.DataFrame({
                        "side": side, "key1": key1, "key2": key2,
                        "lag_time": lag_time, "xcf": xcf,
                    }))
                    continue
                best_lag, best_xcf = _best_lag(xcf, nlags, tau)
                out.append(pd.DataFrame({
                    "side": [side], "key1": [key1], "key2": [key2],
                    "best_lag": [best_lag], "best_xcf": [best_xcf],
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    # round-robin repartition of the pair table: the XCF scorer is the
    # most CPU-per-byte stage in the engine (an nlags x n kernel per pair
    # over one row), exactly the shape AQE's advisory-size coalescing
    # serializes onto one task. A numbered round-robin repartition is
    # exempt from coalescing and spreads the pairs evenly over the cores
    # (tests/test_plans.py).
    nparts = quotes.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(nparts).mapInPandas(
        score, schema=_BEST_SCHEMA if best else _FULL_SCHEMA
    )
