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
(t, px) arrays without a second exchange. A small shuffle on side then
gathers a side's books (one row per venue) into one row, and one
generator expression expands that row into one row per ordered pair, so
each book is built once and nothing is joined. Each pair row crosses to
Python once, so Python sees no per-tick strings. Per-book state is
bounded by MAX_TICKS, so a pair row, and the memory of scoring it, is
O(1) regardless of input size; a side row holds its V books, and one
task per side generates its V(V-1) pairs before the round-robin
repartition spreads them.

Scoring runs ``defaultParallelism`` Python tasks, and each Python task
pays a fixed start before its first pair. Part of it is the worker's
per-task ``importlib.invalidate_caches()``: on CPython 3.10-3.12 it
re-reads every zip archive on the worker's path (100-300 ms per task)
unless the package's import hook (``tits_spark/__init__.py``) is
installed, which limits it to archives that changed. More scoring tasks
than cores buy nothing but more of these starts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tits_spark.functions import kernels as K

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
    return quotes.selectExpr(
        "inline(array(struct('BID' AS side, venue, ts, bid AS px), "
        "struct('ASK' AS side, venue, ts, ask AS px)))"
    ).where("px IS NOT NULL")


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

    # The bounded-book window on (side, venue) is the only heavy shuffle.
    # It orders by (ts, px), as the books are sorted below, so equal
    # timestamps straddling the cutoff keep the same ticks whatever order
    # the shuffle delivered. NULL prices were dropped by melt_books
    # before it and never count toward the bound.
    top = (
        melt_books(quotes)
        .selectExpr("*", "row_number() OVER "
                    "(PARTITION BY side, venue ORDER BY ts DESC, px DESC) AS rn")
        .where(f"rn <= {max_ticks}")
    )
    # one row per book, (venue, t[], px[]) in (t, px) order (the group-by
    # reuses the window's partitioning), then one row per side holding
    # its books; t is exprs.ts_seconds
    books = (
        top.groupBy("side", "venue")
        .agg(F.expr("sort_array(collect_list(struct("
                    "CAST(CAST(ts AS TIMESTAMP) AS DOUBLE) AS t, px))) AS tp"))
        .groupBy("side")
        .agg(F.expr("collect_list(struct(venue, tp.t AS t, tp.px AS px)) AS bs"))
    )
    # one row per ordered pair (side, key1, t1, p1, key2, t2, p2): each
    # trigger with >= edg_ticks rows fires on its newest edg_ticks (the
    # reference fires at n == EDG) against every other book of its side
    # with >= low_ticks rows
    e = f"-{edg_ticks}, {edg_ticks}"
    pairs = books.selectExpr(
        "side",
        f"inline(flatten(transform(filter(bs, a -> size(a.t) >= {edg_ticks}), "
        f"a -> transform(filter(bs, b -> size(b.t) >= {low_ticks} AND b.venue != a.venue), "
        f"b -> struct(a.venue AS key1, slice(a.t, {e}) AS t1, slice(a.px, {e}) AS p1, "
        "b.venue AS key2, b.t AS t2, b.px AS p2)))))",
    )

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
