"""Window primitives mirroring the reference's stream-state ops.

 W1 sliding count-based window (ring buffer cap, ref:guess_lag.c:81,90-105)
 W2 first-difference               (ref:guess_lag.c:228-236)
 W3 time rebase to first ts        (ref:guess_lag.c:230-232,272)
 T1 best/argmax + generic top-k    (ref:guess_lag.c:286-304)

All are built-in window expressions — one shuffle on the partition key,
whole-stage codegen, no Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_last_n(
    df: DataFrame, keys: Sequence[str], ts: str, n: int
) -> DataFrame:
    """Keep the newest ``n`` rows per key — the batch analog of the
    reference's MAX_TICKS ring buffer (W1)."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def first_diff(
    df: DataFrame, keys: Sequence[str], ts: str, value: str, out: str = "diff"
) -> DataFrame:
    """value[i] - value[i-1] per key in ts order; the first row per key
    is dropped (the reference emits a synthetic 0 it then never uses —
    we drop instead, documented deviation from ref:guess_lag.c:231-233)."""
    w = Window.partitionBy(*keys).orderBy(ts)
    return (
        df.withColumn(out, F.col(value) - F.lag(value).over(w))
        .filter(F.col(out).isNotNull())
    )


def top_k(
    df: DataFrame, keys: Sequence[str], order_col: str, k: int, desc: bool = True
) -> DataFrame:
    """Generic per-key top-k via ranking window."""
    oc = F.col(order_col).desc() if desc else F.col(order_col).asc()
    w = Window.partitionBy(*keys).orderBy(oc)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def best_by(
    df: DataFrame, keys: Sequence[str], value_col: str, order_col: str
) -> DataFrame:
    """Per-key argmax: value of ``value_col`` at the max of ``order_col``
    (T1, declarative max_by). NaNs in ``order_col`` are excluded first —
    Spark sorts NaN above all numbers, which would otherwise win the
    argmax; the reference instead propagates NaN only when *everything*
    is NaN (ref:guess_lag.c:297-299), which this reproduces via the
    left join back onto the full key set."""
    clean = df.filter(~F.isnan(F.col(order_col)))
    agg = clean.groupBy(*keys).agg(
        F.max_by(value_col, order_col).alias(f"best_{value_col}"),
        F.max(order_col).alias(f"best_{order_col}"),
    )
    allkeys = df.select(*keys).distinct()
    return allkeys.join(agg, list(keys), "left")


def gap_intervals(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    threshold_sec: float,
) -> DataFrame:
    """Silence intervals per key: consecutive-observation gaps longer
    than ``threshold_sec`` — the irregular-series "downtime" view (the
    complement of sessionize's activity view; same lag-window shape as
    W2). Returns (keys..., gap_start, gap_end, gap_sec)."""
    from tits_spark.functions.exprs import ts_seconds

    out = (
        df.select(*keys, F.col(ts).alias("gap_end"))
        .withColumn("gap_start", F.lag("gap_end").over(
            Window.partitionBy(*keys).orderBy("gap_end")))
        .withColumn(
            "gap_sec",
            ts_seconds("gap_end") - ts_seconds("gap_start"),
        )
        .where(F.col("gap_sec") > threshold_sec)
    )
    return out.select(*keys, "gap_start", "gap_end", "gap_sec")


def uptime_stats(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    threshold_sec: float,
) -> DataFrame:
    """Per-key availability summary: observed span, count and total
    seconds of gaps over ``threshold_sec``, and the uptime ratio
    1 - downtime/span (1.0 for single-point/zero-span series). One
    lag window + one hash agg — partial aggregation applies."""
    from tits_spark.functions.exprs import ts_seconds

    w = Window.partitionBy(*keys).orderBy(ts)
    t = ts_seconds(ts)
    dt = t - F.lag(t).over(w)
    per = (
        df.withColumn("_dt", dt)
        .groupBy(*keys)
        .agg(
            (F.max(t) - F.min(t)).alias("span_sec"),
            F.sum(F.when(F.col("_dt") > threshold_sec, 1).otherwise(0))
            .alias("n_gaps"),
            F.sum(
                F.when(F.col("_dt") > threshold_sec, F.col("_dt")).otherwise(0.0)
            ).alias("downtime_sec"),
        )
    )
    return per.withColumn(
        "uptime_ratio",
        F.when(
            F.col("span_sec") > 0,
            F.round(1.0 - F.col("downtime_sec") / F.col("span_sec"), 6),
        ).otherwise(F.lit(1.0)),
    )


def value_runs(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
) -> DataFrame:
    """Constant-value runs per key (RLE segments / state intervals):
    (keys..., value, run_start, run_end, n_obs). Gaps-and-islands via
    change-flag running sum — BOTH window passes share one
    (keys)-partitioned exchange (the row_number-difference variant
    would shuffle a second time on (keys, value)), then a hash
    aggregate. The state view of a series (the complement of
    first_diff's change view)."""
    wo = Window.partitionBy(*keys).orderBy(ts)
    run = Window.partitionBy(*keys).orderBy(ts).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    chg = F.when(
        F.lag(value).over(wo).isNull()
        | (F.col(value) != F.lag(value).over(wo)),
        1,
    ).otherwise(0)
    runs = (
        df.where(F.col(value).isNotNull())
        .withColumn("_isl", F.sum(chg).over(run))
        .groupBy(*keys, value, "_isl")
        .agg(
            F.min(ts).alias("run_start"),
            F.max(ts).alias("run_end"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    return runs.select(*keys, value, "run_start", "run_end", "n_obs")


def threshold_crossings(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    level: float,
) -> DataFrame:
    """Threshold-crossing events per key: a row for every observation
    where the series crosses ``level`` relative to the previous
    observation — ``up`` when prev < level <= value, ``down`` when
    prev >= level > value (a sample sitting exactly ON the level
    counts as being at-or-above it, so oscillation around the exact
    level emits alternating rows, never duplicates). The monitoring
    primitive behind "alert when latency exceeds L": one lag window,
    no state beyond the previous sample — which is also why the
    streaming twin (streaming/crossing_stream.py) carries exactly one
    (ts, value) pair per key.

    Returns (keys..., ts, value, prev_value, direction).
    """
    w = Window.partitionBy(*keys).orderBy(ts)
    prev = F.lag(value).over(w)
    lv = F.lit(float(level))
    direction = (
        F.when((prev < lv) & (F.col(value) >= lv), F.lit("up"))
        .when((prev >= lv) & (F.col(value) < lv), F.lit("down"))
    )
    return (
        df.select(*keys, ts, value)
        .withColumn("prev_value", prev)
        .withColumn("direction", direction)
        .where(F.col("direction").isNotNull())
    )
