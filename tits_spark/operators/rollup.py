"""Cascading fixed-interval rollup tiers: raw -> 1m -> 1h -> 1d.

The reference has no rollup (its retention is the 4096-tick ring buffer,
ref:guess_lag.c:81,90-99); BASELINE.json's north_rule mandates cascading
continuous aggregates over the transcripts table. Spark-first design:

 - every aggregate kept in a tier row is ASSOCIATIVE (count, sum, sumsq,
   min, max, argmin/argmax-by-ts) so coarser tiers are computed from the
   previous tier, never from raw: at 10^12 turns the 1h job reads the
   ~60x smaller 1m table, and Catalyst's partial aggregation (map-side
   combine) applies at every step — one shuffle per tier, keyed by
   (key, bucket). Non-associative outputs (mean, stddev) are derived
   expressions at read time.
 - first/last within a bucket use min_by/max_by on the observation
   timestamp — deterministic under any row order (timestamps are unique
   per key: strictly increasing per conv_id by construction), so tier
   outputs are EXACTLY equal whether cascaded or computed direct from
   raw (associativity property test in tests/test_rollup.py).
 - tier tables are stored by sources.table_io, partitioned by
   bucket_date so time-range queries partition-prune.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tits_spark.sources.table_io import resolve_table_io

#: tier name -> (truncation unit for date_trunc, seconds per bucket)
TIERS = {
    "1m": ("minute", 60),
    "1h": ("hour", 3600),
    "1d": ("day", 86400),
}

#: cascade order raw -> 1m -> 1h -> 1d
TIER_ORDER = ["1m", "1h", "1d"]


def bucket_col(ts: Column | str, tier: str) -> Column:
    unit, _ = TIERS[tier]
    return F.date_trunc(unit, ts)


#: calendar (variable-width) units the 1d tier can cascade into.
#: Kept separate from TIERS: fixed-width tier math (gapfill spines,
#: resolution routing) assumes constant bucket seconds, which weeks /
#: months / years don't have.
CALENDAR_UNITS = ("week", "month", "quarter", "year")


def _raw_aggs(value: str, ts: str) -> list[Column]:
    """The tier row's aggregates over raw (ts, value) rows — shared by
    the batch 1m pass and the streaming 1m front-end."""
    v, t = F.col(value), F.col(ts)
    return [
        F.count(v).alias("n_obs"),
        F.sum(v).alias("v_sum"),
        F.sum(v * v).alias("v_sumsq"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.min_by(v, t).alias("v_first"),
        F.max_by(v, t).alias("v_last"),
        F.min(t).alias("first_ts"),
        F.max(t).alias("last_ts"),
    ]


def _merge_aggs() -> list[Column]:
    """The same aggregates over finer tier rows (sums of sums, min of
    mins, argmin-by-first_ts of firsts, ...)."""
    return [
        F.sum("n_obs").alias("n_obs"),
        F.sum("v_sum").alias("v_sum"),
        F.sum("v_sumsq").alias("v_sumsq"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
        F.min_by("v_first", "first_ts").alias("v_first"),
        F.max_by("v_last", "last_ts").alias("v_last"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    ]


def rollup_from_raw(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    value: str = "value",
    tier: str = "1m",
) -> DataFrame:
    """Aggregate a raw irregular stream (key, ts, value) into one tier.

    One shuffle on (key, bucket_ts); Catalyst emits partial_agg ->
    exchange -> final_agg (verified via .explain in tests/test_plans.py).
    """
    return df.groupBy(
        F.col(key).alias("key"), bucket_col(ts, tier).alias("bucket_ts")
    ).agg(*_raw_aggs(value, ts))


def rollup_cascade(tier_df: DataFrame, to: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one: a fixed tier
    ("1h", "1d") or a calendar unit (week/month/quarter/year, cascaded
    off the 1d tier). Exact, because every kept aggregate is
    associative and bucket boundaries nest (calendar boundaries nest
    day boundaries; session tz is pinned UTC, so date_trunc is stable).

    Reads the finer tier, never raw: at 10^12 turns the monthly
    continuous aggregate reads the ~86400x-smaller day tier.
    """
    if to in TIERS:
        unit = TIERS[to][0]
    elif to in CALENDAR_UNITS:
        unit = to
    else:
        raise ValueError(
            f"unit must be a tier {tuple(TIERS)} or one of {CALENDAR_UNITS}, got {to!r}"
        )
    return tier_df.groupBy(
        "key", F.date_trunc(unit, "bucket_ts").alias("bucket_ts")
    ).agg(*_merge_aggs())


def with_derived(tier_df: DataFrame) -> DataFrame:
    """Attach non-associative derived stats (mean, sample variance) in
    one projection, written as SQL text: every DataFrame column call is
    a py4j round trip, and a dashboard query pays them per query."""
    return tier_df.selectExpr(
        "*",
        "v_sum / n_obs AS v_mean",
        "CASE WHEN n_obs > 1 THEN (v_sumsq - v_sum * v_sum / n_obs) / (n_obs - 1) END AS v_var",
    )


def rollup_all_tiers(
    raw: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    value: str = "value",
) -> dict[str, DataFrame]:
    """Full cascade raw -> 1m -> 1h -> 1d. Returns {tier: DataFrame}."""
    out: dict[str, DataFrame] = {}
    prev: DataFrame | None = None
    for tier in TIER_ORDER:
        cur = (
            rollup_from_raw(raw, key, ts, value, tier)
            if prev is None
            else rollup_cascade(prev, tier)
        )
        out[tier] = cur
        prev = cur
    return out


def rollup_multi(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    values: list[str] | None = None,
    tier: str = "1m",
    dims: list[str] | None = None,
) -> DataFrame:
    """Roll up SEVERAL metric columns (and optional extra dimension
    columns) in ONE pass: at 10^12 turns, re-scanning raw once per
    metric is the dominant avoidable cost of a naive per-metric
    cascade — here every metric rides the same scan, the same
    partial+final hash aggregate, and the same single shuffle.

    Output: one row per (key, *dims, bucket_ts) with flat columns
    ``<metric>_{n,sum,min,max,first,last}`` — flat rather than structs
    so the result stays fully SQL-expressible (oracle-checkable) and
    parquet-pruneable per column.
    """
    values = values or ["value"]
    t = F.col(ts)
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_obs")]
    for v in values:
        c = F.col(v)
        aggs += [
            F.sum(c).alias(f"{v}_sum"),
            F.min(c).alias(f"{v}_min"),
            F.max(c).alias(f"{v}_max"),
            F.min_by(c, t).alias(f"{v}_first"),
            F.max_by(c, t).alias(f"{v}_last"),
        ]
    keys = [F.col(key).alias("key"), *[F.col(d) for d in (dims or [])],
            bucket_col(ts, tier).alias("bucket_ts")]
    return df.groupBy(*keys).agg(*aggs)


#: conservative (maximum) bucket seconds per calendar unit — used by
#: the router so "span / width >= target_points" GUARANTEES at least
#: target_points buckets even for variable-width months/quarters/years
CALENDAR_MAX_SECONDS = {
    "week": 7 * 86400,
    "month": 31 * 86400,
    "quarter": 92 * 86400,
    "year": 366 * 86400,
}


def choose_tier(start, end, target_points: int, calendar: tuple = ()) -> str:
    """The coarsest tier that still yields >= ``target_points`` buckets
    over [start, end] — falling back to the finest tier for short
    ranges. ``start``/``end`` are datetimes (or anything with
    ``timestamp()``). The dashboard-router rule: never scan finer data
    than the plot can show (the same motivation as M4/LTTB
    downsampling, applied at the storage tier level).

    ``calendar``: calendar tiers ALSO maintained in storage (see
    lineage.incremental_calendar) to consult before the fixed ladder;
    their variable widths are bounded by CALENDAR_MAX_SECONDS so the
    point guarantee is conservative (a 5-year span at 50 target points
    routes to the ~60-row month tier instead of 1800 days)."""
    span = end.timestamp() - start.timestamp()
    if span <= 0:
        raise ValueError("choose_tier: end must be after start")
    cal = [u for u in ("year", "quarter", "month", "week") if u in calendar]
    for unit in cal:                           # coarsest first
        if span / CALENDAR_MAX_SECONDS[unit] >= target_points:
            return unit
    for tier in reversed(TIER_ORDER):          # coarsest first
        if span / TIERS[tier][1] >= target_points:
            return tier
    return TIER_ORDER[0]


def read_resolution(
    spark,
    tiers_path: str,
    start,
    end,
    target_points: int = 200,
    derived: bool = True,
    calendar: tuple = (),
) -> DataFrame:
    """Read the right tier for a time range + target resolution.
    Only the tier's day directories from ``start.date()``
    to ``end.date()`` are read, listed through Hadoop with the schema
    taken from a file footer, so building the frame submits no Spark
    job (``table_io.read_tier``); the bucket_date predicates still
    reach the scan's partition filters. Returns the tier rows (plus
    derived mean/var unless ``derived=False``) restricted to
    [start, end). Pass ``calendar=("month",)`` etc. when those tiers
    are maintained (rollup_job --calendar) to let multi-year ranges
    route to them."""
    tier = choose_tier(start, end, target_points, calendar=calendar)
    df = resolve_table_io(spark, tiers_path, tiers_path).read_tier(
        tier, start.date(), end.date()
    )
    out = df.where(
        F.expr(f"bucket_date BETWEEN DATE'{start.date()}' AND DATE'{end.date()}'")
        & (F.col("bucket_ts") >= F.lit(start))
        & (F.col("bucket_ts") < F.lit(end))
    )
    return with_derived(out) if derived else out
