"""Gap-fill: bucket spine generation + LOCF + linear interpolation.

The reference's null model is absence — missing ticks are simply rows
that never reached the book (ref:guess_lag.c:205-224, SURVEY.md §1.3).
Gap-fill materializes those absent buckets on a regular spine and fills
values, entirely with built-in column expressions (window last/first
with ignorenulls) — no Python in the hot path, whole-stage codegen
applies.

Scale notes:
 - the fill is ONE window pass over the observed rows (partition by
   key, order by bucket_ts: one shuffle on key). ``lead(bucket_ts)``
   gives each row its gap up to the key's next observation, and the
   carried values (LOCF's last value, interpolation's neighbours) are
   computed in the same pass; each row then explodes into its own
   bucket plus that gap. No spine aggregate, no join back to the
   observations, no second scan of the input;
 - output size is bounded by n_keys * time_range / bucket, independent
   of raw row count; fine tiers explode in two levels (days, then
   buckets within a day), so a long gap never becomes one huge array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tits_spark.operators.rollup import TIERS


def _tier_seconds(tier: str) -> int:
    """Bucket width of a fixed tier. Day boundaries lie on every
    sub-day tier grid, so the two-level day/bucket expansion produces
    row-identical output to a single ``sequence`` — PROVIDED the width
    divides a day and the session timezone has no DST (both hold for
    the UTC-pinned 60/3600/86400 tiers; this check turns a violation,
    e.g. a future '7m' tier, into an error instead of a silently
    misaligned spine)."""
    _, secs = TIERS[tier]
    if secs < 86400 and 86400 % secs != 0:
        raise ValueError(
            f"gapfill: sub-day tier width {secs}s must divide 86400 "
            "for the day/bucket two-level expansion to stay on the grid"
        )
    return secs


def _explode_buckets(df: DataFrame, lo: str, hi: str, secs: int) -> DataFrame:
    """Every column of ``df`` plus ``bucket_ts``: one row per bucket of
    width ``secs`` in [lo, hi] for each input row.

    Fine tiers explode in TWO levels — days first, then buckets within
    each day — so no intermediate array exceeds ~36.5k (a century of
    days) or 1440 (minutes per day) elements. A single
    ``sequence(lo, hi)`` would materialize one array row sized by the
    whole span: a 10-year span at the 1m tier is a 5M-element ~40MB
    row, an executor-OOM hazard exactly on the long-lived keys a
    10^12-turn table is guaranteed to contain."""
    cols = [f"`{c}`" for c in df.columns]
    step = f"INTERVAL {secs} SECONDS"
    if secs >= 86400:
        return df.selectExpr(*cols, f"explode(sequence({lo}, {hi}, {step})) AS bucket_ts")
    days = df.selectExpr(
        *cols,
        f"explode(sequence(date_trunc('DAY', {lo}), date_trunc('DAY', {hi}), "
        "INTERVAL 1 DAY)) AS _day",
    )
    return days.selectExpr(
        *cols,
        f"explode(sequence(greatest({lo}, _day), "
        f"least({hi}, _day + INTERVAL {86400 - secs} SECONDS), {step})) AS bucket_ts",
    )


def bucket_spine(tier_df: DataFrame, tier: str) -> DataFrame:
    """Dense (key, bucket_ts) spine spanning each key's observed range."""
    secs = _tier_seconds(tier)
    per_key = tier_df.groupBy("key").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    )
    return _explode_buckets(per_key, "lo", "hi", secs).select("key", "bucket_ts")


#: the fill windows: observed rows of a key in time order, up to and
#: including the current row, and strictly after it
_BY_KEY = "PARTITION BY key ORDER BY bucket_ts"
_UPTO = f"({_BY_KEY} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
_AFTER = f"({_BY_KEY} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"


def _fill_rows(tier_df: DataFrame, tier: str, value: str, *carry: str) -> DataFrame:
    """The one window pass: each observed row keeps the ``carry``
    columns (SQL window expressions over ``_BY_KEY``) and explodes into
    its own bucket plus the gap before the key's next observation.
    Adds ``filled``: the bucket had no observation, or its observed
    value is NULL. The plan is built from SQL text: each DataFrame
    column call is a py4j round trip, and a dashboard query pays them
    all before its first task runs."""
    secs = _tier_seconds(tier)
    rows = tier_df.selectExpr(
        "key",
        "bucket_ts AS _obs",
        # greatest() skips NULL: a key's last row keeps just its own bucket
        f"greatest(bucket_ts, lead(bucket_ts) OVER ({_BY_KEY}) - INTERVAL {secs} SECONDS) AS _hi",
        f"{value} IS NULL AS _null",
        *carry,
    )
    return _explode_buckets(rows, "_obs", "_hi", secs).selectExpr(
        "*", "bucket_ts != _obs OR _null AS filled"
    )


def gapfill_locf(tier_df: DataFrame, tier: str, value_col: str = "v_last") -> DataFrame:
    """Last-observation-carried-forward over the dense spine.

    Returns (key, bucket_ts, <value_col>, filled) where `filled` marks
    spine buckets that had no observations. Leading buckets before the
    first observation stay NULL (nothing to carry).
    """
    v = f"`{value_col}`"
    rows = _fill_rows(tier_df, tier, v, f"last({v}, true) OVER {_UPTO} AS _carry")
    return rows.selectExpr("key", "bucket_ts", f"_carry AS {v}", "filled")


def gapfill_interp(tier_df: DataFrame, tier: str, value_col: str = "v_last") -> DataFrame:
    """Linear interpolation over the dense spine.

    interp = prev + (next - prev) * (t - t_prev) / (t_next - t_prev),
    computed from last/first-ignorenulls windows — pure column math
    (SURVEY.md §7.4). Edges (before first / after last obs) fall back to
    the nearest observed value (LOCF / NOCB). ``prev`` is taken over the
    observed rows up to and including the gap's left row, ``next`` over
    the rows after it.
    """
    v = f"`{value_col}`"
    # epoch seconds, as functions.exprs.ts_seconds
    t = "CAST(CAST(bucket_ts AS TIMESTAMP) AS DOUBLE)"
    obs_t = f"CASE WHEN {v} IS NOT NULL THEN {t} END"
    rows = _fill_rows(
        tier_df, tier, v,
        f"{v} AS _v",
        f"last({v}, true) OVER {_UPTO} AS _prev_v",
        f"last({obs_t}, true) OVER {_UPTO} AS _prev_t",
        f"first({v}, true) OVER {_AFTER} AS _next_v",
        f"first({obs_t}, true) OVER {_AFTER} AS _next_t",
    )
    return rows.selectExpr(
        "key",
        "bucket_ts",
        "CASE WHEN NOT filled THEN _v"
        " WHEN _prev_v IS NULL THEN _next_v"
        " WHEN _next_v IS NULL THEN _prev_v"
        f" ELSE _prev_v + (_next_v - _prev_v) * ({t} - _prev_t) / (_next_t - _prev_t)"
        f" END AS {v}",
        "filled",
    )
