"""M4 width-based downsampling (Jugel et al., VLDB 2014).

The pixel-exact companion to LTTB (operators/lttb.py): split each
series into fixed time-width buckets and keep the four extreme points
per bucket — first, last, min-value, max-value — which is exactly the
set a line rasterizer needs to draw the bucket's pixel column with no
visible error. Unlike LTTB the selection has no sequential dependency,
so it is ONE partial-aggregable groupBy (map-side combine, single
shuffle keyed by (series, bucket)) and scales to any series length.

Ties are resolved lexicographically so the result is deterministic
under any partitioning: first/last by struct(ts, value) min/max,
min/max-value by struct(value, ts) min/max. A DuckDB oracle reproduces
the same choices with conditional re-aggregation against the bucket
extremes.

Output is the aggregate form — one row per (key, bucket) carrying all
four points — which downstream plotting can explode; keeping it one
row preserves the single-aggregation plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def m4_downsample(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    width_sec: int = 3600,
) -> DataFrame:
    """Per (key, width_sec bucket): the M4 point set as one row.

    Columns: key, bucket_ts, n_obs, ts_first, v_first, ts_last, v_last,
    v_min, ts_vmin, v_max, ts_vmax.

    The plan is built from SQL text, so each expression is one py4j call
    rather than one per column method; the bucket is ``floordiv(epoch_us(
    ts), width_us)`` of ``functions/exprs.py`` written out.
    """
    if width_sec <= 0:
        raise ValueError("m4: width_sec must be positive")
    w = width_sec * 1_000_000
    us = f"CAST(CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE) * 1000000 AS BIGINT)"
    g = (
        df.where(f"{value} IS NOT NULL AND {ts} IS NOT NULL")
        .groupBy(F.expr(f"{key} AS key"),
                 F.expr(f"CAST(({us} - ((({us} % {w}) + {w}) % {w})) / {w} AS BIGINT) AS bkt"))
        .agg(
            F.expr("count(1) AS n_obs"),
            F.expr(f"min(struct({ts} AS t, {value} AS v)) AS s1"),
            F.expr(f"max(struct({ts} AS t, {value} AS v)) AS s2"),
            F.expr(f"min(struct({value} AS v, {ts} AS t)) AS s3"),
            F.expr(f"max(struct({value} AS v, {ts} AS t)) AS s4"),
        )
    )
    return g.selectExpr(
        "key", f"timestamp_micros(bkt * {w}) AS bucket_ts", "n_obs",
        "s1.t AS ts_first", "s1.v AS v_first", "s2.t AS ts_last", "s2.v AS v_last",
        "s3.v AS v_min", "s3.t AS ts_vmin", "s4.v AS v_max", "s4.t AS ts_vmax",
    )
