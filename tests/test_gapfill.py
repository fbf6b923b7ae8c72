"""Gap-fill fixtures: hand-built series with leading nulls, interior
gaps, single-point buckets — expected LOCF/interp values written
explicitly (FIXTURES.md §5)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from tits_spark.operators.gapfill import bucket_spine, gapfill_interp, gapfill_locf

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


def _mk_tier(spark, rows):
    # rows: (key, minute_offset, v_last)
    data = [(k, T0 + dt.timedelta(minutes=m), float(v)) for k, m, v in rows]
    return spark.createDataFrame(data, "key string, bucket_ts timestamp, v_last double")


@pytest.fixture(scope="module")
def tier(spark):
    # key "a": obs at minutes 0, 3, 4, 7 -> gaps at 1,2,5,6
    # key "b": single point
    return _mk_tier(
        spark,
        [("a", 0, 10.0), ("a", 3, 40.0), ("a", 4, 20.0), ("a", 7, 80.0), ("b", 5, 1.0)],
    )


def _as_map(df):
    return {(r["key"], r["bucket_ts"].minute): (r[df.columns[2]], r["filled"]) for r in df.collect()}


def test_spine_dense(tier):
    sp = bucket_spine(tier, "1m").collect()
    a = sorted(r["bucket_ts"].minute for r in sp if r["key"] == "a")
    assert a == [0, 1, 2, 3, 4, 5, 6, 7]
    b = [r["bucket_ts"].minute for r in sp if r["key"] == "b"]
    assert b == [5]


def test_locf(tier):
    got = _as_map(gapfill_locf(tier, "1m"))
    assert got[("a", 0)] == (10.0, False)
    assert got[("a", 1)] == (10.0, True)
    assert got[("a", 2)] == (10.0, True)
    assert got[("a", 3)] == (40.0, False)
    assert got[("a", 5)] == (20.0, True)
    assert got[("a", 6)] == (20.0, True)
    assert got[("a", 7)] == (80.0, False)
    assert got[("b", 5)] == (1.0, False)


def test_interp(tier):
    got = _as_map(gapfill_interp(tier, "1m"))
    assert got[("a", 1)][0] == pytest.approx(20.0)  # 10 + (40-10)*1/3
    assert got[("a", 2)][0] == pytest.approx(30.0)
    assert got[("a", 5)][0] == pytest.approx(40.0)  # 20 + (80-20)*1/3
    assert got[("a", 6)][0] == pytest.approx(60.0)
    assert got[("a", 0)][0] == 10.0 and got[("a", 0)][1] is False
    assert got[("b", 5)][0] == 1.0


def test_interp_edges(spark):
    # leading gap -> NOCB; trailing gap -> LOCF
    tier = _mk_tier(spark, [("c", 2, 5.0), ("c", 4, 9.0)])
    spine = _mk_tier(spark, [("c", m, 0) for m in range(6)]).drop("v_last")
    joined = spine.join(tier, ["key", "bucket_ts"], "left")
    # emulate full-range spine by unioning edge buckets into the tier frame
    full = gapfill_interp(
        tier.unionByName(
            spark.createDataFrame(
                [("c", T0, None), ("c", T0 + dt.timedelta(minutes=5), None)],
                "key string, bucket_ts timestamp, v_last double",
            )
        ),
        "1m",
    )
    got = _as_map(full)
    assert got[("c", 0)][0] == 5.0  # NOCB before first obs
    assert got[("c", 1)][0] == 5.0
    assert got[("c", 3)][0] == pytest.approx(7.0)
    assert got[("c", 5)][0] == 9.0  # LOCF after last obs


def test_locf_on_rollup(transcripts):
    from tits_spark.operators.rollup import rollup_from_raw

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    t1m = rollup_from_raw(raw, tier="1m")
    filled = gapfill_locf(t1m, "1m")
    # no NULLs after the first observed bucket per key
    w_nulls = filled.filter(F.col("v_last").isNull()).count()
    assert w_nulls == 0  # spine starts at each key's min bucket -> no leading nulls
    assert filled.count() >= t1m.count()


def test_bucket_spine_rejects_non_day_dividing_tier():
    """A sub-day tier width that does not divide 86400 would silently
    misalign the two-level day/bucket spine; it must raise instead."""
    import pytest

    from tits_spark.operators import gapfill

    saved = dict(gapfill.TIERS)
    try:
        gapfill.TIERS["7m"] = ("minute", 420)  # 86400 % 420 != 0
        with pytest.raises(ValueError, match="must divide 86400"):
            gapfill.bucket_spine(None, "7m")
    finally:
        gapfill.TIERS.clear()
        gapfill.TIERS.update(saved)


def _spine_join_fill(tier_df, tier, kind, value_col="v_last"):
    """Reference formulation: a dense per-key spine left-joined to the
    observed rows, then last/first-ignorenulls windows over the spine."""
    from pyspark.sql import Window

    from tits_spark.functions.exprs import ts_seconds

    joined = bucket_spine(tier_df, tier).join(
        tier_df.select("key", "bucket_ts", value_col), ["key", "bucket_ts"], "left"
    )
    w = Window.partitionBy("key").orderBy("bucket_ts")
    wb = w.rowsBetween(Window.unboundedPreceding, 0)
    wf = w.rowsBetween(0, Window.unboundedFollowing)
    v = F.col(value_col)
    prev_v = F.last(v, ignorenulls=True).over(wb)
    if kind == "locf":
        out = prev_v
    else:
        t = ts_seconds("bucket_ts")
        obs_t = F.when(v.isNotNull(), t)
        next_v = F.first(v, ignorenulls=True).over(wf)
        prev_t = F.last(obs_t, ignorenulls=True).over(wb)
        next_t = F.first(obs_t, ignorenulls=True).over(wf)
        out = F.when(v.isNotNull(), v).otherwise(
            F.when(prev_v.isNull(), next_v)
            .when(next_v.isNull(), prev_v)
            .otherwise(prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t))
        )
    return joined.select("key", "bucket_ts", out.alias(value_col), v.isNull().alias("filled"))


def _random_tier(spark, tier, seed):
    """Observed tier rows on the ``tier`` grid: a few keys with random
    gaps and ~25% NULL values, a single-point key, a key whose only
    point is NULL, and at the 1m tier a key with a gap of several days."""
    import numpy as np

    from tits_spark.operators.rollup import TIERS

    rng = np.random.default_rng(seed)
    secs = TIERS[tier][1]
    rows = []
    for k in range(6):
        n = int(rng.integers(2, 15))
        for b in sorted(rng.choice(60, size=n, replace=False).tolist()):
            v = None if rng.random() < 0.25 else float(rng.integers(-500, 500)) / 8
            rows.append((f"k{k}", b, v))
    rows += [("single", int(rng.integers(0, 60)), 3.5), ("null_only", 7, None)]
    if tier == "1m":
        rows += [("long", 5, 1.0), ("long", 3 * 1440 + 700, None),
                 ("long", 4 * 1440 + 2, 9.0)]
    data = [(k, T0 + dt.timedelta(seconds=b * secs), v) for k, b, v in rows]
    return spark.createDataFrame(data, "key string, bucket_ts timestamp, v_last double")


@pytest.mark.parametrize("tier,seed", [("1m", 1), ("1m", 2), ("1h", 3), ("1d", 4)])
def test_fill_matches_spine_join(spark, tier, seed):
    """The one-window-pass fill equals the spine + left-join
    formulation row for row, bit for bit, for LOCF and interpolation."""
    df = _random_tier(spark, tier, seed)
    for kind, fill in (("locf", gapfill_locf), ("interp", gapfill_interp)):
        got = sorted(fill(df, tier).collect())
        want = sorted(_spine_join_fill(df, tier, kind).collect())
        assert got == want, (tier, kind)
    assert any(r["key"] == "long" for r in got) == (tier == "1m")
