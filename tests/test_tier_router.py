"""Tier router: coarsest-tier selection + partition-pruned reads."""

from __future__ import annotations

import contextlib
import datetime as dt
import io

import pytest
from pyspark.sql import functions as F

from tits_spark.operators.rollup import (
    choose_tier,
    read_resolution,
    rollup_all_tiers,
    with_derived,
)
from tits_spark.sources.table_io import ParquetTableIO


def test_choose_tier():
    t0 = dt.datetime(2024, 1, 1)
    day, hour = dt.timedelta(days=1), dt.timedelta(hours=1)
    # a year at 200 points: 1d gives 365 buckets -> coarsest wins
    assert choose_tier(t0, t0 + 365 * day, 200) == "1d"
    # a week at 200 points: 1d gives 7 (<200), 1h gives 168 (<200),
    # 1m gives 10080 -> only the finest reaches the target
    assert choose_tier(t0, t0 + 7 * day, 200) == "1m"
    # a week at 100 points: 1h gives 168 >= 100
    assert choose_tier(t0, t0 + 7 * day, 100) == "1h"
    # two hours: even 1m gives 120; ask for 500 -> finest fallback
    assert choose_tier(t0, t0 + 2 * hour, 500) == "1m"
    with pytest.raises(ValueError):
        choose_tier(t0, t0, 100)


def test_read_resolution_prunes_and_matches(spark, transcripts, tmp_path):
    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    tiers = rollup_all_tiers(raw)
    store = ParquetTableIO(spark, str(tmp_path), str(tmp_path))
    for tier, df in tiers.items():
        store.write_tier(df, tier)

    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    start = lo.replace(hour=0, minute=0, second=0, microsecond=0)
    end = start + dt.timedelta(days=2)

    out = read_resolution(spark, str(tmp_path), start, end, target_points=24)
    # 2 days at 24 points -> 1h tier; values match the direct cascade
    want = tiers["1h"].where(
        (F.col("bucket_ts") >= F.lit(start)) & (F.col("bucket_ts") < F.lit(end))
    )
    assert out.count() == want.count() > 0
    assert "v_mean" in out.columns and "v_var" in out.columns

    # the bucket_date predicate must reach the scan's PartitionFilters
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    seg = plan.split("PartitionFilters", 1)[1][:250]
    assert "bucket_date" in seg


@contextlib.contextmanager
def _jobs_in_group(spark, group):
    """Collects the ids of the Spark jobs submitted under job group
    ``group`` while the block runs (after the listener bus drains)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_read_resolution_builds_without_a_job(spark, transcripts, tmp_path, scheme):
    """Building read_resolution's frame lists the day directories and
    reads one footer through Hadoop: no listing or schema-inference job,
    on a local root and on a URI root; the rows equal the cascade."""
    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    tiers = rollup_all_tiers(raw)
    root = scheme + str(tmp_path / "tiers")
    ParquetTableIO(spark, root, root).write_tiers(tiers)

    lo = raw.agg(F.min("ts")).first()[0]
    start = lo.replace(hour=0, minute=0, second=0, microsecond=0)
    end = start + dt.timedelta(days=2)
    with _jobs_in_group(spark, f"read_resolution:{scheme}") as jobs:
        out = read_resolution(spark, root, start, end, target_points=24)
    assert jobs == []

    want = with_derived(tiers["1h"]).where(
        (F.col("bucket_ts") >= F.lit(start)) & (F.col("bucket_ts") < F.lit(end))
    )
    got = sorted(out.select(*want.columns).collect())
    assert got == sorted(want.collect())
    assert len(got) > 0


def test_choose_tier_calendar():
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    day = dt.timedelta(days=1)
    # 5 years at 50 points: month tier (conservative 31d width ->
    # 1827/31 = 58 >= 50); without calendar it stays 1d
    assert choose_tier(t0, t0 + 1827 * day, 50, calendar=("month",)) == "month"
    assert choose_tier(t0, t0 + 1827 * day, 50) == "1d"
    # same span, 10 points: year wins when offered
    assert (
        choose_tier(t0, t0 + 1827 * day, 4, calendar=("month", "year")) == "year"
    )
    # short range never routes to calendar tiers
    assert choose_tier(t0, t0 + 30 * day, 200, calendar=("month",)) == "1h"


def test_read_resolution_calendar_tier(spark, transcripts, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from tits_spark.lineage import incremental_calendar, incremental_rollup
    from tits_spark.operators.rollup import read_resolution

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    tiers, metrics = str(tmp_path / "tiers"), str(tmp_path / "metrics")
    incremental_rollup(spark, raw, tiers, metrics, job_id="r")
    incremental_calendar(spark, tiers, metrics, unit="week", job_id="r")

    lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
    start = lo - dt.timedelta(days=1)
    end = hi + dt.timedelta(days=1)
    span_weeks = (end - start).days // 7
    out = read_resolution(
        spark, tiers, start, end,
        target_points=max(1, span_weeks - 1), calendar=("week",),
    )
    n = out.count()
    assert 0 < n
    # the rows really are week buckets (Mondays, 00:00)
    assert (
        out.filter(F.date_trunc("week", "bucket_ts") != F.col("bucket_ts")).count()
        == 0
    )
    assert "v_mean" in out.columns
