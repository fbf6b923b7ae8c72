"""Checkpoint resume: a job killed halfway resumes from the last
committed partition, the resumed result equals a one-shot run exactly,
and re-running a committed partition is a no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tits_spark.lineage import incremental_rollup, verify_lineage
from tits_spark.operators.rollup import TIER_ORDER, rollup_all_tiers
from tits_spark.sources.table_io import resolve_table_io


@pytest.fixture()
def raw(transcripts):
    return transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )


def _tiers_equal(spark, tiers_path, raw):
    want = rollup_all_tiers(raw)
    for tier in TIER_ORDER:
        got = spark.read.parquet(f"{tiers_path}/tier={tier}").drop("bucket_date")
        w = want[tier]
        assert got.exceptAll(w).count() == 0, tier
        assert w.exceptAll(got).count() == 0, tier


def test_resume_from_partial_run(spark, raw, tmp_path):
    tiers = str(tmp_path / "tiers")
    metrics = str(tmp_path / "metrics")

    days = sorted(r["d"] for r in raw.select(F.to_date("ts").alias("d")).distinct().collect())
    cut = days[len(days) // 2]

    # first (interrupted) run: only the first half of the days arrived
    first = raw.filter(F.to_date("ts") <= F.lit(cut))
    p1 = incremental_rollup(spark, first, tiers, metrics, job_id="run1")
    assert p1["tier_1m"] > 0

    # resumed run over the FULL input: must process only the remaining days
    p2 = incremental_rollup(spark, raw, tiers, metrics, job_id="run2")
    assert p2["tier_1m"] == len(days) - p1["tier_1m"]

    _tiers_equal(spark, tiers, raw)

    # third run: everything committed -> no partitions processed
    p3 = incremental_rollup(spark, raw, tiers, metrics, job_id="run3")
    assert all(v == 0 for v in p3.values())

    # lineage checksums match recomputation from stored tiers
    bad = verify_lineage(spark, tiers, metrics).filter(~F.col("match")).count()
    assert bad == 0


def test_verify_flags_lost_partitions(spark, raw, tmp_path):
    """A committed partition whose tier data is gone fails verification
    (one lost 1h day, the whole 1d tier); a partition that retention
    expired after its commit is not checked."""
    import datetime as dt
    import shutil

    from tits_spark.operators.retention import expire_partitions

    tiers, metrics = str(tmp_path / "tiers"), str(tmp_path / "metrics")
    incremental_rollup(spark, raw, tiers, metrics, job_id="v")
    days = sorted(
        p.name.split("=", 1)[1]
        for p in (tmp_path / "tiers" / "tier=1h").glob("bucket_date=*")
    )
    assert len(days) >= 2
    shutil.rmtree(tmp_path / "tiers" / "tier=1h" / f"bucket_date={days[1]}")
    shutil.rmtree(tmp_path / "tiers" / "tier=1d")
    gone = expire_partitions(
        spark, tiers, metrics, dt.date.fromisoformat(days[1]), ttl_days={"1m": 0}
    )
    assert gone == {"1m": [days[0]]}

    got = {
        (r["stage"], r["part"]): r["match"]
        for r in verify_lineage(spark, tiers, metrics).collect()
    }
    want = {(f"tier_{t}", d): True for t in TIER_ORDER for d in days}
    del want[("tier_1m", days[0])]
    want[("tier_1h", days[1])] = False
    want.update({("tier_1d", d): False for d in days})
    assert got == want


def test_rerun_is_idempotent(spark, raw, tmp_path):
    tiers = str(tmp_path / "tiers")
    metrics = str(tmp_path / "metrics")
    incremental_rollup(spark, raw, tiers, metrics, job_id="a")

    # wipe the log (simulates lost checkpoint) and re-run everything:
    # dynamic partition overwrite must leave identical data, not dupes
    import shutil

    shutil.rmtree(metrics)
    incremental_rollup(spark, raw, tiers, metrics, job_id="b")
    _tiers_equal(spark, tiers, raw)


def test_lineage_counts(spark, raw, tmp_path):
    tiers = str(tmp_path / "tiers")
    metrics = str(tmp_path / "metrics")
    incremental_rollup(spark, raw, tiers, metrics, job_id="c")
    log = resolve_table_io(spark, tiers, metrics).read_metrics()
    per_stage = {r["stage"]: r["n"] for r in log.groupBy("stage").agg(F.sum("input_count").alias("n")).collect()}
    n_raw = raw.count()
    for stage, n in per_stage.items():
        assert n == n_raw, stage


def test_fresh_run_on_uri_root_reports_committed_days(spark, raw, tmp_path):
    """On ``file://`` roots a fresh run reports, per tier, the days its
    lineage log committed (the count goes through the Hadoop
    FileSystem, not a local glob)."""
    tiers, metrics = (tmp_path / "tiers").as_uri(), (tmp_path / "metrics").as_uri()
    assert tiers.startswith("file:///")
    got = incremental_rollup(spark, raw, tiers, metrics, job_id="u")
    log = resolve_table_io(spark, tiers, metrics).read_metrics()
    want = {
        r["stage"]: r["n"]
        for r in log.groupBy("stage").agg(F.countDistinct("part").alias("n")).collect()
    }
    assert got == want
    assert all(n > 0 for n in got.values())


def test_backfill_reprocesses_changed_days(spark, raw, tmp_path):
    tiers = str(tmp_path / "tiers")
    metrics = str(tmp_path / "metrics")

    days = sorted(
        r["d"] for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    late_day = days[1]
    # commit everything EXCEPT some late rows of one day
    wo_late = raw.filter(
        (F.to_date("ts") != F.lit(late_day)) | (F.minute("ts") % 2 == 0)
    )
    held_back = raw.exceptAll(wo_late)
    assert held_back.count() > 0
    incremental_rollup(spark, wo_late, tiers, metrics, job_id="run1")

    # late rows arrive; WITHOUT backfill the committed day stays stale
    p_no = incremental_rollup(spark, raw, tiers, metrics, job_id="run2")
    assert p_no == {"tier_1m": 0, "tier_1h": 0, "tier_1d": 0}

    # WITH backfill only the changed day reprocesses, through all tiers
    p_bf = incremental_rollup(
        spark, raw, tiers, metrics, job_id="run3", backfill=True
    )
    assert p_bf == {"tier_1m": 1, "tier_1h": 1, "tier_1d": 1}
    _tiers_equal(spark, tiers, raw)

    # lineage verifies against the LATEST checksum after the rewrite
    v = verify_lineage(spark, tiers, metrics)
    assert v.filter(~F.col("match")).count() == 0

    # and a further backfill run is a no-op (counts now agree)
    p_again = incremental_rollup(
        spark, raw, tiers, metrics, job_id="run4", backfill=True
    )
    assert p_again == {"tier_1m": 0, "tier_1h": 0, "tier_1d": 0}


def test_calendar_tier_log_driven_recompute(spark, raw, tmp_path):
    """Monthly tier: built from the committed 1d tier, no-op when
    nothing changed, and recomputed ONLY for months whose days got new
    tier_1d commits (late-data backfill path) — pendingness derived
    from the lineage log alone."""
    from tits_spark.lineage import incremental_calendar
    from tits_spark.operators.rollup import rollup_cascade

    tiers, metrics = str(tmp_path / "tiers"), str(tmp_path / "metrics")

    # hold back part of the LAST day (late data for an already-built month)
    last_day = raw.agg(F.max(F.to_date("ts"))).first()[0]
    late = raw.filter(
        (F.to_date("ts") == F.lit(last_day)) & (F.abs(F.xxhash64("conv_id")) % 3 == 0)
    )
    first = raw.exceptAll(late)

    incremental_rollup(spark, first, tiers, metrics, job_id="r1")
    p1 = incremental_calendar(spark, tiers, metrics, unit="month", job_id="r1")
    assert p1["tier_month"] > 0

    # nothing changed -> no-op
    p2 = incremental_calendar(spark, tiers, metrics, unit="month", job_id="r2")
    assert p2 == {"tier_month": 0}

    # late rows arrive; backfill reruns the day through all tiers, and
    # the calendar pass must pick up exactly the one affected month
    incremental_rollup(spark, raw, tiers, metrics, job_id="r3", backfill=True)
    p3 = incremental_calendar(spark, tiers, metrics, unit="month", job_id="r3")
    assert p3 == {"tier_month": 1}

    got = spark.read.parquet(f"{tiers}/tier=month").drop("bucket_date")
    day = spark.read.parquet(f"{tiers}/tier=1d").drop("bucket_date")
    want = rollup_cascade(day, "month")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    bad = verify_lineage(spark, tiers, metrics).filter(~F.col("match")).count()
    assert bad == 0


def test_snapshots_and_time_travel(spark, raw, tmp_path):
    """Commit-log time travel: reading as-of run1's completion (by
    job_id or timestamp) shows exactly run1's partitions; snapshots()
    lists both runs in commit order."""
    from tits_spark.lineage import read_tier_as_of, snapshots

    tiers, metrics = str(tmp_path / "tt"), str(tmp_path / "tm")
    mid = raw.agg(F.expr("percentile(CAST(ts AS DOUBLE), 0.5)").alias("m")).first().m
    first = raw.filter(F.col("ts").cast("double") <= mid)
    incremental_rollup(spark, first, tiers, metrics, job_id="tt1")
    incremental_rollup(spark, raw, tiers, metrics, job_id="tt2")

    snaps = snapshots(spark, metrics).toPandas()
    assert set(snaps["job_id"]) == {"tt1", "tt2"}
    assert (snaps[snaps["stage"] == "tier_1d"]["n_partitions"] > 0).all()

    # by job_id: only the day partitions run1 committed are visible
    got = read_tier_as_of(spark, tiers, metrics, "1d", job_id="tt1")
    want_parts = {
        r["part"]
        for r in resolve_table_io(spark, tiers, metrics).read_metrics()
        .filter((F.col("job_id") == "tt1") & (F.col("stage") == "tier_1d"))
        .select("part").distinct().collect()
    }
    got_parts = {
        str(r["bucket_date"])
        for r in got.select("bucket_date").distinct().collect()
    }
    assert got_parts == want_parts
    full = spark.read.parquet(f"{tiers}/tier=1d")
    assert got.count() < full.count()

    # by timestamp after run2: everything is visible
    upto = resolve_table_io(spark, tiers, metrics).read_metrics().agg(
        F.max("committed_at").alias("t")).first().t
    got_all = read_tier_as_of(spark, tiers, metrics, "1d", as_of=upto)
    assert got_all.count() == full.count()

    with pytest.raises(ValueError):
        read_tier_as_of(spark, tiers, metrics, "1d")
    with pytest.raises(ValueError):
        read_tier_as_of(spark, tiers, metrics, "1d", job_id="nope")


@pytest.mark.parametrize("sketches_first", [True, False])
def test_shared_tiers_root(spark, raw, tmp_path, monkeypatch, sketches_first):
    """The sketch tiers (hll_1m, hist_1m) share the tiers root with the
    rollup tiers (rollup_job --sketches). Whichever runs first, every
    commit reads back by explicit tier path — never the root, whose
    tiers have different schemas — and the lineage verifies clean."""
    from pyspark.sql.readwriter import DataFrameReader

    from tits_spark.lineage import incremental_calendar, incremental_sketches

    tiers, metrics = str(tmp_path / "tiers"), str(tmp_path / "metrics")
    read_paths: list[str] = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read_paths.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)

    days = sorted(r["d"] for r in raw.select(F.to_date("ts").alias("d")).distinct().collect())
    first = raw.filter(F.to_date("ts") <= F.lit(days[len(days) // 2]))
    runs = [
        lambda src, job: incremental_sketches(spark, src, tiers, metrics, job_id=job),
        lambda src, job: incremental_rollup(spark, src, tiers, metrics, job_id=job),
    ]
    if not sketches_first:
        runs.reverse()
    # a fresh round (whole-tier read-back) then an incremental one
    # (per-day read-back)
    for job, src in (("r1", first), ("r2", raw)):
        for run in runs:
            assert all(n > 0 for n in run(src, job).values())
    assert incremental_calendar(spark, tiers, metrics, unit="month")["tier_month"] > 0

    assert read_paths and all(p.rstrip("/") != tiers for p in read_paths)
    _tiers_equal(spark, tiers, raw)
    v = verify_lineage(spark, tiers, metrics)
    assert {r["stage"] for r in v.select("stage").distinct().collect()} == {
        "tier_1m", "tier_1h", "tier_1d", "tier_month", "hll_1m", "hist_1m",
    }
    assert v.filter(~F.col("match")).count() == 0


def test_legacy_partial_commit_recommits_all_tiers(spark, raw, tmp_path):
    """A log in which a day has tier_1m committed but not tier_1h or
    tier_1d — what a crash between tier commits of the older per-tier
    protocol left — gets that day recommitted for all three tiers."""
    import shutil

    tiers = str(tmp_path / "tiers")
    incremental_rollup(spark, raw, tiers, str(tmp_path / "m0"), job_id="a")
    days = sorted(
        p.name.split("=", 1)[1]
        for p in (tmp_path / "tiers" / "tier=1d").glob("bucket_date=*")
    )
    day = days[1]
    # the crash came after the 1m commit: no 1h/1d rows in the log, and
    # the 1h/1d data of that day never landed
    metrics = str(tmp_path / "metrics")
    resolve_table_io(spark, tiers, str(tmp_path / "m0")).read_metrics().where(
        ~(F.col("stage").isin("tier_1h", "tier_1d") & (F.col("part") == day))
    ).write.parquet(metrics)
    for t in ("1h", "1d"):
        shutil.rmtree(tmp_path / "tiers" / f"tier={t}" / f"bucket_date={day}")

    p = incremental_rollup(spark, raw, tiers, metrics, job_id="b")
    assert p == {"tier_1m": 1, "tier_1h": 1, "tier_1d": 1}
    recommitted = {
        (r["stage"], r["part"])
        for r in resolve_table_io(spark, tiers, metrics).read_metrics()
        .where(F.col("job_id") == "b").collect()
    }
    assert recommitted == {(f"tier_{t}", day) for t in TIER_ORDER}
    _tiers_equal(spark, tiers, raw)
    assert verify_lineage(spark, tiers, metrics).filter(~F.col("match")).count() == 0


def test_noop_runs_read_the_log_once(spark, raw, tmp_path):
    """No-op runs pay one committed-state read: with ``backfill`` a
    rollup submits no more Spark jobs than without (the late-data counts
    come from the same day scan), and a calendar pass no more than one
    aggregate over the lineage log."""
    from tests.test_tier_router import _jobs_in_group
    from tits_spark.lineage import incremental_calendar

    tiers, metrics = str(tmp_path / "tiers"), str(tmp_path / "metrics")
    incremental_rollup(spark, raw, tiers, metrics, job_id="a")
    incremental_calendar(spark, tiers, metrics, unit="month", job_id="a")
    group = f"noop-{tmp_path.name}"
    idle = {f"tier_{t}": 0 for t in TIER_ORDER}

    with _jobs_in_group(spark, f"{group}:rollup") as plain:
        assert incremental_rollup(spark, raw, tiers, metrics) == idle
    with _jobs_in_group(spark, f"{group}:backfill") as backfill:
        assert incremental_rollup(spark, raw, tiers, metrics, backfill=True) == idle
    assert 0 < len(backfill) <= len(plain)

    with _jobs_in_group(spark, f"{group}:log") as one_aggregate:
        resolve_table_io(spark, tiers, metrics).read_metrics() \
            .groupBy("stage", "part").count().collect()
    with _jobs_in_group(spark, f"{group}:calendar") as calendar:
        assert incremental_calendar(spark, tiers, metrics, unit="month") == {"tier_month": 0}
    assert 0 < len(calendar) <= len(one_aggregate)
