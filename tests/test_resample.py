"""As-of join (both strategies) + retention TTL."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tits_spark.operators.resample import asof_join, asof_join_pandas

T0 = dt.datetime(2026, 3, 1)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [("a", T0 + dt.timedelta(seconds=s), float(i))
         for i, s in enumerate([5, 15, 25, 100])] +
        [("b", T0 + dt.timedelta(seconds=3), 9.0)],
        "key string, ts timestamp, lv double",
    )
    right = spark.createDataFrame(
        [("a", T0 + dt.timedelta(seconds=0), 10.0),
         ("a", T0 + dt.timedelta(seconds=15), 20.0),
         ("a", T0 + dt.timedelta(seconds=30), 30.0)],
        "key string, ts timestamp, rv double",
    )
    return left, right


def _collect(df):
    return {
        (r["key"], r["ts"].second + 60 * r["ts"].minute): r["rv_r"]
        for r in df.collect()
    }


def test_asof_join_backward(sides):
    left, right = sides
    got = _collect(asof_join(left, right, value_cols=["rv"]))
    assert got[("a", 5)] == 10.0
    assert got[("a", 15)] == 20.0   # equal ts matches ("at or before")
    assert got[("a", 25)] == 20.0
    assert got[("a", 100)] == 30.0
    assert got[("b", 3)] is None    # no right rows for key b


def test_asof_join_tolerance(sides):
    left, right = sides
    got = _collect(asof_join(left, right, value_cols=["rv"], tolerance_sec=20.0))
    assert got[("a", 5)] == 10.0
    assert got[("a", 100)] is None  # 70s stale > 20s tolerance


def test_asof_join_forward(sides):
    left, right = sides
    got = _collect(asof_join(left, right, value_cols=["rv"], direction="forward"))
    assert got[("a", 5)] == 20.0
    assert got[("a", 15)] == 20.0   # equal ts matches ("at or after")
    assert got[("a", 25)] == 30.0
    assert got[("a", 100)] is None  # nothing ahead
    assert got[("b", 3)] is None


def test_asof_join_forward_tolerance(sides):
    left, right = sides
    got = _collect(asof_join(left, right, value_cols=["rv"],
                             direction="forward", tolerance_sec=4.0))
    assert got[("a", 25)] is None   # next is 5s ahead > 4s tolerance
    assert got[("a", 15)] == 20.0


def test_asof_forward_matches_pandas_on_events(spark):
    import pandas as pd

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(F.col("user_id").cast("string").alias("key"), "ts", F.col("value").alias("lv"))
        .filter(F.col("key").isin("1", "2", "3"))
    )
    right = ev.sample(0.3, seed=7).select("key", "ts", F.col("lv").alias("rv"))
    got = asof_join(ev, right, value_cols=["rv"], direction="forward").toPandas()
    lp = ev.toPandas().sort_values("ts", kind="stable")
    rp = right.toPandas().sort_values("ts", kind="stable")
    want = (
        pd.merge_asof(lp, rp.rename(columns={"rv": "rv_want"}),
                      on="ts", by="key", direction="forward")
    )
    m = got.sort_values(["key", "ts"], kind="stable").reset_index(drop=True)
    w = want.sort_values(["key", "ts"], kind="stable").reset_index(drop=True)
    assert len(m) == len(w)
    assert (m["rv_r"].fillna(-1) == w["rv_want"].fillna(-1)).all()


def test_asof_pandas_matches_declarative(sides):
    left, right = sides
    a = _collect(asof_join(left, right, value_cols=["rv"]))
    b = _collect(asof_join_pandas(left, right, value_cols=["rv"]))
    assert a == b


def test_asof_strategies_on_events(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.col("user_id").cast("string").alias("key"), "ts", "value"
    )
    from tits_spark.operators.rollup import rollup_from_raw

    t1d = rollup_from_raw(ev, "key", "ts", "value", "1d").select(
        "key", F.col("bucket_ts").alias("ts"), F.col("v_last").alias("dv")
    )
    a = asof_join(ev, t1d, value_cols=["dv"])
    b = asof_join_pandas(ev, t1d, value_cols=["dv"])
    assert a.count() == ev.count()
    assert a.select("key", "ts", "dv_r").exceptAll(b.select("key", "ts", "dv_r")).count() == 0


def _root(path, uri: bool) -> str:
    return path.as_uri() if uri else str(path)


@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_retention_expiry(spark, transcripts, tmp_path, uri):
    from tits_spark.lineage import incremental_rollup
    from tits_spark.operators.retention import expire_partitions
    from tits_spark.sources.table_io import resolve_table_io

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    tiers = _root(tmp_path / "tiers", uri)
    metrics = _root(tmp_path / "metrics", uri)
    incremental_rollup(spark, raw, tiers, metrics, job_id="r")
    days = sorted(
        r["d"] for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    as_of = days[-1]
    horizon = (as_of - days[0]).days // 2
    gone = expire_partitions(
        spark, tiers, metrics, as_of,
        ttl_days={"1m": horizon, "1h": horizon * 2, "1d": 10_000},
    )
    assert len(gone["1m"]) > 0
    assert gone["1d"] == []
    # expired partitions are really gone from the tier table
    t1m = spark.read.parquet(f"{tiers}/tier=1m")
    oldest = t1m.agg(F.min("bucket_date")).collect()[0][0]
    import datetime as dt

    assert oldest >= as_of - dt.timedelta(days=horizon)
    # tombstones recorded
    log = resolve_table_io(spark, tiers, metrics).read_metrics()
    assert log.filter(F.col("stage") == "expired_1m").count() == len(gone["1m"])
    # idempotent second run
    gone2 = expire_partitions(
        spark, tiers, metrics, as_of,
        ttl_days={"1m": horizon, "1h": horizon * 2, "1d": 10_000},
    )
    assert gone2["1m"] == []


@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_compaction_preserves_content(spark, transcripts, tmp_path, uri):
    """Small-file compaction: fewer files, byte-identical content
    (checksum-verified swap), lineage row logged, idempotent."""
    from tits_spark.operators.retention import compact_partitions
    from tits_spark.operators.rollup import rollup_from_raw
    from tits_spark.sources.table_io import resolve_table_io

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    # write WITHOUT date clustering: every task drops a sliver into
    # every date dir — the exact pathology compaction exists to fix
    tier = rollup_from_raw(raw, tier="1h").withColumn(
        "bucket_date", F.to_date("bucket_ts")
    )
    tier.repartition(8).write.partitionBy("bucket_date").parquet(
        f"{tmp_path}/tier=1h"
    )
    tier_dir = tmp_path / "tier=1h"
    day_dirs = sorted(tier_dir.glob("bucket_date=*"))
    assert day_dirs
    files_before = {d.name: len(list(d.glob("*.parquet"))) for d in day_dirs}
    assert max(files_before.values()) > 4

    before = spark.read.parquet(str(tier_dir)).orderBy("key", "bucket_ts").collect()
    root, metrics = _root(tmp_path, uri), _root(tmp_path / "metrics", uri)
    done = compact_partitions(spark, root, metrics, "1h",
                              max_files_per_day=4, target_file_mb=256)
    assert done  # at least one day rewritten
    for day, n_out in done.items():
        n_files = len(list((tier_dir / f"bucket_date={day}").glob("*.parquet")))
        assert n_files == n_out <= 4
    after = spark.read.parquet(str(tier_dir)).orderBy("key", "bucket_ts").collect()
    assert after == before
    log = resolve_table_io(spark, root, metrics).read_metrics()
    assert log.filter(F.col("stage") == "compacted_1h").count() == len(done)
    # idempotent: second pass finds nothing over the threshold
    assert compact_partitions(spark, root, metrics, "1h",
                              max_files_per_day=4) == {}


def test_expiry_logs_before_it_deletes(spark, transcripts, tmp_path, monkeypatch):
    """A failed tombstone append deletes nothing: the rerun expires the
    same days, and every committed day that is gone has its tombstone
    (verify_lineage is clean)."""
    from tits_spark.lineage import incremental_rollup, verify_lineage
    from tits_spark.operators.retention import expire_partitions
    from tits_spark.sources.table_io import ParquetTableIO

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    tiers, metrics = str(tmp_path / "tiers"), str(tmp_path / "metrics")
    incremental_rollup(spark, raw, tiers, metrics, job_id="r")
    as_of = raw.agg(F.max(F.to_date("ts"))).first()[0]

    append = ParquetTableIO.append_metrics
    calls = []

    def fail_once(self, rows):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("append failed")
        append(self, rows)

    monkeypatch.setattr(ParquetTableIO, "append_metrics", fail_once)
    with pytest.raises(OSError, match="append failed"):
        expire_partitions(spark, tiers, metrics, as_of, ttl_days={"1m": 2})
    gone = expire_partitions(spark, tiers, metrics, as_of, ttl_days={"1m": 2})
    assert len(gone["1m"]) > 0
    assert not any((tmp_path / "tiers" / "tier=1m" / f"bucket_date={d}").exists()
                   for d in gone["1m"])
    assert verify_lineage(spark, tiers, metrics).filter(~F.col("match")).count() == 0


def test_retention_raises_on_iceberg_location(spark, monkeypatch):
    """Retention works on the parquet layout only: an Iceberg location
    raises instead of expiring or compacting nothing."""
    from tits_spark.operators import retention
    from tits_spark.sources.table_io import IcebergTableIO

    monkeypatch.setattr(
        retention, "resolve_table_io",
        lambda spark, tiers, metrics: IcebergTableIO(spark, tiers, metrics),
    )
    with pytest.raises(NotImplementedError, match="Iceberg"):
        retention.expire_partitions(spark, "cat.db.t", "cat.db.m", dt.date(2026, 3, 1))
    with pytest.raises(NotImplementedError, match="Iceberg"):
        retention.compact_partitions(spark, "cat.db.t", "cat.db.m", "1h")


def test_retention_job_on_uri_root(spark, transcripts, tmp_path, capsys):
    """The packaged CLI job (jobs/retention_job.py) on ``file://`` roots
    expires the days past the TTL, compacts nothing in one-file days,
    and leaves the lineage clean."""
    import json
    import pathlib
    import sys

    from tits_spark.lineage import incremental_rollup, verify_lineage

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "jobs"))
    import retention_job

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    tiers, metrics = (tmp_path / "tiers").as_uri(), (tmp_path / "metrics").as_uri()
    incremental_rollup(spark, raw, tiers, metrics, job_id="r")
    days = sorted(
        r["d"] for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:  # the job's get_spark re-applies the engine defaults
        retention_job.main([
            "--tiers", tiers, "--metrics", metrics, "--as-of", str(days[-1]),
            "--ttl", "1m=2", "--compact",
        ])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    kept = [d for d in days if d >= days[-1] - dt.timedelta(days=2)]
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["expired"] == {"1m": len(days) - len(kept), "1h": 0, "1d": 0}
    assert out["compacted"] == {"1m": 0, "1h": 0, "1d": 0}
    left = sorted(p.name for p in (tmp_path / "tiers" / "tier=1m").glob("bucket_date=*"))
    assert left == [f"bucket_date={d}" for d in kept]
    assert verify_lineage(spark, tiers, metrics).filter(~F.col("match")).count() == 0


def test_asof_nearest_small(sides):
    """key a: lefts at 5,15,25,100 vs rights at 0(10),15(20),30(30):
    5 -> 0 (gap 5 vs 10), 15 -> exact (gap 0), 25 -> 30 (gap 5),
    100 -> 30 (gap 70). key b has no rights -> NULL."""
    left, right = sides
    out = {
        (r["key"], r["lv"]): (r["rv_r"], r["asof_gap_us"])
        for r in asof_join(left, right, direction="nearest").collect()
    }
    assert out[("a", 0.0)] == (10.0, 5_000_000)
    assert out[("a", 1.0)] == (20.0, 0)
    assert out[("a", 2.0)] == (30.0, 5_000_000)
    assert out[("a", 3.0)] == (30.0, 70_000_000)
    assert out[("b", 9.0)] == (None, None)


def test_asof_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame(
        [("a", T0 + dt.timedelta(seconds=10), 1.0)],
        "key string, ts timestamp, lv double",
    )
    right = spark.createDataFrame(
        [("a", T0 + dt.timedelta(seconds=5), 100.0),
         ("a", T0 + dt.timedelta(seconds=15), 200.0)],
        "key string, ts timestamp, rv double",
    )
    row = asof_join(left, right, direction="nearest").first()
    assert row["rv_r"] == 100.0 and row["asof_gap_us"] == 5_000_000


def test_asof_nearest_tolerance(sides):
    left, right = sides
    out = {
        (r["key"], r["lv"]): r["rv_r"]
        for r in asof_join(
            left, right, direction="nearest", tolerance_sec=10
        ).collect()
    }
    assert out[("a", 3.0)] is None  # gap 70s > 10s
    assert out[("a", 0.0)] == 10.0


def test_asof_nearest_matches_pandas_on_events(spark):
    """Cross-check against pd.merge_asof(direction='nearest') on real
    data, restricted to rows without exact-tie gaps (pandas breaks µs
    ties by its own convention; ours is pinned to backward)."""
    import pandas as pd

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("key"), "ts", F.col("event_id").alias("l_id")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"), "ts", F.col("value").alias("rv")
    )
    got = (
        asof_join(left, right, direction="nearest")
        .toPandas()
        .sort_values("l_id")
        .reset_index(drop=True)
    )
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    want = pd.merge_asof(lp, rp, on="ts", by="key", direction="nearest")
    want = want.sort_values("l_id").reset_index(drop=True)
    # exclude exact-tie rows from the comparison
    g = got.merge(
        want[["l_id", "rv"]], on="l_id", suffixes=("", "_want")
    )
    mism = g[(g["rv_r"] != g["rv"]) & ~(g["rv_r"].isna() & g["rv"].isna())]
    if len(mism):
        # every mismatch must be an equidistant tie
        ids = set(mism["l_id"])
        lpd = lp.set_index("l_id")
        for i in ids:
            lt = lpd.loc[i, "ts"]
            r_k = rp[rp["key"] == lpd.loc[i, "key"]]["ts"]
            before = r_k[r_k <= lt]
            after = r_k[r_k >= lt]
            assert len(before) and len(after)
            assert (lt - before.max()) == (after.min() - lt)
