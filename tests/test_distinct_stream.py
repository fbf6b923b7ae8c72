"""Streaming register maintenance ≡ batch, and replay-idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from tits_spark.operators.rollup_sketch import (
    distinct_by_bucket,
    distinct_registers,
    registers_cascade,
)
from tits_spark.streaming.distinct_stream import (
    merge_registers_batch,
    stream_distinct_registers,
)

SCHEMA = "ts timestamp, item string"


def _src(events):
    return events.select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("string").alias("item"),
    )


def _regs(df):
    return {(r["bucket_ts"], r["reg"]): r["rho"] for r in df.collect()}


def test_incremental_equals_batch(spark, events, tmp_path):
    src, tbl, ckpt = (str(tmp_path / d) for d in ("src", "tbl", "ckpt"))
    ev = _src(events)
    first = ev.where(F.dayofmonth("ts") <= 15)
    rest = ev.where(F.dayofmonth("ts") > 15)
    first.write.mode("overwrite").parquet(src)
    stream_distinct_registers(spark, src, SCHEMA, tbl, ckpt).awaitTermination(300)
    rest.write.mode("append").parquet(src)
    stream_distinct_registers(spark, src, SCHEMA, tbl, ckpt).awaitTermination(300)
    got = spark.read.parquet(tbl).select("bucket_ts", "reg", "rho")
    want = distinct_registers(ev, "ts", "item", "1m")
    assert _regs(got) == _regs(want)
    # downstream derivations agree too: cascade + estimate off the
    # maintained table == straight batch
    est_s = distinct_by_bucket(registers_cascade(got, "1d")).collect()
    est_b = distinct_by_bucket(registers_cascade(want, "1d")).collect()
    assert sorted(map(tuple, est_s)) == sorted(map(tuple, est_b))


def test_replay_idempotent(spark, events, tmp_path):
    tbl = str(tmp_path / "tbl")
    ev = _src(events).limit(500)
    merge_registers_batch(ev, tbl, "1m", 8, "ts", "item")
    once = _regs(spark.read.parquet(tbl).select("bucket_ts", "reg", "rho"))
    # simulate foreachBatch replay: same batch merged again
    merge_registers_batch(ev, tbl, "1m", 8, "ts", "item")
    twice = _regs(spark.read.parquet(tbl).select("bucket_ts", "reg", "rho"))
    assert once == twice


def test_only_touched_dates_rewritten(spark, events, tmp_path):
    import os
    import time

    tbl = str(tmp_path / "tbl")
    ev = _src(events)
    merge_registers_batch(ev, tbl, "1m", 8, "ts", "item")
    dates = sorted(d for d in os.listdir(tbl) if d.startswith("bucket_date="))
    assert len(dates) > 1
    untouched = os.path.join(tbl, dates[0])
    before = max(
        os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched) if f.endswith(".parquet")
    )
    time.sleep(1.1)
    # merge a batch touching ONLY the last date
    last_day = dates[-1].split("=", 1)[1]
    merge_registers_batch(
        ev.where(F.to_date("ts") == F.lit(last_day)), tbl, "1m", 8, "ts", "item"
    )
    after = max(
        os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched) if f.endswith(".parquet")
    )
    assert after == before  # untouched partition not rewritten


def test_merge_on_uri_root_max_merges_same_day(spark, tmp_path):
    """A file:// table root must be seen as existing, so the second
    batch max-merges into the day instead of replacing it."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 5, 9, 0)
    schema = "ts timestamp, item string"
    b1 = spark.createDataFrame(
        [(t0 + dt.timedelta(seconds=i % 60), f"a{i}") for i in range(400)], schema)
    b2 = spark.createDataFrame(
        [(t0 + dt.timedelta(seconds=i % 60), f"b{i}") for i in range(400)], schema)
    tbl = (tmp_path / "tbl").as_uri()
    assert tbl.startswith("file:///")
    merge_registers_batch(b1, tbl, "1m", 8, "ts", "item")
    merge_registers_batch(b2, tbl, "1m", 8, "ts", "item")
    got = _regs(spark.read.parquet(tbl).select("bucket_ts", "reg", "rho"))
    want = _regs(distinct_registers(b1.unionByName(b2), "ts", "item", "1m", 8))
    assert got == want
    assert got != _regs(distinct_registers(b2, "ts", "item", "1m", 8))
