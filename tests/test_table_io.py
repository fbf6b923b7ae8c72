"""TableIO backend resolution + parquet-layout contract (SURVEY.md §7).

The Iceberg backend cannot be driven here (no iceberg-spark-runtime jar
in the container — that absence is itself asserted), so these tests pin
(a) correct backend selection logic and (b) the parquet backend's
idempotent dynamic-overwrite semantics that the lineage commit protocol
relies on.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from tits_spark.sources.table_io import (
    IcebergTableIO,
    ParquetTableIO,
    iceberg_available,
    is_table_identifier,
    resolve_table_io,
)


def test_identifier_detection():
    assert is_table_identifier("db.tiers")
    assert is_table_identifier("catalog.db.tiers")
    assert not is_table_identifier("/data/tiers")
    assert not is_table_identifier("data/tiers")
    assert not is_table_identifier("tiers")  # single part: ambiguous, treat as dir
    assert not is_table_identifier("a.b.c.d")
    assert not is_table_identifier("db.1bad")


def test_resolution_falls_back_without_iceberg(spark, tmp_path):
    # this container ships no Iceberg runtime — resolution must fall
    # back to parquet even for a dotted identifier
    assert not iceberg_available(spark)
    io = resolve_table_io(spark, "catalog.db.tiers", "catalog.db.metrics")
    assert isinstance(io, ParquetTableIO)
    io2 = resolve_table_io(spark, str(tmp_path / "tiers"), str(tmp_path / "m"))
    assert isinstance(io2, ParquetTableIO)


def test_parquet_tier_overwrite_is_per_day(spark, tmp_path):
    io = ParquetTableIO(spark, str(tmp_path / "tiers"), str(tmp_path / "metrics"))
    df1 = spark.createDataFrame(
        [("k1", "2026-01-01 10:00:00", 1, 5.0), ("k1", "2026-01-02 10:00:00", 1, 7.0)],
        "key string, bucket_ts string, n_obs long, v_sum double",
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))
    io.write_tier(df1, "1h")
    assert io.tier_partition_count("1h") == 2

    # rewrite ONLY day 1 with a new value; day 2 must survive untouched
    df2 = spark.createDataFrame(
        [("k1", "2026-01-01 10:00:00", 2, 9.0)],
        "key string, bucket_ts string, n_obs long, v_sum double",
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))
    io.write_tier(df2, "1h")
    got = {
        (r["key"], str(r["bucket_date"])): (r["n_obs"], r["v_sum"])
        for r in io.read_tier("1h").collect()
    }
    assert got[("k1", "2026-01-01")] == (2, 9.0)
    assert got[("k1", "2026-01-02")] == (1, 7.0)


def test_parquet_multi_tier_write_and_read_back(spark, tmp_path):
    """write_tiers lands several tiers in one write, one file per
    (tier, day) directory; read_tiers reads back only the named
    directories, with a tier column, skipping ones that do not exist."""
    io = ParquetTableIO(spark, str(tmp_path / "tiers"), str(tmp_path / "metrics"))
    df = spark.createDataFrame(
        [("k1", "2026-01-01 10:00:00", 1), ("k1", "2026-01-02 10:00:00", 2)],
        "key string, bucket_ts string, n_obs long",
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))
    io.write_tiers({"1m": df, "1h": df.withColumn("n_obs", F.col("n_obs") * 10)})
    for tier in ("1m", "1h"):
        assert io.tier_partition_count(tier) == 2
        for day in (tmp_path / "tiers" / f"tier={tier}").glob("bucket_date=*"):
            assert len(list(day.glob("*.parquet"))) == 1

    got = io.read_tiers(df.schema, ["1m", "1h", "1d"], ["2026-01-02", "2026-01-03"])
    assert sorted((r["tier"], str(r["bucket_date"]), r["n_obs"]) for r in got.collect()) == [
        ("1h", "2026-01-02", 20), ("1m", "2026-01-02", 2),
    ]
    assert io.read_tiers(df.schema, ["1d"], ["2026-01-02"]).count() == 0


def test_read_tier_day_range(spark, tmp_path):
    """read_tier keeps only the day directories in range; a range with
    none returns an empty frame with the tier schema, and a tier with no
    directories at all raises as Spark's own listing does."""
    io = ParquetTableIO(spark, str(tmp_path / "tiers"), str(tmp_path / "metrics"))
    with pytest.raises(AnalysisException):
        io.read_tier("1h")
    df = spark.createDataFrame(
        [("k1", "2026-01-01 10:00:00", 1), ("k1", "2026-01-02 10:00:00", 2),
         ("k1", "2026-01-03 10:00:00", 3)],
        "key string, bucket_ts string, n_obs long",
    ).withColumn("bucket_ts", F.to_timestamp("bucket_ts"))
    io.write_tier(df, "1h")

    def n_obs(out):
        return sorted(r["n_obs"] for r in out.collect())

    whole = io.read_tier("1h")
    assert whole.schema == spark.read.parquet(str(tmp_path / "tiers" / "tier=1h")).schema
    assert n_obs(whole) == [1, 2, 3]
    d = dt.date
    assert n_obs(io.read_tier("1h", d(2026, 1, 2), d(2026, 1, 2))) == [2]
    assert n_obs(io.read_tier("1h", d(2026, 1, 2))) == [2, 3]
    assert n_obs(io.read_tier("1h", last_day=d(2026, 1, 2))) == [1, 2]
    empty = io.read_tier("1h", d(2027, 1, 1), d(2027, 1, 31))
    assert empty.count() == 0
    assert empty.schema == whole.schema
    with pytest.raises(AnalysisException):
        io.read_tier("1d", d(2026, 1, 1), d(2026, 1, 3))


def test_metrics_log_append_and_first_read(spark, tmp_path):
    io = ParquetTableIO(spark, str(tmp_path / "t"), str(tmp_path / "metrics"))
    assert io.read_metrics().count() == 0  # missing dir -> empty frame
    rows = spark.createDataFrame(
        [("j1", "tier_1m", "2026-01-01", 10, 3, 42, None)],
        "job_id string, stage string, part string, input_count long, "
        "bucket_count long, checksum long, committed_at timestamp",
    )
    io.append_metrics(rows)
    io.append_metrics(rows)
    assert io.read_metrics().count() == 2


def test_metrics_read_failure_on_existing_log_propagates(spark, tmp_path, monkeypatch):
    """Only a missing log reads as empty: a failed read of a log that
    exists raises, instead of looking like nothing was committed."""
    io = ParquetTableIO(spark, str(tmp_path / "t"), str(tmp_path / "metrics"))
    io.append_metrics(spark.createDataFrame(
        [("j1", "tier_1m", "2026-01-01", 10, 3, 42, None)],
        "job_id string, stage string, part string, input_count long, "
        "bucket_count long, checksum long, committed_at timestamp",
    ))

    def failing_read(self, *paths, **kw):
        raise AnalysisException(message="injected read failure")

    monkeypatch.setattr(DataFrameReader, "parquet", failing_read)
    with pytest.raises(AnalysisException, match="injected read failure"):
        io.read_metrics()


def test_iceberg_table_names():
    io = IcebergTableIO.__new__(IcebergTableIO)
    io.prefix = "cat.db.tiers"
    io.metrics_table = "cat.db.tiers_metrics"
    assert io._tier_table("1h") == "cat.db.tiers_1h"
