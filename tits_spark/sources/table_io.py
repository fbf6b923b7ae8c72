"""Tier/metrics table storage backends (SURVEY.md §7 TableIO).

The north rule targets Iceberg tables of transcripts. This sandbox has
no iceberg-spark-runtime jar, so the parquet-directory backend is the
tested default; the Iceberg backend activates only when BOTH hold:

 - the location string is a dotted table identifier
   (``catalog.db.table_prefix``), not a filesystem path, and
 - ``org.apache.iceberg.spark.SparkCatalog`` resolves on the JVM
   classpath (i.e. the deploy shipped the Iceberg runtime).

Both backends expose the same contract, so `tits_spark.lineage` and the
spark-submit jobs are storage-agnostic:

 - ``write_tiers({tier: df, ...})`` — idempotent per-(tier, day)
   replace of every day present in each frame: parquet writes all the
   tiers in ONE dynamic-partition-overwrite job at the tiers root
   (``partitionBy("tier", "bucket_date")``), Iceberg runs one
   ``writeTo().overwritePartitions()`` per tier table (the same
   replace-matching-partitions semantics, transactional per table).
   ``write_tier(df, tier)`` is ``write_tiers({tier: df})``.
 - ``read_tier(tier, first_day=None, last_day=None)`` — one tier with
   its ``bucket_date`` column, only the days in [first_day, last_day]
   when given. Parquet lists ``tier=<t>/bucket_date=*`` once through
   the Hadoop FileSystem, keeps the directories in range and takes the
   schema from one file footer (the Spark schema the writer stored
   there), so building the frame submits no Spark job; Iceberg filters
   on ``bucket_date``. The range only prunes: callers keep their own
   row predicates. ``read_tiers(schema, tiers, days)`` — only the
   given (tier, day) partitions, with a ``tier`` column, read by
   explicit path with the caller's schema (the root holds tiers of
   different schemas, e.g. sketch tiers next to the rollup tiers, so
   nothing infers a schema there).
 - ``tier_partition_count(tier)`` — number of day partitions on disk
   (the same ``bucket_date=*`` listing as ``read_tier``).
 - ``read_metrics()`` / ``append_metrics(df)`` — append-only lineage
   log. On parquet the log doubles as the commit protocol (a partition
   is visible iff its lineage row exists — exactly-once on top of
   idempotent overwrites); on Iceberg each append is a table commit.

This module is the only owner of the tier layout (retention goes
through ``_fs``/``_day_dirs``; only the streaming 1m sink writes its
own): rows are clustered onto (tier, bucket_date) before every tier
write, so each day's file is written whole by one task — no
tasks-x-dates sliver files (measured 3.6x slower at bench scale, and
pathological at 10^12 turns).
"""

from __future__ import annotations

import json
import re
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StringType, StructType

METRICS_SCHEMA = (
    "job_id string, stage string, part string, input_count long, "
    "bucket_count long, checksum long, committed_at timestamp"
)

#: footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"

_IDENT_RE = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*){1,2}")


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — ClassNotFound via py4j
        return False


def is_table_identifier(location: str) -> bool:
    """Dotted table identifier (``db.table`` / ``cat.db.table``) vs path."""
    return "/" not in location and bool(_IDENT_RE.fullmatch(location))


def _with_bucket_date(df: DataFrame) -> DataFrame:
    return df.withColumn("bucket_date", F.to_date("bucket_ts"))


def _union_tiers(frames: dict[str, DataFrame]) -> DataFrame:
    return reduce(
        DataFrame.unionByName,
        (df.withColumn("tier", F.lit(t)) for t, df in frames.items()),
    )


class ParquetTableIO:
    """Parquet directory layout: ``<root>/tier=<t>/bucket_date=<d>/``
    plus an append-only parquet metrics log."""

    def __init__(self, spark: SparkSession, tiers_root: str, metrics_root: str):
        self.spark = spark
        self.tiers_root = tiers_root
        self.metrics_root = metrics_root

    def _fs(self, location: str):
        """(Hadoop ``Path`` class, the FileSystem of ``location``): works
        on local paths and URI roots (``file://``, ``hdfs://``) alike."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path
        return path, path(location).getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _day_dirs(self, tier: str) -> dict[str, str]:
        """{day: path} of the tier's ``bucket_date=<day>`` directories in
        day order, from one Hadoop FileSystem glob (no Spark job)."""
        path, fs = self._fs(self.tiers_root)
        found = fs.globStatus(path(f"{self.tiers_root}/tier={tier}/bucket_date=*"))
        base = f"{self.tiers_root}/tier={tier}"
        names = sorted(s.getPath().getName() for s in found or [])
        return {n.split("=", 1)[1]: f"{base}/{n}" for n in names}

    def _footer_schema(self, dirs: list[str]) -> StructType | None:
        """The row schema Spark's writer stored in the footer of the
        first data file under ``dirs``, read through Hadoop (no job);
        None when no such file carries one."""
        parquet = self.spark._jvm.org.apache.parquet.hadoop
        conf = self.spark._jsc.hadoopConfiguration()
        path, fs = self._fs(self.tiers_root)
        for d in dirs:
            for f in fs.listStatus(path(d)):
                if f.getPath().getName().startswith(("_", ".")):  # .crc, _SUCCESS
                    continue
                reader = parquet.ParquetFileReader.open(
                    parquet.util.HadoopInputFile.fromPath(f.getPath(), conf)
                )
                try:
                    meta = reader.getFooter().getFileMetaData().getKeyValueMetaData()
                finally:
                    reader.close()
                stored = meta.get(_SPARK_SCHEMA_KEY)
                return None if stored is None else StructType.fromJson(json.loads(stored))
        return None

    def read_tier(self, tier: str, first_day=None, last_day=None) -> DataFrame:
        """The tier's rows and ``bucket_date``, from the day directories
        in [first_day, last_day] (either bound may be None). A tier with
        no Spark-written day directory falls back to Spark's own
        listing and inference, which raises on a missing tier."""
        base = f"{self.tiers_root}/tier={tier}"
        dirs = self._day_dirs(tier)
        schema = self._footer_schema(list(dirs.values()))
        if schema is None:
            return self.spark.read.parquet(base)
        schema.add("bucket_date", DateType())
        keep = [
            d for day, d in dirs.items()
            if (first_day is None or day >= str(first_day))
            and (last_day is None or day <= str(last_day))
        ]
        if not keep:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("basePath", base).parquet(*keep)

    def read_tiers(
        self, schema: StructType, tiers: list[str], days: list | None = None
    ) -> DataFrame:
        """Rows of the ``days`` partitions of ``tiers`` (of the whole
        tiers when ``days`` is None) plus ``tier`` and ``bucket_date``
        columns. Lists only those directories; a (tier, day) directory
        that does not exist contributes no rows."""
        dirs = [f"{self.tiers_root}/tier={t}" for t in tiers]
        if days is not None:
            dirs = [f"{d}/bucket_date={day}" for d in dirs for day in days]
        path, fs = self._fs(self.tiers_root)
        dirs = [d for d in dirs if fs.exists(path(d))]
        full = (
            StructType(schema.fields)
            .add("tier", StringType())
            .add("bucket_date", DateType())
        )
        if not dirs:
            return self.spark.createDataFrame([], full)
        return (
            self.spark.read.schema(full)
            .option("basePath", self.tiers_root)
            .parquet(*dirs)
        )

    def write_tiers(self, frames: dict[str, DataFrame]) -> None:
        (
            _with_bucket_date(_union_tiers(frames))
            .repartition("tier", "bucket_date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("tier", "bucket_date")
            .parquet(self.tiers_root)
        )

    def write_tier(self, df: DataFrame, tier: str) -> None:
        self.write_tiers({tier: df})

    def tier_partition_count(self, tier: str) -> int:
        return len(self._day_dirs(tier))

    def read_metrics(self) -> DataFrame:
        try:
            return self.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_root)
        except AnalysisException:
            # only a log that does not exist yet (first run) reads as
            # empty; any other failure must not look like "nothing
            # committed", which would recompute and overwrite every day
            path, fs = self._fs(self.metrics_root)
            if fs.exists(path(self.metrics_root)):
                raise
            return self.spark.createDataFrame([], METRICS_SCHEMA)

    def append_metrics(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.metrics_root)


class IcebergTableIO:
    """Iceberg catalog tables ``<prefix>_<tier>`` + ``<prefix>_metrics``.

    Writes are transactional table commits; ``overwritePartitions``
    replaces exactly the day partitions present in the frame, matching
    the parquet backend's dynamic-overwrite idempotency. Requires
    iceberg-spark-runtime on the classpath (see iceberg_available)."""

    def __init__(self, spark: SparkSession, table_prefix: str,
                 metrics_table: str | None = None):
        self.spark = spark
        self.prefix = table_prefix
        self.metrics_table = metrics_table or f"{table_prefix}_metrics"

    def _tier_table(self, tier: str) -> str:
        return f"{self.prefix}_{tier}"

    def read_tier(self, tier: str, first_day=None, last_day=None) -> DataFrame:
        out = self.spark.table(self._tier_table(tier))
        if first_day is not None:
            out = out.where(F.col("bucket_date") >= F.lit(first_day))
        if last_day is not None:
            out = out.where(F.col("bucket_date") <= F.lit(last_day))
        return out

    def read_tiers(
        self, schema: StructType, tiers: list[str], days: list | None = None
    ) -> DataFrame:
        out = _union_tiers({t: self.read_tier(t) for t in tiers})
        return out if days is None else out.where(F.col("bucket_date").isin(days))

    def write_tiers(self, frames: dict[str, DataFrame]) -> None:
        for tier, df in frames.items():
            out = _with_bucket_date(df).repartition("bucket_date")
            name = self._tier_table(tier)
            if self.spark.catalog.tableExists(name):
                out.writeTo(name).overwritePartitions()
            else:
                out.writeTo(name).using("iceberg").partitionedBy(F.col("bucket_date")).create()

    def write_tier(self, df: DataFrame, tier: str) -> None:
        self.write_tiers({tier: df})

    def tier_partition_count(self, tier: str) -> int:
        return (
            self.spark.table(f"{self._tier_table(tier)}.partitions").count()
        )

    def read_tier_as_of(self, tier: str, as_of) -> DataFrame:
        """Native Iceberg snapshot time travel (true snapshot
        isolation — old file versions are retained by the table)."""
        return (
            self.spark.read.format("iceberg")
            .option("as-of-timestamp", str(int(as_of.timestamp() * 1000)))
            .load(self._tier_table(tier))
        )

    def read_metrics(self) -> DataFrame:
        if not self.spark.catalog.tableExists(self.metrics_table):
            return self.spark.createDataFrame([], METRICS_SCHEMA)
        return self.spark.table(self.metrics_table)

    def append_metrics(self, rows: DataFrame) -> None:
        if self.spark.catalog.tableExists(self.metrics_table):
            rows.writeTo(self.metrics_table).append()
        else:
            rows.writeTo(self.metrics_table).using("iceberg").create()


def resolve_table_io(
    spark: SparkSession, tiers_location: str, metrics_location: str
) -> ParquetTableIO | IcebergTableIO:
    """Pick the backend from the location shape + classpath: dotted
    identifiers with an Iceberg runtime -> IcebergTableIO, anything
    else -> the parquet directory layout."""
    if is_table_identifier(tiers_location) and iceberg_available(spark):
        return IcebergTableIO(spark, tiers_location, metrics_location)
    return ParquetTableIO(spark, tiers_location, metrics_location)
