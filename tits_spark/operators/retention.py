"""Retention TTLs per tier (north_rule: cascading retention tiers).

Each tier keeps a sliding horizon of day-partitions: raw/1m keep the
least history, 1d the most (the classic downsample-and-expire layout,
the scale-out version of the reference's ring-buffer retention,
ref:guess_lag.c:90-99). Expiry is a partition-directory delete — O(1)
metadata work per day, no row rewrites — preceded by a tombstone row in
the metrics log, so lineage records what was expired and resume never
re-processes an expired day.

Both passes go through ``ParquetTableIO``'s Hadoop FileSystem, so URI
roots work; an Iceberg location raises.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tits_spark.sources.table_io import METRICS_SCHEMA, ParquetTableIO, resolve_table_io

#: default horizon (days of history) per tier
DEFAULT_TTL_DAYS = {"1m": 30, "1h": 365, "1d": 3650}


def _parquet_io(spark: SparkSession, tiers_path: str, metrics_path: str) -> ParquetTableIO:
    io = resolve_table_io(spark, tiers_path, metrics_path)
    if not isinstance(io, ParquetTableIO):
        raise NotImplementedError(
            f"{tiers_path!r} is an Iceberg location: retention needs the parquet layout"
        )
    return io


def _append_log(io: ParquetTableIO, job_id: str, rows: list[tuple]) -> None:
    """Append (stage, part, input_count, bucket_count, checksum) rows to
    the lineage log, stamped with ``job_id`` and the UTC time. The frame
    is one SQL statement over the rows' JSON text (three parameter
    markers whatever the row count), not a DataFrame of Python rows."""
    if not rows:
        return
    row_ddl = METRICS_SCHEMA.split(", ")[1:-1]  # between job_id and committed_at
    names = [c.split(" ")[0] for c in row_ddl]
    io.append_metrics(io.spark.sql(
        "SELECT :job_id AS job_id, r.*, :at AS committed_at FROM (SELECT inline("
        f"from_json(:rows, 'array<struct<{', '.join(row_ddl)}>>'))) AS r",
        args={
            "job_id": job_id,
            "at": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            "rows": json.dumps([dict(zip(names, r)) for r in rows]),
        },
    ))


def expire_partitions(
    spark: SparkSession,
    tiers_path: str,
    metrics_path: str,
    as_of: dt.date,
    ttl_days: dict[str, int] | None = None,
    job_id: str = "retention",
) -> dict[str, list[str]]:
    """Delete tier day-partitions older than their TTL horizon.

    The ``expired_<tier>`` rows are logged BEFORE the delete: a crash in
    between leaves the days on disk, and the rerun logs and deletes
    them again. Returns {tier: [expired bucket_date strings]}.
    Idempotent: already deleted partitions simply don't exist.
    """
    ttl_days = ttl_days or DEFAULT_TTL_DAYS
    io = _parquet_io(spark, tiers_path, metrics_path)
    expired = {
        tier: {
            day: d for day, d in io._day_dirs(tier).items()
            if dt.date.fromisoformat(day) < as_of - dt.timedelta(days=ttl)
        }
        for tier, ttl in ttl_days.items()
    }
    _append_log(io, job_id, [
        (f"expired_{tier}", day, 0, 0, 0) for tier, days in expired.items() for day in days
    ])
    path, fs = io._fs(tiers_path)
    for days in expired.values():
        for d in days.values():
            fs.delete(path(d), True)
    return {tier: list(days) for tier, days in expired.items()}


def _content(df: DataFrame) -> tuple:
    """(lineage checksum, row count) of a day's rows, in one job."""
    from tits_spark.lineage import _CHECKSUM_EXPR

    return tuple(df.agg(F.expr(_CHECKSUM_EXPR), F.count(F.lit(1))).first())


def compact_partitions(
    spark: SparkSession,
    tiers_path: str,
    metrics_path: str,
    tier: str,
    max_files_per_day: int = 4,
    target_file_mb: int = 256,
    job_id: str = "compaction",
) -> dict[str, int]:
    """Rewrite small-file day partitions into ~target_file_mb files.

    The parquet-dir stand-in for Iceberg's ``rewrite_data_files``: at
    10^12-turn scale every late-arriving resume or fine-grained
    incremental run leaves slivers that tax the scan planner; compaction
    bin-packs each offending day into ceil(bytes/target) files.

    Content safety is proven, not assumed: the partition's
    order-independent lineage checksum (bit_xor of xxhash64 over the
    canonical columns) and row count are recomputed from the compacted
    copy and must equal the pre-compaction values BEFORE the swap — a
    mismatch aborts that day and leaves the original in place. Swap is
    staged (write tmp -> verify -> trash old -> move in): any crash
    window leaves either the original or the verified copy on disk, and
    the metrics log records what was compacted.

    Returns {bucket_date: n_files_after} for the days rewritten.
    """
    io = _parquet_io(spark, tiers_path, metrics_path)
    path, fs = io._fs(tiers_path)
    done: dict[str, int] = {}
    rows = []
    for day, d in io._day_dirs(tier).items():
        files = [f for f in fs.listStatus(path(d)) if f.getPath().getName().endswith(".parquet")]
        if len(files) <= max_files_per_day:
            continue
        nbytes = sum(f.getLen() for f in files)
        n_out = max(1, -(-nbytes // (target_file_mb * 1024 * 1024)))

        before = spark.read.parquet(d)
        chk_before, n_rows = _content(before)

        # hidden siblings of the day directory: readers skip "." names
        parent = d.rsplit("/", 1)[0]
        tmp, trash = f"{parent}/.compact_tmp_{day}", f"{parent}/.compact_trash_{day}"
        before.repartition(n_out).write.mode("overwrite").parquet(tmp)
        if _content(spark.read.parquet(tmp)) != (chk_before, n_rows):
            fs.delete(path(tmp), True)  # abort: original untouched
            continue

        fs.delete(path(trash), True)
        if not (fs.rename(path(d), path(trash)) and fs.rename(path(tmp), path(d))):
            raise OSError(f"compact_partitions: swapping {tmp} into {d} failed")
        fs.delete(path(trash), True)
        done[day] = n_out
        rows.append((f"compacted_{tier}", day, n_rows, n_out, chk_before))
    _append_log(io, job_id, rows)
    return done
