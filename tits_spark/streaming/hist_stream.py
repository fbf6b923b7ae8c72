"""Continuously-maintained per-bucket value histograms (foreachBatch).

The quantile member of the continuous-aggregate families. Histograms
merge by ADDING counts — and additive merges are NOT replay-idempotent
(foreachBatch is at-least-once: a replayed micro-batch would double-
count), so this stream uses the opposite device from the HLL register
stream (streaming/distinct_stream.py, whose max-merge is idempotent
for free): each micro-batch writes its histogram DELTA into its own
``batch_id=<id>`` partition with dynamic overwrite. A replay rewrites
the same partition bit-for-bit instead of double-counting — the same
exactly-once-on-top-of-at-least-once construction as the decontam gate
(both write through ``_run.write_delta``).

Readers aggregate the deltas (sum over batch_id) — cheap, since each
delta is at most (buckets x lattice points) rows; :func:`compact`
folds committed deltas into a single base partition
(``_run.compact``) when the delta count grows (run it from the
maintenance window that owns the table — it must not race the writer,
same single-writer assumption as the register table's dynamic
overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.quantiles import value_histogram
from tits_spark.streaming import _run


def write_hist_delta(
    batch: DataFrame, table_path: str, batch_id: int, tier_unit: str,
    ts: str, value: str, scale: int,
) -> None:
    hist = value_histogram(
        batch.select(F.date_trunc(tier_unit, ts).alias("bucket_ts"), value),
        ["bucket_ts"], value, scale,
    )
    _run.write_delta(hist, table_path, batch_id)


def read_histogram(spark: SparkSession, table_path: str) -> DataFrame:
    """The merged (bucket_ts, q, cnt) histogram across all deltas."""
    return (
        spark.read.parquet(table_path)
        .groupBy("bucket_ts", "q")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact(spark: SparkSession, table_path: str) -> None:
    """Fold every delta into the base partition. Single-writer: must
    not run concurrently with the stream (maintenance window)."""
    _run.compact(read_histogram(spark, table_path), table_path)


def stream_histogram(
    spark: SparkSession,
    source_path: str,
    schema: str,
    table_path: str,
    checkpoint: str,
    tier_unit: str = "minute",
    ts: str = "ts",
    value: str = "value",
    scale: int = 100,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (ts, value, ...) parquet into per-bucket histogram
    deltas; read quantiles at any time with
    ``quantiles_from_hist(read_histogram(spark, table_path), ...)``."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        write_hist_delta(batch, table_path, batch_id, tier_unit, ts, value, scale)

    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    return _run.to_batches(stream, upsert, checkpoint)
