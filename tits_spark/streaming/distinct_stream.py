"""Continuously-maintained per-bucket HLL registers (foreachBatch).

The batch cascade (operators/rollup_sketch.py) builds distinct-count
registers once per tier; this stream keeps the finest tier's register
TABLE current as new events arrive, so every coarser tier and every
estimate derives from a table that is always up to date — the
"continuous" in continuous aggregate.

Merge discipline: registers merge by register-wise MAX, which is
idempotent AND commutative — so foreachBatch's at-least-once replay
contract gives exactly-once table contents for free (a replayed
micro-batch re-maxes the same rhos, a no-op). This is strictly
stronger than the overwrite-by-batch-id device the decontam gate
needs (``_run.write_delta``) — additive sinks would
double-count on replay; max-merge cannot.

Write amplification: the table partitions by bucket_date and each
micro-batch dynamically overwrites ONLY the dates it touched (read
back with partition pruning, union, max) — steady-state cost is
O(today's registers), not O(table), which is what lets the finest
tier stay maintainable at 10^12 turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.rollup_sketch import distinct_registers
from tits_spark.streaming import _run


def merge_registers_batch(
    batch: DataFrame, table_path: str, tier: str, p: int,
    ts: str, item: str,
) -> None:
    """Max-merge one micro-batch's registers into the partitioned
    register table (idempotent under replay)."""
    spark = batch.sparkSession
    new = distinct_registers(batch, ts, item, tier, p).withColumn(
        "bucket_date", F.to_date("bucket_ts")
    )
    dates = [r["bucket_date"] for r in new.select("bucket_date").distinct().collect()]
    if not dates:
        return
    if _run.exists(spark, table_path):
        old = spark.read.parquet(table_path).where(
            F.col("bucket_date").isin(dates)
        )
        new = new.unionByName(old)
    merged = (
        new.groupBy("bucket_ts", "reg", "bucket_date")
        .agg(F.max("rho").alias("rho"))
        .select("bucket_ts", "reg", "rho", "bucket_date")
    )
    _run.overwrite_partitions(merged, table_path, "bucket_date")


def stream_distinct_registers(
    spark: SparkSession,
    source_path: str,
    schema: str,
    table_path: str,
    checkpoint: str,
    tier: str = "1m",
    p: int = 8,
    ts: str = "ts",
    item: str = "item",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (ts, item, ...) parquet into the per-bucket register
    table; read estimates at any time with
    ``distinct_by_bucket(spark.read.parquet(table_path))`` or cascade
    coarser tiers with ``registers_cascade``."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        merge_registers_batch(batch, table_path, tier, p, ts, item)

    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    return _run.to_batches(stream, upsert, checkpoint)
