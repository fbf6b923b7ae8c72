"""Continuously-maintained per-bucket concentration (HHI) — the
cross-key member of the continuous-aggregate families (foreachBatch).

State shape this twin adds to the soak: a CROSS-KEY aggregate. Every
other twin's state is per-key; HHI's readout mixes every key inside a
time bucket, so a lost or replayed micro-batch corrupts the bucket
through a DIFFERENT key's share — exactly the failure the per-batch_id
delta construction exists to prevent.

Per-key cent totals merge by ADDING — and additive merges are NOT
replay-idempotent (foreachBatch is at-least-once: a replayed
micro-batch would double-count a key's share and tilt the whole
bucket), so this stream uses hist_stream's device
(``_run.write_delta``): each micro-batch writes its (bucket,
key, s_delta) share DELTA into its own ``batch_id=<id>`` partition
with dynamic overwrite; a replay rewrites the same partition
bit-for-bit. Readers sum the deltas and push the merged totals
through the BATCH operator's own finalize stage
(operators/concentration.py:hhi_finalize) — the identical expression
tree over the identical exact integers, so the streaming readout is
bit-equal to ``hhi_per_bucket`` over the same rows by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.functions.exprs import epoch_us, floordiv
from tits_spark.operators.concentration import _HOUR_US, hhi_finalize
from tits_spark.streaming import _run


def write_share_delta(
    batch: DataFrame, table_path: str, batch_id: int, key: str, ts: str,
    value: str, bucket_us: int,
) -> None:
    cents = F.round(F.col(value) * 100).cast("long")
    delta = (
        batch.select(
            floordiv(epoch_us(ts), int(bucket_us)).alias("bucket"),
            F.col(key).alias("key"),
            cents.alias("c"),
        )
        .filter(F.col("c") > 0)
        .groupBy("bucket", "key")
        # a single micro-batch's per-key delta fits int64 by the same
        # bound as the batch operator's emission (concentration.py)
        .agg(F.sum("c").alias("s_delta"))
    )
    _run.write_delta(delta, table_path, batch_id)


def read_shares(spark: SparkSession, table_path: str) -> DataFrame:
    """The merged (bucket, key, s) exact decimal totals across deltas."""
    return (
        spark.read.parquet(table_path)
        .groupBy("bucket", "key")
        .agg(F.sum(F.col("s_delta").cast("decimal(38,0)")).alias("s"))
    )


def read_hhi(
    spark: SparkSession, table_path: str, min_keys: int = 2
) -> DataFrame:
    """The live concentration table — the batch operator's finalize
    stage over the merged share totals (bit-equal to hhi_per_bucket
    over the same rows)."""
    return hhi_finalize(read_shares(spark, table_path), min_keys=min_keys)


def compact(spark: SparkSession, table_path: str) -> None:
    """Fold every delta into the base partition. Single-writer: must
    not run concurrently with the stream (maintenance window)."""
    merged = read_shares(spark, table_path).select(
        "bucket", "key", F.col("s").cast("long").alias("s_delta")
    )
    _run.compact(merged, table_path)


def stream_hhi(
    spark: SparkSession,
    source_path: str,
    schema: str,
    table_path: str,
    checkpoint: str,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    bucket_us: int = _HOUR_US,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) parquet into per-bucket share deltas;
    read the live HHI at any time with :func:`read_hhi`."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        write_share_delta(
            batch, table_path, batch_id, key, ts, value, bucket_us
        )

    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    return _run.to_batches(stream, upsert, checkpoint)
