"""Structured Streaming front-end for the rollup engine.

The reference processes an unbounded stdin stream with bounded per-key
state (ref:guess_lag.c:349-352, SURVEY.md §2.10); our batch engine is
the primary path (continuous aggregates + checkpoint resume), and this
module is the streaming wrapper: file source -> watermarked 1m windowed
aggregation -> foreachBatch append into the same tier layout (wired by
streaming/_run.py like every twin), so late
data within the watermark lands in the right bucket and the downstream
cascade (1h/1d) stays exact.

The aggregate list is operators.rollup's own (count/sum/sumsq/min/max
and min_by/max_by on the observation timestamp); only the grouping
differs — F.window, which watermark append mode needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.rollup import _raw_aggs
from tits_spark.streaming import _run


def stream_rollup_1m(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    key: str = "conv_id",
    ts: str = "ts",
    value: str = "value",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory into the 1m tier.

    Watermark bounds state: buckets older than (max event time -
    watermark) are finalized and emitted once (append mode), matching
    the batch tier exactly for on-time data; later-than-watermark rows
    are dropped — the documented streaming trade-off the batch
    checkpoint path does not have.
    """
    stream = (
        _run.source(spark, source_path, schema, max_files_per_trigger)
        .withWatermark(ts, watermark)
        .groupBy(F.col(key).alias("key"), F.window(ts, "1 minute").alias("w"))
        .agg(*_raw_aggs(value, ts))
        .select("key", F.col("w.start").alias("bucket_ts"), "n_obs", "v_sum",
                "v_sumsq", "v_min", "v_max", "v_first", "v_last",
                "first_ts", "last_ts")
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn("bucket_date", F.to_date("bucket_ts"))
            .repartition("bucket_date")
            .write.mode("append")
            .partitionBy("bucket_date")
            .parquet(f"{out_path}/tier=1m")
        )

    return _run.to_batches(stream, sink, checkpoint)
