"""How a streaming twin runs: the one place that wires one.

Every twin is a file source (:func:`source`), its own plan — a keyed
stateful operator (:func:`keyed`) or a watermark/window plan — and one
checkpointed ``availableNow`` sink: parquet append (:func:`to_parquet`)
or a micro-batch function (:func:`to_batches`). The partitioned tables
that the ``foreachBatch`` twins maintain are written here too; each
write carries its own ``partitionOverwriteMode``, so running a twin or
compacting its table never changes the caller's session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout

#: batch_id of a delta table's compacted base partition (real batch ids are >= 0)
BASE_PARTITION = -1


def source(spark: SparkSession, path: str, schema: str,
           max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # bound each micro-batch to N source files (soak harness device,
        # tools/stream_soak.py: availableNow then drains as many batches)
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(path)


def keyed(stream: DataFrame, fn, output_schema: str, state_schema: str,
          key: str = "key", timeout: str = GroupStateTimeout.NoTimeout) -> DataFrame:
    return stream.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


def to_parquet(stream: DataFrame, out_path: str, checkpoint: str) -> StreamingQuery:
    return _start(stream.writeStream.format("parquet").option("path", out_path), checkpoint)


def to_batches(stream: DataFrame, fn, checkpoint: str) -> StreamingQuery:
    return _start(stream.writeStream.foreachBatch(fn), checkpoint)


def _start(writer, checkpoint: str) -> StreamingQuery:
    return (
        writer.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def exists(spark: SparkSession, path: str) -> bool:
    """Through the Hadoop FileSystem, so URI roots (``file://``,
    ``hdfs://``) answer like local paths; ``os.path.exists`` does not."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def overwrite_partitions(df: DataFrame, path: str, by: str, mode: str = "dynamic") -> None:
    """Overwrite ``path`` partitioned by ``by``: ``dynamic`` replaces only
    the partitions present in ``df``, ``static`` replaces all of them."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", mode)
        .partitionBy(by)
        .parquet(path)
    )


def write_delta(delta: DataFrame, table_path: str, batch_id: int) -> None:
    """Write one micro-batch's delta into its own ``batch_id=<id>``
    partition: a replayed batch rewrites it instead of double-counting."""
    overwrite_partitions(delta.withColumn("batch_id", F.lit(batch_id)), table_path, "batch_id")


def compact(merged: DataFrame, table_path: str) -> None:
    """Replace every delta of ``table_path`` with ``merged`` as the base
    partition. Single writer: must not run concurrently with the stream."""
    overwrite_partitions(
        merged.withColumn("batch_id", F.lit(BASE_PARTITION)), table_path, "batch_id", "static"
    )
