"""Continuously-maintained Benford first-digit monitor — a per-key
digit-lattice continuous aggregate (foreachBatch), twin #31.

State shape: the (key, d) first-digit count lattice (<= 9 cells per
key). Like contingency_stream the readout couples every cell of a
key's lattice through the chi2/MAD marginals, so a lost or replayed
micro-batch corrupts the conformance score through a DIFFERENT
digit's count — invisible in any single cell. Counts merge by
ADDING, which is not replay-idempotent under foreachBatch's
at-least-once contract, so this stream uses the delta-partition
device (``_run.write_delta``, as in hist_stream): each micro-batch
writes its (key, d, n_delta) cell deltas into its own
``batch_id=<id>`` partition with dynamic overwrite — a replayed batch rewrites the
same partition bit-for-bit. Readers sum the deltas and push the
merged lattice through the BATCH operator's own finalize stage
(operators/benford.py:benford_finalize): identical expression tree
over identical exact integers, so the streaming report is bit-equal
to ``benford_audit`` over the same rows by construction.

Monitoring use: the live per-source chi2/MAD is the fabricated-feed
alarm — "did this ingest source's value distribution stop looking
organic?" — without ever re-scanning history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.benford import benford_counts, benford_finalize
from tits_spark.streaming import _run


def write_digit_delta(
    batch: DataFrame, table_path: str, batch_id: int, key: str, value: str
) -> None:
    delta = benford_counts(batch, key, value).select(
        "key", "d", F.col("n").alias("n_delta")
    )
    _run.write_delta(delta, table_path, batch_id)


def read_counts(spark: SparkSession, table_path: str) -> DataFrame:
    """The merged (key, d, n) exact int64 digit lattice."""
    return (
        spark.read.parquet(table_path)
        .groupBy("key", "d")
        .agg(F.sum("n_delta").cast("long").alias("n"))
    )


def read_report(
    spark: SparkSession, table_path: str, min_n: int = 50
) -> DataFrame:
    """The live conformance report — the batch operator's finalize
    stage over the merged counts (bit-equal to benford_audit over
    the same rows)."""
    return benford_finalize(read_counts(spark, table_path), min_n)


def compact(spark: SparkSession, table_path: str) -> None:
    """Fold every delta into the base partition. Single-writer: must
    not run concurrently with the stream (maintenance window)."""
    merged = read_counts(spark, table_path).select(
        "key", "d", F.col("n").alias("n_delta")
    )
    _run.compact(merged, table_path)


def stream_benford(
    spark: SparkSession,
    source_path: str,
    schema: str,
    table_path: str,
    checkpoint: str,
    key: str = "key",
    value: str = "value",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, value) parquet into digit-count deltas; read the
    live Benford report with :func:`read_report`."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        write_digit_delta(batch, table_path, batch_id, key, value)

    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    return _run.to_batches(stream, upsert, checkpoint)
