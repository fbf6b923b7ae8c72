"""Continuously-maintained chi-square independence monitor — a
cross-CATEGORY continuous aggregate (foreachBatch).

State shape this twin adds to the soak: a per-key CONTINGENCY LATTICE
(key x event_type x hour-of-day counts). Like hhi_stream's cross-key
buckets, the readout mixes every cell of a key's table, so a lost or
replayed micro-batch corrupts the statistic through a DIFFERENT
cell's marginal — and unlike HHI, the corruption is invisible in any
single cell (the chi-square couples all r x c of them through the
marginals R_i, C_j, N).

Counts merge by ADDING, which is not replay-idempotent under
foreachBatch's at-least-once contract, so this stream uses the
delta-partition device (``_run.write_delta``, as in hist_stream):
each micro-batch writes its (key, u, v, n_delta) cell deltas into its own
``batch_id=<id>`` partition with dynamic overwrite — a replayed batch
rewrites the same partition bit-for-bit. Readers sum the deltas and
push the merged table through the BATCH operator's own finalize stage
(operators/mutual_info.py:chi2_finalize): identical expression tree
over identical exact integers, so the streaming readout is bit-equal
to ``chi2_independence`` over the same rows by construction.

Monitoring use: the live Cramer's V per key is the drift alarm — "has
this conversation source's type-by-hour mix developed structure it
didn't have?" — without ever re-scanning history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.mutual_info import chi2_finalize
from tits_spark.streaming import _run


def write_cell_delta(
    batch: DataFrame, table_path: str, batch_id: int, key: str, ts: str,
    cat_col: str,
) -> None:
    delta = (
        batch.select(
            F.col(key).alias("key"),
            F.col(cat_col).alias("u"),
            F.hour(F.col(ts).cast("timestamp")).alias("v"),
        )
        .groupBy("key", "u", "v")
        .agg(F.count(F.lit(1)).alias("n_delta"))
    )
    _run.write_delta(delta, table_path, batch_id)


def read_cells(spark: SparkSession, table_path: str) -> DataFrame:
    """The merged (key, u, v, nuv) exact int64 contingency table."""
    return (
        spark.read.parquet(table_path)
        .groupBy("key", "u", "v")
        .agg(F.sum("n_delta").alias("nuv"))
    )


def read_chi2(spark: SparkSession, table_path: str) -> DataFrame:
    """The live independence report — the batch operator's finalize
    stage over the merged counts (bit-equal to chi2_independence over
    the same rows)."""
    return chi2_finalize(read_cells(spark, table_path))


def compact(spark: SparkSession, table_path: str) -> None:
    """Fold every delta into the base partition. Single-writer: must
    not run concurrently with the stream (maintenance window)."""
    merged = read_cells(spark, table_path).select(
        "key", "u", "v", F.col("nuv").cast("long").alias("n_delta")
    )
    _run.compact(merged, table_path)


def stream_contingency(
    spark: SparkSession,
    source_path: str,
    schema: str,
    table_path: str,
    checkpoint: str,
    key: str = "key",
    ts: str = "ts",
    cat_col: str = "event_type",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, cat) parquet into contingency cell deltas;
    read the live chi-square / Cramer's V with :func:`read_chi2`."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        write_cell_delta(batch, table_path, batch_id, key, ts, cat_col)

    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    return _run.to_batches(stream, upsert, checkpoint)
