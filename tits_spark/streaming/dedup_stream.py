"""Streaming exact-dedup: drop repeated document texts on an unbounded
stream with bounded state.

The batch engine dedups with a hash-groupBy (operators.dedup); a
continuously-ingesting training pipeline needs the same guarantee on
the stream *without* unbounded "seen hashes" state. Spark's
``dropDuplicatesWithinWatermark`` is exactly that operator: state for a
hash is kept only until the watermark passes its event time, so two
copies of a document arriving within the watermark window dedup to one,
and state is provably bounded by (arrival rate x watermark) — the same
bounded-state discipline as the reference's ring-buffer books
(ref:guess_lag.c:81,90-99), applied to dedup instead of correlation.

Duplicates farther apart than the watermark survive the stream stage;
the batch dedup over the landed table is the exact backstop — the
standard lambda split for dedup at ingest. The stream stage exists to
cut the (dominant) near-in-time duplicate mass before it hits storage.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.streaming import _run


def stream_dedup_exact(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory, keep the first-arriving copy of each
    distinct text within the watermark, append survivors to
    ``out_path``. Dedup key is md5(text) — same key as the batch
    ``dedup_exact`` so stream + batch-backstop compose."""
    stream = (
        _run.source(spark, source_path, schema, max_files_per_trigger)
        .withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )
    return _run.to_parquet(stream, out_path, checkpoint)
