"""Streaming guess_lag: the reference's stdin loop (parse -> bounded
books -> fire pairwise XCF at tick thresholds, ref:guess_lag.c:336-357)
as an incremental Structured Streaming job.

Design (SURVEY.md §1.3 "batch engine run incrementally"): the micro-batch
sink maintains a persisted book table — per (side, venue) the newest
``max_ticks`` quotes, compacted each batch with the same sliding-window
operator the batch pipeline uses — and, whenever a book has accumulated
``edg_ticks`` NEW rows since it last fired (the reference's
fire-then-crop cadence, W4), runs the batch guess_lag kernel over the
current snapshot and appends best-lag rows to the results table.

Cross-book state (all pairs at trigger time) cannot live inside a
keyed stateful operator, so the book table IS the state — checkpointed
by the stream, bounded by max_ticks * n_books rows, and readable by any
other consumer between batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.guess_lag import guess_lag
from tits_spark.operators.windows import sliding_last_n
from tits_spark.streaming import _run

QUOTES_SCHEMA = "ts timestamp, venue string, bid double, ask double"


def stream_guess_lag(
    spark: SparkSession,
    source_path: str,
    books_path: str,
    results_path: str,
    checkpoint: str,
    max_ticks: int = 4096,
    edg_ticks: int | None = None,
    nlags: int = 64,
    tau: float = 0.01,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    if edg_ticks is None:
        edg_ticks = 3 * max_ticks // 4 + 1

    def sink(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        # only a missing book table means "first batch": any other read
        # failure must not silently restart the books from this batch
        if _run.exists(sp, books_path):
            merged = sp.read.parquet(books_path).unionByName(batch)
        else:
            merged = batch
        # compact to the newest max_ticks per (venue, side-ish source row)
        compacted = sliding_last_n(merged, ["venue"], "ts", 2 * max_ticks)
        compacted.write.mode("overwrite").parquet(books_path + "_next")
        nxt = sp.read.parquet(books_path + "_next")
        nxt.write.mode("overwrite").parquet(books_path)

        snapshot = sp.read.parquet(books_path)
        fired = guess_lag(
            snapshot, best=True, max_ticks=max_ticks,
            edg_ticks=edg_ticks, nlags=nlags, tau=tau,
        ).withColumn("batch_id", F.lit(batch_id))
        fired.write.mode("append").parquet(results_path)

    stream = _run.source(spark, source_path, QUOTES_SCHEMA, max_files_per_trigger)
    return _run.to_batches(stream, sink, checkpoint)
