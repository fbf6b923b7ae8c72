"""Streaming sessionization: Spark's native session_window under a
watermark.

The batch engine sessionizes with window algebra
(operators/sessionize.py); this is the unbounded-stream twin: the
session aggregate keeps per-key open-session state, merges events that
arrive within the gap, and emits a session once the watermark passes
its close (start of the trailing gap). State is bounded by
(active keys x open sessions), the same bounded-state discipline as
the watermarked rollup (streaming/rollup_stream.py).

Late events inside the watermark merge into the right session; later
ones are dropped — the documented streaming trade-off the batch path
does not have.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tits_spark.functions.exprs import ts_seconds
from tits_spark.streaming import _run


def stream_session_stats(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    gap_seconds: float = 1800.0,
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory into per-session stats rows
    (key, n_events, start_ts, end_ts, duration_s, v_sum); append mode
    emits each session exactly once when it closes under the watermark."""
    t = ts_seconds(F.col(ts))
    stream = (
        _run.source(spark, source_path, schema, max_files_per_trigger)
        .withWatermark(ts, watermark)
        .groupBy(key, F.session_window(ts, f"{int(gap_seconds)} seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts).alias("start_ts"),
            F.max(ts).alias("end_ts"),
            (F.max(t) - F.min(t)).alias("duration_s"),
            F.sum(value).alias("v_sum"),
        )
        .drop("session_window")
    )
    return _run.to_parquet(stream, out_path, checkpoint)
