"""Streaming benchmark decontamination: drop contaminated documents at
ingest, against a static benchmark n-gram set.

The batch operator (operators.decontam) sweeps a landed corpus; a
continuously-ingesting pipeline wants the same gate BEFORE documents
hit storage. The decision for a document depends only on that document
and the static benchmark set — no cross-batch state — so the operator
is stateless. It cannot, however, be a single streaming join tree:
"doc has NO gram in the set" needs explode -> probe -> re-collapse,
and the re-collapse is either a streaming aggregation (forces a
watermark onto a stateless op) or a stream-to-stream self-join
(unsupported for anti joins). The Spark-native shape is
``foreachBatch``: each micro-batch is a bounded DataFrame, so the
BATCH ``decontaminate`` runs verbatim per batch — the benchmark gram
set broadcast, the batch side never shuffled — and stream-gated vs
batch-swept corpora agree document-for-document by construction
(asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from tits_spark.operators.decontam import decontaminate
from tits_spark.streaming import _run


def stream_decontaminate(
    spark: SparkSession,
    source_path: str,
    schema: str,
    benchmark: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of documents, drop every doc sharing
    any word ``n``-gram with the static ``benchmark`` frame, append
    survivors to ``out_path``.

    Stateless (no watermark, no state store): the checkpoint tracks
    only source progress, so restarts resume at the next unprocessed
    file. The per-batch plan is the batch operator's — map-only n-gram
    explode, broadcast semi-join against the benchmark grams, anti-join
    filter — with the benchmark grams recomputed per batch; callers
    gating a high-rate stream should pass an already-materialized
    benchmark frame (e.g. a small parquet table) so the static side is
    a cheap scan, exactly like the incremental-LSH band table.

    Exactly-once output under foreachBatch's at-least-once contract:
    each micro-batch OVERWRITES its own ``batch_id=<id>`` partition
    directory, so a replay after a mid-batch failure (sink committed,
    checkpoint offset not yet) rewrites the same partition instead of
    appending duplicates. Read the corpus as ``out_path`` (partition
    discovery picks up the batch_id column)."""

    def gate(batch: DataFrame, batch_id: int) -> None:
        # idempotent per-batch commit: replays overwrite, never append
        _run.write_delta(
            decontaminate(batch, benchmark, n, id_col, text_col), out_path, batch_id
        )

    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    return _run.to_batches(stream, gate, checkpoint)
