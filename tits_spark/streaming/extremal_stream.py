"""Streaming extremal-index state: the twin of
operators/extremal.extremal_index with a bounded top-k list of state
per key.

The batch operator ranks ALL history by (value DESC, ts ASC) and keeps
the top k exceedances; the streaming twin maintains exactly that set
incrementally — state = the current top-k (cents, epoch-µs) pairs
(2k int64 scalars, k = 30 by default), merged with each micro-batch's
candidates under the SAME comparator and re-truncated to k. Because
membership is a pure order-statistic decision over exact integers, the
maintained set equals the batch top-k after any prefix of the stream,
restarts included — no approximation, no decay.

Each batch emits the key's CURRENT readout (n_seen, n_exc, u_cents,
sum_t, sum_t2; n_seen is a monotone rows-processed counter so the
final emission per key is recoverable from unordered part files) — the exact int64 comparison surface of the batch operator
(gap moments in whole floor-div seconds). theta is intentionally NOT
emitted: it is one fixed double tree over these integers (see
operators/extremal.py), so the bit-exact contract lives on the
integers and any consumer can apply the tree. The LAST emission per
key must equal the batch operator's row exactly once n_exc == k
(asserted incl. restarts in tests/test_extremal_stream.py).

Ordering contract: candidates may arrive in ANY order across batches
(top-k membership is order-free) — stronger than the time-ordered
contract most twins need.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

STATE_SCHEMA = "cs array<bigint>, uss array<bigint>, n_seen long"
OUTPUT_SCHEMA = (
    "key string, n_seen long, n_exc long, u_cents long, sum_t long, "
    "sum_t2 long"
)


def _topk(cs: np.ndarray, uss: np.ndarray, k: int):
    """Top-k under (c DESC, us ASC) — the batch ranking comparator."""
    order = np.lexsort((uss, -cs))[:k]
    return cs[order], uss[order]


def _readout(
    key: str, cs: np.ndarray, uss: np.ndarray, n_seen: int
) -> pd.DataFrame:
    t = np.sort(uss)
    gaps = (t[1:] - t[:-1]) // 1_000_000
    return pd.DataFrame(
        {
            "key": [key],
            "n_seen": [int(n_seen)],
            "n_exc": [int(cs.size)],
            "u_cents": [int(cs.min())],
            "sum_t": [int(gaps.sum())],
            "sum_t2": [int((gaps * gaps).sum())],
        }
    )


def make_extremal_fn(k: int = 30):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cs0, us0, n_seen = state.get
            cs = np.asarray(cs0, dtype=np.int64)
            uss = np.asarray(us0, dtype=np.int64)
        else:
            cs = np.empty(0, dtype=np.int64)
            uss = np.empty(0, dtype=np.int64)
            n_seen = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf[pdf["value"].notna()]
            if not len(pdf):
                continue
            bc = np.round(pdf["value"].to_numpy(np.float64) * 100).astype(
                np.int64
            )
            bus = (
                pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            )
            n_seen += int(bc.size)
            # merge batch candidates with the carried set; within a
            # batch, pre-truncating candidates to k is safe (they can
            # contribute at most k members) and bounds the sort
            if bc.size > k:
                bc, bus = _topk(bc, bus, k)
            cs, uss = _topk(
                np.concatenate((cs, bc)), np.concatenate((uss, bus)), k
            )
            yield _readout(key[0], cs, uss, n_seen)
        if cs.size:
            state.update((cs.tolist(), uss.tolist(), int(n_seen)))

    return fn


def stream_extremal_index(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    k: int = 30,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream (key, ts, value) samples into evolving top-k exceedance
    gap-moment readouts; the last emission per key is the batch
    operator's exact integer surface."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_extremal_fn(k), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
