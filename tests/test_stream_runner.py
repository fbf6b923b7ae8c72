"""The table-maintaining twins through the shared runner: a run leaves
the caller's session conf alone, and a replayed micro-batch (its
commit lost after the sink wrote) leaves the table as it was."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from tits_spark.streaming import (
    benford_stream,
    contingency_stream,
    decontam_stream,
    distinct_stream,
    hhi_stream,
    hist_stream,
)

SCHEMA = (
    "key string, ts timestamp, value double, event_type string, "
    "item string, doc_id long, text string"
)
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _source(spark, path, n_files=2, rows=200):
    """``n_files`` parquet files, one micro-batch each under
    max_files_per_trigger=1, all inside one day (one register date)."""
    rng = np.random.default_rng(7)
    t0 = dt.datetime(2024, 3, 5, 9, 0)
    for f in range(n_files):
        recs = []
        for i in range(rows):
            j = f * rows + i
            recs.append((
                f"k{rng.integers(6)}",
                t0 + dt.timedelta(seconds=int(j * 37)),
                float(rng.lognormal(3.0, 1.5)),
                f"t{rng.integers(3)}",
                f"u{rng.integers(5000)}",
                j,
                " ".join(rng.choice(WORDS, 6)),
            ))
        spark.createDataFrame(recs, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _start(spark, twin, src, table, ckpt):
    if twin == "hist":
        return hist_stream.stream_histogram(
            spark, src, SCHEMA, table, ckpt, max_files_per_trigger=1)
    if twin == "hhi":
        return hhi_stream.stream_hhi(
            spark, src, SCHEMA, table, ckpt, max_files_per_trigger=1)
    if twin == "contingency":
        return contingency_stream.stream_contingency(
            spark, src, SCHEMA, table, ckpt, max_files_per_trigger=1)
    if twin == "benford":
        return benford_stream.stream_benford(
            spark, src, SCHEMA, table, ckpt, max_files_per_trigger=1)
    if twin == "distinct":
        return distinct_stream.stream_distinct_registers(
            spark, src, SCHEMA, table, ckpt, max_files_per_trigger=1)
    bench = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id long, text string")
    return decontam_stream.stream_decontaminate(
        spark, src, SCHEMA, bench, table, ckpt, n=3, max_files_per_trigger=1)


TWINS = ("hist", "hhi", "contingency", "benford", "distinct", "decontam")
COMPACTED = (hist_stream, hhi_stream, contingency_stream, benford_stream)


def _table(spark, path):
    return sorted(spark.read.parquet(path).collect(), key=repr)


def test_stream_runs_and_compacts_leave_session_conf(spark, tmp_path):
    src = str(tmp_path / "src")
    _source(spark, src)
    before = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        for twin in TWINS:
            _start(spark, twin, src, str(tmp_path / twin), str(tmp_path / f"{twin}_ckpt")
                   ).awaitTermination(300)
            assert spark.conf.get(OVERWRITE_MODE) == "static", twin
        for mod in COMPACTED:
            table = str(tmp_path / mod.__name__.rsplit(".", 1)[1].removesuffix("_stream"))
            mod.compact(spark, table)
            assert spark.conf.get(OVERWRITE_MODE) == "static", mod.__name__
            ids = spark.read.parquet(table).select("batch_id").distinct().collect()
            assert [r["batch_id"] for r in ids] == [-1]
    finally:
        spark.conf.set(OVERWRITE_MODE, before)


@pytest.mark.parametrize("twin", TWINS)
def test_replayed_batch_leaves_table_unchanged(spark, tmp_path, twin):
    src, table, ckpt = (str(tmp_path / d) for d in ("src", "table", "ckpt"))
    _source(spark, src)
    _start(spark, twin, src, table, ckpt).awaitTermination(300)
    uninterrupted = _table(spark, table)

    # lose the newest commit: the sink already wrote batch n, so the
    # restart re-runs batch n from its logged offsets
    commits = tmp_path / "ckpt" / "commits"
    newest = max(int(f.name) for f in commits.iterdir() if f.name.isdigit())
    assert newest == 1
    (commits / str(newest)).unlink()
    (commits / f".{newest}.crc").unlink(missing_ok=True)
    q = _start(spark, twin, src, table, ckpt)
    q.awaitTermination(300)
    assert [p.batchId for p in q.recentProgress if p.numInputRows] == [newest]
    assert _table(spark, table) == uninterrupted
