"""Streaming: watermarked 1m rollup equals the batch tier for on-time
data; stateful bounded-book triggers fire at the reference thresholds."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tits_spark.operators.rollup import rollup_from_raw


def test_stream_rollup_matches_batch(spark, transcripts, tmp_path):
    from tits_spark.streaming.rollup_stream import stream_rollup_1m

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    raw.write.mode("overwrite").parquet(src)

    q = stream_rollup_1m(
        spark, src, "conv_id string, ts timestamp, value double",
        out, ckpt, watermark="0 seconds",
    )
    q.awaitTermination(300)

    got = spark.read.parquet(f"{out}/tier=1m").drop("bucket_date")
    # append mode finalizes a window only once the watermark passes its
    # end; the window holding the globally-latest event never closes, so
    # compare against the batch tier restricted to closed windows
    max_ts = raw.agg(F.max("ts")).collect()[0][0]
    want = rollup_from_raw(raw, "conv_id", "ts", "value", "1m").filter(
        F.col("bucket_ts") + F.expr("INTERVAL 1 MINUTE") <= F.lit(max_ts)
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_rollup_incremental_second_batch(spark, transcripts, tmp_path):
    from tits_spark.streaming.rollup_stream import stream_rollup_1m

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    ).cache()
    days = sorted(r["d"] for r in raw.select(F.to_date("ts").alias("d")).distinct().collect())
    cut = days[len(days) // 2]
    part1 = raw.filter(F.to_date("ts") <= F.lit(cut))
    part2 = raw.filter(F.to_date("ts") > F.lit(cut))

    part1.write.mode("overwrite").parquet(src)
    schema = "conv_id string, ts timestamp, value double"
    stream_rollup_1m(spark, src, schema, out, ckpt, watermark="0 seconds").awaitTermination(300)
    # second batch of files arrives; checkpoint resumes the stream
    part2.write.mode("append").parquet(src)
    stream_rollup_1m(spark, src, schema, out, ckpt, watermark="0 seconds").awaitTermination(300)

    got = spark.read.parquet(f"{out}/tier=1m").drop("bucket_date")
    # the checkpoint carries window state across the two runs, so buckets
    # spanning the arrival split still aggregate exactly once; only the
    # window holding the globally-latest event stays open
    max_ts = raw.agg(F.max("ts")).collect()[0][0]
    want = rollup_from_raw(raw, "conv_id", "ts", "value", "1m").filter(
        F.col("bucket_ts") + F.expr("INTERVAL 1 MINUTE") <= F.lit(max_ts)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_guess_lag_raises_on_unreadable_books(spark, tmp_path):
    """Only a missing book table starts the books afresh: a book table
    that exists but cannot be read fails the query and is left as is."""
    from pyspark.errors import StreamingQueryException

    from tits_spark.datagen import generate_quotes
    from tits_spark.streaming.guess_lag_stream import stream_guess_lag

    src = str(tmp_path / "src")
    generate_quotes(spark, n_ticks=400, seed=3).write.mode("overwrite").parquet(src)
    books = tmp_path / "books"
    books.mkdir()
    (books / "part-00000.parquet").write_bytes(b"not a parquet file")

    q = stream_guess_lag(
        spark, src, books_path=str(books),
        results_path=str(tmp_path / "results"),
        checkpoint=str(tmp_path / "ckpt"), max_ticks=256, nlags=16,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    assert sorted(f.name for f in books.iterdir()) == ["part-00000.parquet"]


def test_book_state_triggers(spark, tmp_path):
    from tits_spark.streaming.book_state import book_triggers

    # two keys: "hot" gets 700 ticks (fires at 513 with max=512... use
    # small thresholds), "cold" gets 100 (never fires)
    max_ticks, edg = 512, 385  # 3/4 * 512 + 1
    rows = []
    for i in range(700):
        rows.append(("hot", float(i), float(i % 10)))
    for i in range(100):
        rows.append(("cold", float(i), 1.0))
    src = str(tmp_path / "src")
    pd.DataFrame(rows, columns=["key", "t", "v"]).to_parquet(src + ".parquet")
    spark.read.parquet(src + ".parquet").write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("key string, t double, v double").parquet(src)
    out = book_triggers(stream, max_ticks=max_ticks, edg_ticks=edg)
    q = (
        out.writeStream.format("memory").queryName("fires")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from fires").toPandas()
    assert set(got["key"]) == {"hot"}
    # 700 ticks, fire at 385 -> crop to 256 -> fire again at tick 385+129=514...
    # fires whenever buffer re-reaches 385: after crop 256, needs 129 more
    assert len(got) == (1 + (700 - 385) // 129)
    assert (got["n"] == edg).all()


def test_stream_guess_lag_recovers_offsets(spark, tmp_path):
    from tits_spark.datagen import generate_quotes
    from tits_spark.streaming.guess_lag_stream import stream_guess_lag

    quotes = generate_quotes(spark, n_ticks=6000, seed=42,
                             lag_ms={"FOLA": 30, "FOLB": 70})
    src = str(tmp_path / "src")
    quotes.write.mode("overwrite").parquet(src)

    q = stream_guess_lag(
        spark, src,
        books_path=str(tmp_path / "books"),
        results_path=str(tmp_path / "results"),
        checkpoint=str(tmp_path / "ckpt"),
        max_ticks=4096, nlags=32, tau=0.01,
    )
    q.awaitTermination(600)

    res = spark.read.parquet(str(tmp_path / "results")).toPandas()
    assert len(res) > 0
    got = {(r.side, r.key1, r.key2): r.best_lag for r in res.itertuples()}
    hits = 0
    for side in ("BID", "ASK"):
        for follower, ms in (("FOLA", 30), ("FOLB", 70)):
            k = (side, "LEAD", follower)
            if k in got:
                assert abs(got[k] - ms / 1000.0) <= 0.011, (k, got[k])
                hits += 1
    assert hits >= 2


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming dedup keeps one copy per distinct text (within the
    watermark) and the count matches the batch distinct-text count."""
    from tits_spark.streaming.dedup_stream import stream_dedup_exact

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    rows = [
        (i, f"doc body {i % 40}", float(i))  # 120 rows, 40 distinct texts
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tsec double").select(
        "doc_id", "text", F.timestamp_seconds(F.col("tsec") + 1_700_000_000).alias("ts")
    )
    df.write.mode("overwrite").parquet(src)

    q = stream_dedup_exact(
        spark, src, "doc_id long, text string, ts timestamp",
        out, ckpt, watermark="1 hour",
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    assert got.count() == 40
    # survivors cover every distinct text exactly once
    assert got.select("text").distinct().count() == 40
    # idempotent restart: re-running over the same source adds nothing
    q2 = stream_dedup_exact(
        spark, src, "doc_id long, text string, ts timestamp",
        out, ckpt, watermark="1 hour",
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == 40


def test_stream_sessions_match_batch_for_closed_sessions(spark, events, tmp_path):
    from tits_spark.operators.sessionize import session_stats_native
    from tits_spark.streaming.session_stream import stream_session_stats

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    ev = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    ev.write.mode("overwrite").parquet(src)

    q = stream_session_stats(
        spark, src, "key string, ts timestamp, value double",
        out, ckpt, gap_seconds=1800.0, watermark="0 seconds",
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    # append emits a session once the watermark (here: global max event
    # time) passes its window end = last_ts + gap; open sessions stay in
    # state, so compare against the batch result restricted to closed ones
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    want = session_stats_native(ev, gap_seconds=1800.0).filter(
        F.col("end_ts") + F.expr("INTERVAL 1800 SECONDS") <= F.lit(max_ts)
    )
    cols = ["key", "n_events", "start_ts", "end_ts"]
    g, w = got.select(cols), want.select(cols)
    assert g.count() == w.count()
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def test_stream_ewma_matches_batch(spark, events, tmp_path):
    """The O(1)-state streaming EWMA must equal the batch prefix-sum
    formulation on the same data."""
    from tits_spark.operators.sessionize import ewma_irregular
    from tits_spark.streaming.ewma_stream import stream_ewma

    src = str(tmp_path / "esrc")
    out = str(tmp_path / "eout")
    ckpt = str(tmp_path / "eckpt")
    ev = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    ).filter(F.col("key").isin("1", "2", "3"))
    ev.write.mode("overwrite").parquet(src)

    q = stream_ewma(
        spark, src, "key string, ts timestamp, value double",
        out, ckpt, tau_seconds=86400.0,
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out).select(
        "key", "ts", F.round("ewma", 9).alias("ewma")
    )
    want = ewma_irregular(ev, "key", "ts", "value", tau_seconds=86400.0).select(
        "key", "ts", F.round("ewma", 9).alias("ewma")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_ewma_carries_state_across_batches(spark, events, tmp_path):
    """Second incremental run resumes from (T, s, c) state: rows
    processed in the later batch must still match the batch EWMA
    computed over the FULL history."""
    from tits_spark.operators.sessionize import ewma_irregular
    from tits_spark.streaming.ewma_stream import stream_ewma

    src = str(tmp_path / "e2src")
    out = str(tmp_path / "e2out")
    ckpt = str(tmp_path / "e2ckpt")
    ev = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    ).filter(F.col("key").isin("1", "2")).cache()
    days = sorted(r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    cut = days[len(days) // 2]
    schema = "key string, ts timestamp, value double"

    ev.filter(F.to_date("ts") <= F.lit(cut)).write.mode("overwrite").parquet(src)
    stream_ewma(spark, src, schema, out, ckpt, tau_seconds=86400.0).awaitTermination(300)
    ev.filter(F.to_date("ts") > F.lit(cut)).write.mode("append").parquet(src)
    stream_ewma(spark, src, schema, out, ckpt, tau_seconds=86400.0).awaitTermination(300)

    got = spark.read.parquet(out).select("key", "ts", F.round("ewma", 9).alias("ewma"))
    want = ewma_irregular(ev, tau_seconds=86400.0).select(
        "key", "ts", F.round("ewma", 9).alias("ewma")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_ewma_long_span_backfill(spark, tmp_path):
    """availableNow backfill whose batch spans ~1e5*tau: the segmented
    within-batch rebase must neither overflow nor corrupt (T, s, c),
    and must match the (also segmented) batch operator."""
    import numpy as np

    from tits_spark.operators.sessionize import ewma_irregular
    from tits_spark.streaming.ewma_stream import stream_ewma

    rng = np.random.default_rng(21)
    tau = 3600.0
    t = np.floor(np.sort(rng.uniform(0, 1e5 * tau, 500)) * 1e6) / 1e6
    v = rng.normal(0.0, 5.0, 500)
    ev = spark.createDataFrame(
        [("k", float(ti), float(vi)) for ti, vi in zip(t, v)],
        "key string, tsec double, value double",
    ).withColumn("ts", F.timestamp_seconds("tsec")).drop("tsec")

    src = str(tmp_path / "lsrc")
    out = str(tmp_path / "lout")
    ckpt = str(tmp_path / "lckpt")
    ev.write.mode("overwrite").parquet(src)
    stream_ewma(
        spark, src, "key string, ts timestamp, value double",
        out, ckpt, tau_seconds=tau,
    ).awaitTermination(300)

    got = spark.read.parquet(out).select(
        "key", "ts", F.round("ewma", 9).alias("ewma"))
    assert got.filter(F.col("ewma").isNull() | F.isnan("ewma")).count() == 0
    want = ewma_irregular(ev, tau_seconds=tau).select(
        "key", "ts", F.round("ewma", 9).alias("ewma"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Stream-gated survivors must equal the batch decontaminate sweep
    over the same corpus, and a checkpointed restart adds nothing."""
    from tits_spark.operators.decontam import decontaminate
    from tits_spark.streaming.decontam_stream import stream_decontaminate

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    rows = [(1, "intro alpha beta gamma delta epsilon outro"),
            (2, "totally unrelated words that are clean here"),
            (3, "alpha beta gamma NOT-THE-SAME delta epsilon"),
            (4, "another clean document with plenty of words")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(src)

    q = stream_decontaminate(
        spark, src, "doc_id long, text string", bench, out, ckpt, n=5
    )
    q.awaitTermination(300)

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(
        r["doc_id"] for r in decontaminate(docs, bench, n=5).collect()
    )
    assert got == want
    assert 1 not in got and 2 in got

    # restart over the already-processed source: no duplicates appended
    q2 = stream_decontaminate(
        spark, src, "doc_id long, text string", bench, out, ckpt, n=5
    )
    q2.awaitTermination(300)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == want

    # replay with a FRESH checkpoint (foreachBatch at-least-once: the
    # same micro-batch re-runs with the same batch_id): the per-batch
    # partition overwrite must leave the corpus unduplicated
    q3 = stream_decontaminate(
        spark, src, "doc_id long, text string", bench, out,
        str(tmp_path / "cckpt2"), n=5,
    )
    q3.awaitTermination(300)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == want


def test_stream_holt_matches_batch(spark, events, tmp_path):
    """The O(1)-state streaming Holt twin equals the batch operator
    bit-for-bit (same IEEE op tree), including the one-event-delayed
    init row."""
    from tits_spark.operators.smoothing import holt_by_key
    from tits_spark.streaming.holt_stream import stream_holt

    src = str(tmp_path / "hsrc")
    out = str(tmp_path / "hout")
    ckpt = str(tmp_path / "hckpt")
    ev = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    ).filter(F.col("key").isin("1", "2", "3"))
    ev.write.mode("overwrite").parquet(src)

    stream_holt(
        spark, src, "key string, ts timestamp, value double", out, ckpt
    ).awaitTermination(300)

    got = spark.read.parquet(out).select("key", "ts", "level", "trend")
    want = holt_by_key(ev).select("key", "ts", "level", "trend")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_holt_carries_state_across_batches(spark, events, tmp_path):
    """Rows processed after a restart resume from (level, trend) state
    and still match the batch recursion over the FULL history — incl.
    the case where a key's second-ever event arrives in the later run."""
    from pyspark.sql import Window

    from tits_spark.operators.smoothing import holt_by_key
    from tits_spark.streaming.holt_stream import stream_holt

    src = str(tmp_path / "h2src")
    out = str(tmp_path / "h2out")
    ckpt = str(tmp_path / "h2ckpt")
    ev = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    ).filter(F.col("key").isin("1", "2")).cache()
    days = sorted(r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    schema = "key string, ts timestamp, value double"

    # split so one key has exactly ONE event in the first run: its init
    # must stay buffered until the second run delivers event #2
    w = Window.partitionBy("key").orderBy("ts", "value")
    ranked = ev.withColumn("_rn", F.row_number().over(w))
    first = ranked.filter(
        ((F.col("key") == "1") & (F.col("_rn") <= 1))
        | ((F.col("key") == "2") & (F.col("_rn") <= 30))
    ).drop("_rn")
    rest = ranked.join(first.select("key", "ts", "value"), ["key", "ts", "value"], "left_anti").drop("_rn")

    first.write.mode("overwrite").parquet(src)
    stream_holt(spark, src, schema, out, ckpt).awaitTermination(300)
    mid = spark.read.parquet(out)
    assert mid.filter(F.col("key") == "1").count() == 0  # init still buffered
    rest.write.mode("append").parquet(src)
    stream_holt(spark, src, schema, out, ckpt).awaitTermination(300)

    got = spark.read.parquet(out).select("key", "ts", "level", "trend")
    want = holt_by_key(ev).select("key", "ts", "level", "trend")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
