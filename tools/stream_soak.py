"""Streaming soak: 50 micro-batches, 3 restarts, bit-equality to batch.

Every streaming twin has its own equivalence test; this harness adds
the LONG-RUN evidence — many micro-batches with restarts under load,
at sf0.1 scale — for all 34 streams (the 33 ``stream_*`` twins plus
the ``book_state`` books, each wired by ``tits_spark/streaming/_run.py``):

  - the sf0.1 events table (default) becomes a (key, ts, value) stream
    split into 50 time-quantile chunk FILES (cross-batch per-key order
    preserved — the streams' documented contract);
  - each stream runs in THREE phases over the same checkpoint (fresh
    query each phase = a restart with state recovered), with
    maxFilesPerTrigger=1 so the phases drain as 17 + 18 + 15 separate
    micro-batches;
  - after the final phase, the union of all emissions must equal the
    batch operator over the full history bit-for-bit (exceptAll both
    ways), exactly like the unit equivalence tests but 50 batches and
    2 mid-stream restarts deep.

Writes BENCH/STREAM_SOAK.md. Run:
    python tools/stream_soak.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import datetime as dt
import pathlib
import shutil
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
import sys

sys.path.insert(0, str(REPO))

N_CHUNKS = 50
PHASES = (17, 35, 50)  # cumulative chunk counts per phase
SCHEMA = "key string, ts timestamp, value double"


def _chunks(ev, n_chunks):
    """Split into n_chunks GLOBAL time-quantile chunks (preserves
    per-key cross-batch ordering)."""
    from pyspark.sql import functions as F

    qs = ev.agg(
        F.percentile_approx(
            F.col("ts").cast("double"),
            [i / n_chunks for i in range(1, n_chunks)],
            10_000,
        ).alias("qs")
    ).first().qs
    bounds = [float("-inf"), *qs, float("inf")]
    return [
        ev.filter(
            (F.col("ts").cast("double") > bounds[i])
            & (F.col("ts").cast("double") <= bounds[i + 1])
        )
        for i in range(n_chunks)
    ]


def _num_batches(spark, ckpt) -> int:
    """Committed micro-batch count from the checkpoint's commit log."""
    p = pathlib.Path(ckpt) / "commits"
    return len([f for f in p.iterdir() if f.name.isdigit()]) if p.exists() else 0


def _run_phases(spark, chunks, work, stream_fn, name, phases=PHASES):
    src = str(work / f"{name}_src")
    out = str(work / f"{name}_out")
    ckpt = str(work / f"{name}_ckpt")
    written = 0
    t0 = time.perf_counter()
    restarts = 0
    for upto in phases:
        for i in range(written, upto):
            chunks[i].coalesce(1).write.mode("append").parquet(src)
        written = upto
        q = stream_fn(src, out, ckpt)
        q.awaitTermination(1200)
        restarts += 1
    sec = time.perf_counter() - t0
    return out, _num_batches(spark, ckpt), restarts - 1, sec


def _bitwise_equal(got, want) -> tuple[bool, int, int]:
    n_got, n_want = got.count(), want.count()
    if n_got != n_want:
        return False, n_got, n_want
    eq = got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    return eq, n_got, n_want


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tits_spark.operators.bars import atr_rsi, bars_from_tier, stochastic
    from tits_spark.operators.rollup import rollup_from_raw
    from tits_spark.operators.smoothing import holt_by_key, holt_winters
    from tits_spark.operators.windows import gap_intervals
    from tits_spark.session import get_spark
    from tits_spark.streaming.bars_stream import stream_bars_atr_rsi
    from tits_spark.streaming.gap_stream import stream_gaps
    from tits_spark.streaming.holt_stream import stream_holt
    from tits_spark.streaming.hw_stream import stream_holt_winters
    from tits_spark.streaming.stoch_stream import stream_stochastic

    spark = get_spark("stream-soak", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    work = pathlib.Path(args.workdir or tempfile.mkdtemp(prefix="stream_soak_"))
    ev = (
        spark.read.parquet(f"{args.sf_dir}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
        .where(F.col("value").isNotNull())
    )
    n_rows = ev.count()
    n_keys = ev.select("key").distinct().count()
    chunks = _chunks(ev, N_CHUNKS)

    results = []

    # ---- bars + TR/ATR/RSI (ring-buffer state, the most state/key)
    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_bars_atr_rsi(
            spark, s, SCHEMA, o, c, bucket_secs=3600, max_files_per_trigger=1
        ),
        "bars",
    )
    tier = rollup_from_raw(ev, "key", "ts", "value", "1h")
    bars_all = atr_rsi(bars_from_tier(tier), n=14)
    last = ev.groupBy("key").agg(F.max("ts").alias("mx")).select(
        "key", F.expr("CAST(mx AS LONG) DIV 3600").alias("last_b")
    )
    want = (
        bars_all.join(last, "key")
        .filter(F.expr("CAST(bucket_ts AS LONG) DIV 3600") < F.col("last_b"))
        .select("key", "bucket_ts", "open", "high", "low", "close",
                "n_obs", "tr", "atr", "rsi", "n_win")
    )
    got = spark.read.parquet(out).select(
        "key", "bucket_ts", "open", "high", "low", "close",
        "n_obs", "tr", "atr", "rsi", "n_win")
    results.append(("bars_stream (OHLC+TR/ATR/RSI)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- holt (per-event emission: every input row crosses the sink)
    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_holt(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1
        ),
        "holt",
    )
    want = holt_by_key(ev).select("key", "ts", "level", "trend")
    got = spark.read.parquet(out).select("key", "ts", "level", "trend")
    results.append(("holt_stream (level/trend per event)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- gaps (1 scalar state/key; output only on threshold crossings)
    thresh = 6 * 3600.0
    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_gaps(
            spark, s, SCHEMA, o, c, thresh, max_files_per_trigger=1
        ),
        "gaps",
    )
    want = gap_intervals(ev, ["key"], "ts", thresh).select(
        "key", "gap_start", "gap_end", F.round("gap_sec", 6).alias("g"))
    got = spark.read.parquet(out).select(
        "key", "gap_start", "gap_end", F.round("gap_sec", 6).alias("g"))
    results.append(("gap_stream (gap alerts)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- stochastic bars (extrema + raw-%K rings + OBV accumulator)
    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_stochastic(
            spark, s, SCHEMA, o, c, bucket_secs=3600, max_files_per_trigger=1
        ),
        "stoch",
    )
    tier2 = rollup_from_raw(ev, "key", "ts", "value", "1h")
    st_all = stochastic(bars_from_tier(tier2), n=14, d=3)
    want = (
        st_all.join(last, "key")
        .filter(F.expr("CAST(bucket_ts AS LONG) DIV 3600") < F.col("last_b"))
        .select("key", "bucket_ts", "close", "pct_k", "pct_d", "pct_r",
                "obv", "n_win")
    )
    got = spark.read.parquet(out).select(
        "key", "bucket_ts", "close", "pct_k", "pct_d", "pct_r", "obv", "n_win")
    results.append(("stoch_stream (%K/%D/%R + OBV)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- Holt-Winters (init buffer + seasonal ring across restarts)
    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_holt_winters(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1
        ),
        "hw",
    )
    u6 = lambda col: F.floor(F.col(col) * 1e6).cast("long").alias(col)  # noqa: E731
    want = holt_winters(ev).select(
        "key", "idx", "value", u6("fitted"), u6("level"), u6("trend"),
        u6("seasonal"))
    got = spark.read.parquet(out).select(
        "key", "idx", "value", u6("fitted"), u6("level"), u6("trend"),
        u6("seasonal"))
    results.append(("hw_stream (Holt-Winters)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- Kalman (gap-aware local-level; per-event emission)
    from tits_spark.operators.kalman import kalman_local_level
    from tits_spark.streaming.kalman_stream import stream_kalman

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_kalman(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1
        ),
        "kalman",
    )
    want = kalman_local_level(ev).select(
        "key", "ts", u6("level"), u6("gain"), u6("p_var"))
    got = spark.read.parquet(out).select(
        "key", "ts", u6("level"), u6("gain"), u6("p_var"))
    results.append(("kalman_stream (gap-aware filter)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- SCD2 (run-collapse; closed-interval append contract)
    from tits_spark.operators.scd2 import scd2_intervals
    from tits_spark.streaming.scd2_stream import stream_scd2

    att = (
        spark.read.parquet(f"{args.sf_dir}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_type").alias("attr"),
        )
    )
    att_chunks = _chunks(att, N_CHUNKS)
    out, nb, nr, sec = _run_phases(
        spark, att_chunks, work,
        lambda s, o, c: stream_scd2(
            spark, s, "key string, ts timestamp, attr string", o, c,
            max_files_per_trigger=1,
        ),
        "scd2",
    )
    want = (
        scd2_intervals(att, "key", "ts", "attr")
        .filter(~F.col("is_current"))
        .select("key", "version", "attr", "valid_from", "valid_to", "n_events")
    )
    got = spark.read.parquet(out).select(
        "key", "version", "attr", "valid_from", "valid_to", "n_events")
    results.append(("scd2_stream (closed intervals)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- 1m rollup (windowed agg; watermark finalizes buckets)
    from tits_spark.streaming.rollup_stream import stream_rollup_1m

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_rollup_1m(
            spark, s, SCHEMA, o, c, key="key", watermark="0 seconds",
            max_files_per_trigger=1,
        ),
        "rollup",
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    got = spark.read.parquet(f"{out}/tier=1m").drop("bucket_date")
    want = rollup_from_raw(ev, "key", "ts", "value", "1m").filter(
        F.col("bucket_ts") + F.expr("INTERVAL 1 MINUTE") <= F.lit(max_ts)
    )
    results.append(("rollup_stream (watermarked 1m tier)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- sessionization (native session_window; open sessions in state)
    from tits_spark.operators.sessionize import session_stats_native
    from tits_spark.streaming.session_stream import stream_session_stats

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_session_stats(
            spark, s, SCHEMA, o, c, gap_seconds=1800.0,
            watermark="0 seconds", max_files_per_trigger=1,
        ),
        "sessions",
    )
    scols = ["key", "n_events", "start_ts", "end_ts"]
    want = session_stats_native(ev, gap_seconds=1800.0).filter(
        F.col("end_ts") + F.expr("INTERVAL 1800 SECONDS") <= F.lit(max_ts)
    ).select(scols)
    got = spark.read.parquet(out).select(scols)
    results.append(("session_stream (closed sessions)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- exact dedup (dropDuplicatesWithinWatermark; survivor SET
    # must equal the batch distinct set — which row of a duplicate
    # group survives is arrival-order within a micro-batch, so the
    # equality is on the deduped key set, not row identity)
    from tits_spark.streaming.dedup_stream import stream_dedup_exact

    docs = ev.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.concat_ws(" ", F.lit("u"), "key", F.round("value", 0).cast("string"))
        .alias("text"),
        "ts",
    )
    doc_chunks = _chunks(docs, N_CHUNKS)
    out, nb, nr, sec = _run_phases(
        spark, doc_chunks, work,
        lambda s, o, c: stream_dedup_exact(
            spark, s, "doc_id long, text string, ts timestamp", o, c,
            watermark="3650 days", max_files_per_trigger=1,
        ),
        "dedup",
    )
    got = spark.read.parquet(out).select("text").distinct()
    want = docs.select("text").distinct()
    n_out = spark.read.parquet(out).count()
    eq, n_got, n_want = _bitwise_equal(got, want)
    results.append(("dedup_stream (survivor text set)", nb, nr, sec,
                    eq and n_out == n_want, n_out, n_want))

    # ---- distinct registers (foreachBatch monotone max-merge table)
    from tits_spark.operators.rollup_sketch import distinct_registers
    from tits_spark.streaming.distinct_stream import stream_distinct_registers

    items = ev.select("ts", F.col("key").alias("item"))
    item_chunks = _chunks(items, N_CHUNKS)
    out, nb, nr, sec = _run_phases(
        spark, item_chunks, work,
        lambda s, o, c: stream_distinct_registers(
            spark, s, "ts timestamp, item string", o, c,
            max_files_per_trigger=1,
        ),
        "distinct",
    )
    got = spark.read.parquet(out).select("bucket_ts", "reg", "rho")
    want = distinct_registers(items, "ts", "item", "1m")
    results.append(("distinct_stream (KMV/HLL registers)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- TWA (continuous time-weighted avg; carried segment state
    # must split bucket occupancy exactly across restarts)
    from tits_spark.operators.timeweight import time_weighted_avg
    from tits_spark.streaming.twa_stream import stream_twa

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_twa(
            spark, s, SCHEMA, o, c, bucket_secs=3600,
            max_files_per_trigger=1,
        ),
        "twa",
    )
    twa_all = time_weighted_avg(ev, key_col="key", bucket_secs=3600)
    last_twa = ev.groupBy("key").agg(F.max("ts").alias("mx")).select(
        "key", F.expr("CAST(mx AS LONG) DIV 3600").alias("last_b"))
    want = (
        twa_all.join(last_twa, "key")
        .filter(F.expr("CAST(bucket_ts AS LONG) DIV 3600") < F.col("last_b"))
        .select("key", "bucket_ts", F.round("twa", 9).alias("twa"),
                F.round("covered_sec", 6).alias("covered_sec"))
    )
    got = spark.read.parquet(out).select(
        "key", "bucket_ts", F.round("twa", 9).alias("twa"),
        F.round("covered_sec", 6).alias("covered_sec"))
    results.append(("twa_stream (time-weighted avg buckets)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- realized vol (carried last-positive-print state; log-return
    # partial sums per open bucket)
    from tits_spark.operators.returns import log_returns, realized_vol
    from tits_spark.streaming.rv_stream import stream_realized_vol

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_realized_vol(
            spark, s, SCHEMA, o, c, bucket_secs=3600,
            max_files_per_trigger=1,
        ),
        "rv",
    )
    rv_all = realized_vol(log_returns(ev, "key", "ts", "value"), "1h")
    last_rv = (
        ev.filter(F.col("value") > 0)
        .groupBy("key").agg(F.max("ts").alias("mx"))
        .select("key", F.expr("CAST(mx AS LONG) DIV 3600").alias("last_b"))
    )
    rv_cols = ["key", "bucket_ts", "n_ret",
               F.round("rv", 9).alias("rv"),
               F.round("r_sum", 9).alias("r_sum"),
               F.round("r_min", 9).alias("r_min"),
               F.round("r_max", 9).alias("r_max")]
    want = (
        rv_all.join(last_rv, "key")
        .filter(F.expr("CAST(bucket_ts AS LONG) DIV 3600") < F.col("last_b"))
        .select(*rv_cols)
    )
    got = spark.read.parquet(out).select(*rv_cols)
    results.append(("rv_stream (realized vol buckets)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- rate limiter (pure-integer token bucket; a restart must not
    # refill or drain anyone's bucket)
    from tits_spark.operators.rate_limit import rate_limit_replay
    from tits_spark.streaming.rate_limit_stream import stream_rate_limit

    ev_rl = (
        spark.read.parquet(f"{args.sf_dir}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("event_id").alias("eid"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    rl_chunks = _chunks(ev_rl, N_CHUNKS)
    out, nb, nr, sec = _run_phases(
        spark, rl_chunks, work,
        lambda s, o, c: stream_rate_limit(
            spark, s, "key string, eid long, ts timestamp", o, c,
            capacity=2, rate_per_hour=1, max_files_per_trigger=1,
        ),
        "ratelimit",
    )
    want = rate_limit_replay(ev_rl, capacity=2, rate_per_hour=1)
    got = spark.read.parquet(out).select(*want.columns)
    results.append(("rate_limit_stream (token-bucket decisions)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- record highs (running-max scalar + record index; emission
    # only on new records, so most micro-batches emit nothing)
    from tits_spark.operators.olap import record_highs
    from tits_spark.streaming.records_stream import stream_record_highs

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_record_highs(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "records",
    )
    want = record_highs(ev)
    got = spark.read.parquet(out).select(*want.columns)
    results.append(("records_stream (per-key record highs)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- risk ledger (10 integer scalars; one emission per closed
    # day; the final ledger row per key must equal batch risk_ratios
    # over the closed-day prefix bit for bit, ratios included)
    from tits_spark.operators.risk_ratios import risk_ratios
    from tits_spark.streaming.risk_stream import stream_risk_ratios

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_risk_ratios(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "risk",
    )
    from pyspark.sql import Window as _W

    ledger = spark.read.parquet(out)
    got = (
        ledger.withColumn(
            "_rn",
            F.row_number().over(
                _W.partitionBy("key").orderBy(F.desc("d"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "d")
    )
    open_day = ev.groupBy("key").agg(
        F.max(
            F.floor(F.col("ts").cast("double") / 86400).cast("long")
        ).alias("_od")
    )
    closed = ev.join(open_day, "key").filter(
        F.floor(F.col("ts").cast("double") / 86400).cast("long")
        < F.col("_od")
    ).drop("_od")
    want = risk_ratios(closed, min_days=1)
    got = got.select(*want.columns)
    results.append(("risk_stream (closed-day Sortino/Omega/Calmar ledger)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- Page-Hinkley drift alarms (4 integer scalars; sequential
    # by construction, so the stream's alarm rows are bit-equal to
    # the batch replay with no closed-prefix carve-out at all)
    from tits_spark.operators.page_hinkley import page_hinkley
    from tits_spark.streaming.ph_stream import stream_page_hinkley

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_page_hinkley(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "ph",
    )
    want = page_hinkley(ev)
    got = spark.read.parquet(out).select(*want.columns)
    results.append(("ph_stream (Page-Hinkley drift alarms)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- extremal index (bounded top-k exceedance set carried as 2k
    # integers; membership is an exact order-statistic decision, so
    # the final readout must be BIT-equal to batch on the int surface)
    from pyspark.sql import Window as W

    from tits_spark.operators.extremal import extremal_index
    from tits_spark.streaming.extremal_stream import stream_extremal_index

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_extremal_index(
            spark, s, SCHEMA, o, c, k=30, max_files_per_trigger=1,
        ),
        "extremal",
    )
    want = extremal_index(ev, k=30).select(
        "key", "n_exc", "u_cents", "sum_t", "sum_t2")
    wlast = W.partitionBy("key").orderBy(F.desc("n_seen"))
    got = (
        spark.read.parquet(out)
        .withColumn("_r", F.row_number().over(wlast))
        .filter((F.col("_r") == 1) & (F.col("n_exc") == 30))
        .select("key", "n_exc", "u_cents", "sum_t", "sum_t2")
    )
    results.append(("extremal_stream (top-k exceedance moments)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- transfer entropy (two-sided LOCF grid as 29 carried
    # integers; the 16-cell lattice must be BIT-exact after restarts —
    # a single miscounted gap bucket shows up as a cell diff)
    from tits_spark.operators.transfer_entropy import transfer_entropy
    from tits_spark.streaming.te_stream import stream_transfer_entropy

    ev_te = (
        spark.read.parquet(f"{args.sf_dir}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("value").alias("value"),
            F.when(
                F.col("event_type").isin("click", "view"), F.lit("x")
            ).otherwise(F.lit("y")).alias("series"),
        )
    )
    sentinel = ev_te.groupBy("key").agg(F.max("ts").alias("mx")).select(
        "key",
        (F.col("mx") + F.expr("INTERVAL 3600 SECONDS")).alias("ts"),
        F.lit(1.0).alias("value"),
        F.lit("x").alias("series"),
    )
    te_chunks = _chunks(ev_te, N_CHUNKS)
    te_chunks[-1] = te_chunks[-1].unionByName(sentinel)
    te_schema = "key string, ts timestamp, value double, series string"
    out, nb, nr, sec = _run_phases(
        spark, te_chunks, work,
        lambda s, o, c: stream_transfer_entropy(
            spark, s, te_schema, o, c, bucket_secs=3600,
            max_files_per_trigger=1,
        ),
        "te",
    )
    te_cols = ["key", "n_obs", *[f"m{i}" for i in range(16)]]
    want = transfer_entropy(ev_te, min_points=1, include_cells=True).select(
        *te_cols, F.col("te_xy"), F.col("te_yx"))
    snaps = spark.read.parquet(out).filter(F.col("n_obs") >= 1)
    last = snaps.groupBy("key").agg(F.max("n_closed").alias("n_closed"))
    got = snaps.join(last, ["key", "n_closed"]).select(
        *te_cols,
        (F.round("te_xy", 6) + F.lit(0.0)).alias("te_xy"),
        (F.round("te_yx", 6) + F.lit(0.0)).alias("te_yx"),
    )
    results.append(("te_stream (16-cell TE lattice + running TE)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- threshold crossings (ONE carried (ts, value) pair per key;
    # a restart that loses or duplicates it emits a phantom/missing
    # alert exactly at a phase boundary)
    from tits_spark.operators.windows import threshold_crossings
    from tits_spark.streaming.crossing_stream import stream_crossings

    level = 100.0
    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_crossings(
            spark, s, SCHEMA, o, c, level=level, max_files_per_trigger=1
        ),
        "crossing",
    )
    want = threshold_crossings(ev, ["key"], "ts", "value", level).select(
        "key", "ts", "value", "prev_value", "direction")
    got = spark.read.parquet(out).select(
        "key", "ts", "value", "prev_value", "direction")
    results.append(("crossing_stream (threshold alerts)", nb, nr, sec,
                    *_bitwise_equal(got, want)))

    # ---- time-decayed EWMA (two decayed floats (s, c) anchored at the
    # last event time; per-event emission — every input row crosses the
    # sink, so any restart drift shows on the very next row)
    from tits_spark.operators.sessionize import ewma_irregular
    from tits_spark.streaming.ewma_stream import stream_ewma

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_ewma(
            spark, s, SCHEMA, o, c, tau_seconds=86400.0,
            max_files_per_trigger=1,
        ),
        "ewma",
    )
    # batch computes the SAME quantity as a ratio of prefix sums (a
    # different but algebraically equal float tree): compare with a
    # TRUE |diff| <= 1e-9 tolerance join, NOT round-then-hash — a value
    # sitting exactly on a rounding boundary (observed: agreement to
    # 2e-13 but one row at a half-way 9th decimal) would flip a rounded
    # compare while being equal under any honest tolerance
    want = ewma_irregular(ev, "key", "ts", "value", tau_seconds=86400.0).select(
        "key", "ts", F.col("ewma").alias("w"))
    got = spark.read.parquet(out).select("key", "ts", F.col("ewma").alias("g"))
    n_got, n_want = got.count(), want.count()
    joined = got.join(want, ["key", "ts"])
    n_match = joined.filter(F.abs(F.col("g") - F.col("w")) <= 1e-9).count()
    eq = n_got == n_want == joined.count() == n_match
    results.append(("ewma_stream (time-decayed EWMA, 1e-9 tolerance)", nb, nr,
                    sec, eq, n_got, n_want))

    # ---- counter rate (prev-sample 6-tuple + open-bucket partials;
    # finalized buckets must be emitted exactly once across restarts)
    from tits_spark.operators.timeweight import counter_rate
    from tits_spark.streaming.counter_stream import stream_counter_rate

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_counter_rate(
            spark, s, SCHEMA, o, c, bucket_secs=3600,
            max_files_per_trigger=1,
        ),
        "counter",
    )
    cr = counter_rate(ev, key_col="key", bucket_secs=3600)
    lastb = ev.groupBy("key").agg(F.max("ts").alias("mx")).select(
        "key", F.expr("CAST(mx AS LONG) DIV 3600").alias("last_b"))
    ccols = ["key", "bucket_ts",
             F.round("increase", 9).alias("increase"),
             F.round("rate_per_sec", 9).alias("rate_per_sec"),
             "n_samples", "n_resets"]
    want = (
        cr.join(lastb, "key")
        .filter(F.expr("CAST(bucket_ts AS LONG) DIV 3600") < F.col("last_b"))
        .select(*ccols)
    )
    got = spark.read.parquet(out).select(*ccols)
    results.append(("counter_stream (finalized counter buckets)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- histogram deltas (foreachBatch per-batch_id partition
    # overwrite: additive merges are NOT replay-idempotent, so the
    # restart protocol exercises the exactly-once construction itself)
    from tits_spark.operators.quantiles import value_histogram
    from tits_spark.streaming.hist_stream import read_histogram, stream_histogram

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_histogram(
            spark, s, "ts timestamp, value double", o, c,
            tier_unit="minute", max_files_per_trigger=1,
        ),
        "hist",
    )
    want = value_histogram(
        ev.select(F.date_trunc("minute", "ts").alias("bucket_ts"), "value"),
        ["bucket_ts"],
    ).select("bucket_ts", "q", "cnt")
    got = read_histogram(spark, out).select("bucket_ts", "q", "cnt")
    results.append(("hist_stream (per-bucket histogram deltas)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- HHI share deltas (the CROSS-KEY continuous aggregate: a
    # replayed micro-batch would tilt a bucket through a different
    # key's share; same per-batch_id overwrite construction, and the
    # reader goes through the batch operator's own finalize stage)
    from tits_spark.operators.concentration import hhi_per_bucket
    from tits_spark.streaming.hhi_stream import read_hhi, stream_hhi

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_hhi(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "hhi",
    )
    want = hhi_per_bucket(ev)
    got = read_hhi(spark, out)
    results.append(("hhi_stream (cross-key bucket concentration)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- decontamination gate (stateless foreachBatch with the same
    # per-batch_id overwrite; restarts must neither drop nor duplicate
    # survivors)
    from tits_spark.operators.decontam import decontaminate
    from tits_spark.streaming.decontam_stream import stream_decontaminate

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
        "doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == F.lit(0))
    doc_chunks = [
        docs.filter(F.col("doc_id") % N_CHUNKS == F.lit(i))
        for i in range(N_CHUNKS)
    ]
    out, nb, nr, sec = _run_phases(
        spark, doc_chunks, work,
        lambda s, o, c: stream_decontaminate(
            spark, s, "doc_id long, text string", bench, o, c, n=8,
            max_files_per_trigger=1,
        ),
        "decontam",
    )
    want = decontaminate(docs, bench, n=8).select("doc_id", "text")
    got = spark.read.parquet(out).select("doc_id", "text")
    results.append(("decontam_stream (ingest decontamination gate)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- bounded tick books (W1/W4: the reference's slide-on-full +
    # fire-at-EDG + crop-after-fire; state = the full (t, v) buffer per
    # key, compared against an independent pure-pandas replay of the
    # reference cadence over the full history)
    import numpy as np
    import pandas as pd

    from tits_spark.streaming import _run
    from tits_spark.streaming.book_state import OUTPUT_SCHEMA as BOOK_SCHEMA
    from tits_spark.streaming.book_state import book_triggers

    bmax, bedg = 64, 49  # 3/4 * 64 + 1 — fires ~4x per key at this sf
    bt_chunks = [
        c.select("key", F.col("ts").cast("double").alias("t"),
                 F.col("value").alias("v"))
        for c in chunks
    ]

    def _book_stream(s, o, c):
        ticks = _run.source(spark, s, "key string, t double, v double", 1)
        return _run.to_parquet(
            book_triggers(ticks, max_ticks=bmax, edg_ticks=bedg), o, c
        )

    out, nb, nr, sec = _run_phases(spark, bt_chunks, work, _book_stream, "book")
    pdf = (
        ev.select("key", F.col("ts").cast("double").alias("t"),
                  F.col("value").alias("v"))
        .toPandas().sort_values(["key", "t", "v"], kind="stable")
    )
    fired_rows = []
    for k, g in pdf.groupby("key", sort=False):
        t: list = []
        v: list = []
        for tt, vv in zip(g["t"].to_numpy(), g["v"].to_numpy()):
            if len(t) >= bmax:
                t, v = t[-(bmax // 2):], v[-(bmax // 2):]
            t.append(float(tt))
            v.append(float(vv))
            if len(t) == bedg:
                arr = np.asarray(v)
                fired_rows.append((k, float(tt), len(t), float(arr.mean()),
                                   float(arr.min()), float(arr.max())))
                t, v = t[-(bmax // 2):], v[-(bmax // 2):]
    want = spark.createDataFrame(
        pd.DataFrame(fired_rows, columns=[
            "key", "fire_t", "n", "v_mean", "v_min", "v_max"]),
        schema=BOOK_SCHEMA,
    )
    got = spark.read.parquet(out).select(
        "key", "fire_t", "n", "v_mean", "v_min", "v_max")
    results.append(("book_state (slide/fire/crop tick books vs pandas replay)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- streaming guess_lag (foreachBatch book table + per-batch
    # kernel fire: restart-INVARIANCE — the phased run with 2 restarts
    # must emit byte-identical results to one uninterrupted run over
    # the same micro-batch boundaries)
    from tits_spark.datagen import generate_quotes
    from tits_spark.streaming.guess_lag_stream import stream_guess_lag

    quotes = generate_quotes(spark, n_ticks=1500, seed=42)
    gl_phases = (7, 14, 20)
    gl_chunks = _chunks(quotes, gl_phases[-1])
    gl_books = str(work / "gl_books")
    out, nb, nr, sec = _run_phases(
        spark, gl_chunks, work,
        lambda s, o, c: stream_guess_lag(
            spark, s, books_path=gl_books, results_path=o, checkpoint=c,
            max_ticks=256, nlags=16, tau=0.01, max_files_per_trigger=1,
        ),
        "gl", phases=gl_phases,
    )
    gl2_out = str(work / "gl2_out")
    q = stream_guess_lag(
        spark, str(work / "gl_src"), books_path=str(work / "gl2_books"),
        results_path=gl2_out, checkpoint=str(work / "gl2_ckpt"),
        max_ticks=256, nlags=16, tau=0.01, max_files_per_trigger=1,
    )
    q.awaitTermination(1200)
    got = spark.read.parquet(out)
    want = spark.read.parquet(gl2_out).select(*got.columns)
    results.append(("guess_lag_stream (phased+restarted vs uninterrupted run)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- Croston/SBA (twin #26: open-bucket int64 demand pivot + the
    # two SES floats; the recursion tree is identical batch/stream so
    # the final state must match bit-for-bit on the closed prefix)
    from tits_spark.functions.exprs import epoch_us, floordiv
    from tits_spark.operators.croston import croston_sba
    from tits_spark.streaming.croston_stream import stream_croston

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_croston(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "croston",
    )
    bcol = floordiv(epoch_us("ts"), 3600 * 1_000_000)
    dem = ev.filter(F.round(F.col("value") * 100) > 0).withColumn("b", bcol)
    last_b = dem.groupBy("key").agg(F.max("b").alias("_mb"))
    closed = ev.withColumn("b", bcol).join(last_b, "key").filter(
        F.col("b") < F.col("_mb")
    )
    want = croston_sba(closed.select("key", "ts", "value")).select(
        "key", "n_dem", "z_hat", "p_hat"
    )
    wlast = W.partitionBy("key").orderBy(F.desc("b"))
    got = (
        spark.read.parquet(out)
        .withColumn("_r", F.row_number().over(wlast))
        .filter((F.col("_r") == 1) & (F.col("n_dem") >= 3))
        .select(
            "key", "n_dem",
            F.round("z", 6).alias("z_hat"), F.round("p", 6).alias("p_hat"),
        )
    )
    results.append(("croston_stream (intermittent-demand SES pair)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- GARCH(1,1) (twin #27: prev-tick + conditional variance +
    # z^2 accumulator; a lost prev-tick fabricates a phantom return
    # whose squared innovation permanently shifts the variance path)
    from tits_spark.operators.garch import garch_filter
    from tits_spark.streaming.garch_stream import stream_garch

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_garch(
            spark, s, SCHEMA, o, c, init_var=250000.0,
            max_files_per_trigger=1,
        ),
        "garch",
    )
    want = garch_filter(ev, init_var=250000.0).select(
        "key", "n_ret", "s_last", "z2_mean"
    )
    wlast = W.partitionBy("key").orderBy(F.desc("n_ret"))
    got = (
        spark.read.parquet(out)
        .withColumn("_r", F.row_number().over(wlast))
        .filter("_r = 1")
        .select(
            "key", "n_ret",
            F.round("s", 2).alias("s_last"),
            F.round(F.col("z2") / F.col("n_ret"), 6).alias("z2_mean"),
        )
    )
    results.append(("garch_stream (conditional-variance filter)", nb, nr,
                    sec, *_bitwise_equal(got, want)))

    # ---- chi-square contingency monitor (twin #28: the per-key
    # TYPE x HOUR lattice — a cross-CATEGORY continuous aggregate; a
    # replayed micro-batch corrupts the statistic through the
    # MARGINALS, invisible in any single cell; same per-batch_id
    # delta construction, reader goes through chi2_finalize)
    from tits_spark.operators.mutual_info import chi2_independence
    from tits_spark.streaming.contingency_stream import (
        read_chi2,
        stream_contingency,
    )

    evc = (
        spark.read.parquet(f"{args.sf_dir}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
        )
    )
    cat_chunks = _chunks(evc, N_CHUNKS)
    out, nb, nr, sec = _run_phases(
        spark, cat_chunks, work,
        lambda s, o, c: stream_contingency(
            spark, s, "key string, ts timestamp, event_type string",
            o, c, max_files_per_trigger=1,
        ),
        "contingency",
    )
    want = chi2_independence(evc)
    got = read_chi2(spark, out)
    results.append(("contingency_stream (chi-square type x hour lattice)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- Benford conformance monitor (twin #31: the per-key
    # first-digit count lattice — same per-batch_id delta
    # construction as contingency/hist; a replayed micro-batch
    # corrupts chi2/MAD through a different digit's count; reader
    # goes through benford_finalize)
    from tits_spark.operators.benford import benford_audit
    from tits_spark.streaming.benford_stream import (
        read_report,
        stream_benford,
    )

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_benford(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "benford",
    )
    want = benford_audit(ev)
    got = read_report(spark, out)
    results.append(("benford_stream (first-digit conformance lattice)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- Western Electric zone rules (twin #32: Phase-I baseline
    # integers + six bit-packed flag rings; CL/sigma recomputed from
    # the exact (s, mr) pair each call so stream and batch branch on
    # bit-identical doubles; a replayed or dropped micro-batch shifts
    # every downstream ring state and the alert set diverges)
    from tits_spark.operators.western_electric import (
        western_electric_ticks,
    )
    from tits_spark.streaming.we_stream import stream_western_electric

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_western_electric(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "we",
    )
    want = western_electric_ticks(ev)
    got = spark.read.parquet(out).select(*want.columns)
    results.append(("we_stream (Western Electric zone-rule alerts)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- weekend-rate prefix ledger (twin #33: FIVE integer scalars
    # per key — lo/cur/cc/c1/c2; day-close emissions through the
    # identical raw-double tree as batch, theta's no-rounding
    # discipline; a replayed micro-batch double-counts the open day
    # and every later prefix row diverges)
    from tits_spark.operators.ratecomp import weekend_rate_prefix
    from tits_spark.streaming.rate_stream import stream_weekend_rate

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_weekend_rate(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "rate",
    )
    want = weekend_rate_prefix(ev)
    got = spark.read.parquet(out).select(*want.columns)
    results.append(("rate_stream (closed-day weekend-rate ledger)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    # ---- Poisson CUSUM volume monitor (twin #34: SIX integer
    # scalars per key; the family is integer-only end to end — S
    # cleared by the baseline length — so bit-equality needs no float
    # argument; gap days close inside the rollover loop and a
    # replayed micro-batch inflates the open-day count, corrupting
    # every later S)
    from tits_spark.operators.changepoint import poisson_cusum_daily
    from tits_spark.streaming.pcusum_stream import stream_poisson_cusum

    out, nb, nr, sec = _run_phases(
        spark, chunks, work,
        lambda s, o, c: stream_poisson_cusum(
            spark, s, SCHEMA, o, c, max_files_per_trigger=1,
        ),
        "pcusum",
    )
    want = poisson_cusum_daily(ev)
    got = spark.read.parquet(out).select(*want.columns)
    results.append(("pcusum_stream (Poisson CUSUM volume ledger)",
                    nb, nr, sec, *_bitwise_equal(got, want)))

    rows = "\n".join(
        f"| {name} | {nb} | {nr} | {sec:.1f} | {n_got:,} | "
        f"{'**bit-equal**' if eq else 'MISMATCH'} |"
        for (name, nb, nr, sec, eq, n_got, _n_want) in results
    )
    md = f"""# BENCH/STREAM_SOAK — many-microbatch restart soak vs batch

Generated {dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")} by
`python tools/stream_soak.py --sf-dir {args.sf_dir}`.

Input: the sf0.1 events table as a (key, ts, value) stream —
{n_rows:,} rows, {n_keys} keys — split into {N_CHUNKS} global
time-quantile chunk files (per-key cross-batch order preserved, the
streams' documented contract). Each stream ran THREE phases over one
checkpoint (a fresh query per phase = a restart with recovered state)
with `maxFilesPerTrigger=1`, so the phases drained as
{PHASES[0]} + {PHASES[1] - PHASES[0]} + {PHASES[2] - PHASES[1]}
separate committed micro-batches. After the last phase the union of
all emissions is compared against the batch operator over the FULL
history with `exceptAll` in both directions — bit equality, same gate
as the unit tests, 50 micro-batches and 2 mid-stream restarts deep.

| stream | committed micro-batches | mid-stream restarts | wall sec | emitted rows | vs batch |
|---|---|---|---|---|---|
{rows}

The streams were chosen for maximal state stress: bars_stream and
stoch_stream carry OHLC partials + (n-1)-deep ring buffers per key
(stoch adds the raw-%K ring and the OBV accumulator); holt_stream and
hw_stream emit EVERY input row (hw additionally buffers each key's
two-period INIT across restarts and rotates a seasonal ring);
gap_stream's single-scalar state must survive every restart to avoid
phantom gaps at phase boundaries; kalman_stream's carried
(prev_us, level, variance) triple must replay the identical IEEE
operation tree across restarts; scd2_stream (a key/ts/attr stream)
must keep each key's OPEN version in state across restarts and emit
only closed intervals — batch equality is against the batch operator
minus its per-key is_current row.

Round-5 additions: rollup_stream's windowed 1m aggregation must
finalize each bucket exactly once under the watermark with partials
carried across restarts (compared against the batch tier restricted
to closed buckets); session_stream keeps OPEN session_window state
across restarts and merges events into the right session (closed
sessions vs batch sessionize); dedup_stream's
dropDuplicatesWithinWatermark seen-hash state must survive restarts
so no duplicate slips through a phase boundary (equality is on the
survivor TEXT SET plus survivor count — which row of a duplicate
group wins is micro-batch arrival order by construction);
distinct_stream's foreachBatch register table must stay monotone and
replay-idempotent across restarts (bit-equal registers vs batch).

Round-5 continuation additions: twa_stream's carried segment state
must split bucket occupancy EXACTLY at phase boundaries (a dropped or
double-counted covered second shows up as a twa/covered_sec diff);
rv_stream carries the last positive print across restarts so the
first post-restart log-return spans the boundary; rate_limit_stream's
two-integer token bucket must neither refill nor drain on restart (a
single phantom micro-token flips an admit/deny decision — pure
integer state, compared bit for bit); records_stream emits ONLY on
new per-key maxima, so most micro-batches emit nothing and the
running max + record index must survive the quiet restarts;
te_stream carries the two-sided LOCF bucket grid as 29 integers
(open-bucket pivots, last two closed grid values, last move bits,
16 lattice cells) — the cell counts are compared BIT-exact against
the batch operator's include_cells surface after a sentinel tick
closes the final bucket, so a single gap bucket miscounted across a
restart fails the gate.

Round-5 final additions — every streaming module in the package is
now in the soak: crossing_stream and counter_stream carry the
prev-sample state whose loss at a phase boundary emits a phantom or
missing alert/bucket; ewma_stream's two decayed floats are compared
by a true |diff| <= 1e-9 tolerance join (the batch twin evaluates the
same quantity as a ratio of prefix sums — an algebraically equal but
differently associated float tree, observed agreement ~2e-13; a
round-then-hash compare would flip on a value sitting exactly on a
rounding half-way point, which is a compare artifact, not state
divergence); hist_stream and decontam_stream
exercise the per-batch_id partition-overwrite exactly-once
construction itself (additive histogram merges are NOT
replay-idempotent, so the restarts probe precisely the failure the
design defends against); book_state (the reference's slide-on-full /
fire-at-EDG / crop-after-fire tick books, W1/W4) is compared against
an independent pure-pandas replay of the reference cadence over the
full history; and guess_lag_stream — the foreachBatch "batch engine
run incrementally" job with a persisted book table — is checked for
restart-INVARIANCE: the phased run with 2 restarts must emit
byte-identical results to one uninterrupted run over the same
micro-batch boundaries (20 quote chunks, planted 30/70 ms lags).

extremal_stream (twin #24) carries the top-k exceedance set as 2k+1
integers per key; membership is a pure order-statistic decision over
exact cents, so after any prefix of the stream — including phases
that deliver the LARGEST values mid-stream — the final (n_exc,
u_cents, sum_t, sum_t2) readout must be bit-equal to the batch
operator's integer surface.

hhi_stream (twin #25) is the first CROSS-KEY state shape in the soak:
per-bucket concentration mixes every key's share, so a dropped or
replayed micro-batch corrupts a bucket through a DIFFERENT key than
the one that moved — the restarts probe the per-batch_id delta
construction against exactly that, and the reader derives HHI through
the batch operator's own finalize stage over the merged exact integer
totals, so the readout is bit-equal to batch by construction.

croston_stream (twin #26) carries the open hourly demand bucket as an
exact int64 pivot plus the two Croston SES floats (z, p) and the
inter-demand anchor; a restart that loses the open-bucket partial
under-counts the NEXT demand, and a phantom replay double-counts it —
the compared surface is the final recursion state over the closed
prefix, where the batch operator runs the identical float64 update
tree, so agreement is bit-for-bit (round-6 on both sides is the same
double rounded once).

garch_stream (twin #27) is the same class with a harder failure mode:
its state couples the previous TICK (not bucket) to a variance
recursion, so a restart that loses prev_c fabricates a phantom return
whose squared innovation shifts sigma2 for every later row; the
batch comparison uses the causal init_var form (the full-sample var0
looks ahead and is deliberately not streamed).
"""
    (REPO / "BENCH" / "STREAM_SOAK.md").write_text(md)
    print(md)
    if not all(r[4] for r in results):
        raise SystemExit(1)
    if args.workdir is None:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
