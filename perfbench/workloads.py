"""The benchmark's three workloads.

Each is one client in a closed loop: the next operation is issued when
the previous one has returned. A workload has

- ``prepare()``: builds its inputs with ``gen`` before Spark starts;
- ``setup()``: builds the state its operations need and runs warm-up
  operations, all inside the ``setup_s`` window;
- ``ops``: a fixed, seeded sequence of operations; the timed phase runs
  them in order;
- ``run_op(i, op)``: one operation, returning ``(work units, latency s)``;
- ``gate()``: correctness checks after the timed phase, returning the
  indices of operations whose outputs were wrong;
- ``layer_metrics(tracer)``: the counters of the traced run that are
  not span counters.

Engine functions are always called through their module (``lineage.
incremental_rollup``, not a bare name), so the traced run's wrappers see
every call.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle

def _us(col: str):
    """Epoch microseconds of a timestamp column, for exact comparison."""
    from pyspark.sql import functions as F

    return F.unix_micros(F.col(col).cast("timestamp"))


def _ts_us(table) -> np.ndarray:
    return table.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)


class Workload:
    name = ""
    min_ops = 1

    def __init__(self, run, seed: int):
        self.run = run
        self.seed = seed
        self.spark = None
        self.tracer = None
        self.digests: dict[str, str] = {}

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {}


# ------------------------------------------------------------ ingest


class Ingest(Workload):
    """Replays the transcripts one UTC day at a time. An operation lands
    the day's turns as a parquet file, runs the incremental rollup
    (committed-set read, day scan, 1m/1h/1d tiers, lineage rows) and
    writes the day's Gorilla blocks. Its latency is freshness: from the
    file landing to the last commit."""

    name = "ingest"
    min_ops = 3
    n_days = 32
    convs_per_day = 300
    warmup_days = 1
    gate_days = 1

    def prepare(self) -> None:
        self.table = gen.transcripts(self.seed, self.n_days, self.convs_per_day)
        self.bounds = gen.day_bounds(self.table, self.n_days)
        self.digests["transcripts"] = gen.digest(self.table)
        self.landing = self.run.sub("landing")
        self.tiers = self.run.sub("tiers")
        self.metrics_log = self.run.sub("metrics")
        self.blocks = self.run.sub("blocks")
        os.makedirs(self.landing)
        self.ops = list(range(self.warmup_days, self.n_days))
        self.done: list[int] = []

    def _slice(self, day: int):
        lo, hi = int(self.bounds[day]), int(self.bounds[day + 1])
        return self.table.slice(lo, hi - lo)

    def _land(self, day: int) -> tuple[str, int]:
        part = self._slice(day)
        path = os.path.join(self.landing, f"d{day:03d}.parquet")
        pq.write_table(part, path)
        return path, part.num_rows

    def _commit(self, day: int, path: str) -> None:
        from pyspark.sql import functions as F
        from tits_spark import lineage
        from tits_spark.compression import gorilla

        raw = self.spark.read.parquet(self.landing).select(
            "conv_id", "ts", F.length("text").cast("double").alias("value")
        )
        lineage.incremental_rollup(
            self.spark, raw, self.tiers, self.metrics_log, job_id=f"day{day:03d}"
        )
        with self.span("gorilla.compress"):
            points = self.spark.read.parquet(path).select(
                F.col("conv_id").alias("key"), "ts",
                F.length("text").cast("double").alias("value"),
            )
            gorilla.compress_partitions(points).write.mode("append") \
                .partitionBy("day").parquet(self.blocks)

    def setup(self) -> None:
        for day in range(self.warmup_days):
            path, _ = self._land(day)
            self._commit(day, path)

    def run_op(self, i: int, day: int) -> tuple[int, float]:
        path, rows = self._land(day)
        landed = time.perf_counter()
        self._commit(day, path)
        self.done.append(day)
        return rows, time.perf_counter() - landed

    # -- correctness

    def _part(self, day: int) -> str:
        return (dt.date(2026, 1, 1) + dt.timedelta(days=day)).isoformat()

    def gate(self) -> set[int]:
        from pyspark.sql import functions as F
        from tits_spark import lineage
        from tits_spark.compression import gorilla

        bad: set[int] = set()
        index = {day: i for i, day in enumerate(self.done)}
        checks = {
            (r["stage"], r["part"]): r["match"]
            for r in lineage.verify_lineage(
                self.spark, self.tiers, self.metrics_log).collect()
        }
        n_obs = {}
        for tier in oracle.TIER_US:
            for r in (
                self.spark.read.parquet(f"{self.tiers}/tier={tier}")
                .groupBy(F.col("bucket_date").cast("string").alias("d"))
                .agg(F.sum("n_obs").alias("n")).collect()
            ):
                n_obs[(tier, r["d"])] = r["n"]
        for day, i in index.items():
            part = self._part(day)
            want = int(self.bounds[day + 1] - self.bounds[day])
            for tier in oracle.TIER_US:
                if checks.get((f"tier_{tier}", part)) is not True \
                        or n_obs.get((tier, part)) != want:
                    bad.add(i)

        rng = np.random.default_rng([self.seed, 3])
        sampled = rng.choice(self.done, size=min(self.gate_days, len(self.done)), replace=False)
        for day in sorted(int(d) for d in sampled):
            part = self._slice(day)
            key = part.column("conv_id").to_numpy(zero_copy_only=False)
            ts = _ts_us(part)
            val = pc.utf8_length(part.column("text")).to_numpy().astype(np.float64)
            for tier in oracle.TIER_US:
                got = (
                    self.spark.read.parquet(f"{self.tiers}/tier={tier}")
                    .where(F.col("bucket_date") == F.lit(self._part(day)).cast("date"))
                    .select("key", _us("bucket_ts").alias("b"), "n_obs", "v_sum",
                            "v_sumsq", "v_min", "v_max", "v_first", "v_last",
                            _us("first_ts").alias("first_ts"),
                            _us("last_ts").alias("last_ts"))
                    .toPandas()
                )
                if not oracle.same(got, oracle.tier_rows(key, ts, val, tier)):
                    bad.add(index[day])
            blocks = (
                self.spark.read.parquet(self.blocks)
                .where(F.col("day") == F.lit(self._part(day)).cast("date"))
                .select("key", "n", "block").toPandas()
            )
            keys = np.unique(key)
            if len(blocks) != len(keys):
                bad.add(index[day])
                continue
            pick = set(rng.choice(keys, size=min(20, len(keys)), replace=False))
            for r in blocks.itertuples():
                if r.key not in pick:
                    continue
                m = key == r.key
                got_ts, got_v = gorilla.gorilla_decode(bytes(r.block))
                if not (np.array_equal(got_ts, ts[m])
                        and np.array_equal(got_v.view(np.int64), val[m].view(np.int64))):
                    bad.add(index[day])
        return bad

    def layer_metrics(self, tracer) -> dict[str, float]:
        from pyspark.sql import functions as F

        days = max(len(self.done), 1)
        files = [
            p for p in glob.glob(f"{self.tiers}/tier=*/bucket_date=*/*.parquet")
            if any(f"bucket_date={self._part(d)}" in p for d in self.done)
        ]
        blk = (
            self.spark.read.parquet(self.blocks)
            .where(F.col("day").cast("string").isin([self._part(d) for d in self.done]))
            .agg(F.sum(F.length("block")).alias("b"), F.sum("n").alias("n"))
            .first()
        )
        rollup = tracer.spans("lineage.incremental_rollup")
        io_children = ("table_io.write_tier", "table_io.append_metrics")
        self_ms = [
            s.ms - sum(c.ms for c in s.subtree() if c.name in io_children)
            for s in rollup
        ]
        writes = max(len(tracer.spans("table_io.write_tier")), 1)
        return {
            "lineage.incremental_rollup.self_ms": statistics.fmean(self_ms) if self_ms else 0.0,
            "table_io.write_tier.files": len(files) / writes,
            "table_io.metrics_log_files": len(
                glob.glob(f"{self.metrics_log}/*.parquet")) / (days + self.warmup_days),
            "gorilla.bytes_per_point": (blk["b"] or 0) / max(blk["n"] or 0, 1),
        }


# ------------------------------------------------------------ dashboard


class Dashboard(Workload):
    """Range reads over the tiers built in setup. Each query goes through
    ``rollup.read_resolution`` for 1 to 200 keys; the mix of spans and
    target resolutions routes queries to the 1m, 1h and 1d tiers, and
    some add LOCF or linear gap-fill or M4 downsampling. Every query
    collects its result to the driver."""

    name = "dashboard"
    min_ops = 20
    n_days = 14
    convs_per_day = 200
    n_queries = 400
    #: the query mix, cycled: 11 of 20 plain, 3 each gap-filled or
    #: downsampled; tiers and key counts cycle on their own periods, so
    #: every seed runs the same mix and only ranges and keys differ
    mix = ("plain", "locf", "plain", "m4", "plain", "interp", "plain",
           "plain", "locf", "plain", "m4", "plain", "interp", "plain",
           "plain", "locf", "plain", "m4", "interp", "plain")
    tier_cycle = ("1m", "1h", "1d")
    key_ladder = (1, 3, 10, 30, 60, 120, 200)

    def prepare(self) -> None:
        table = gen.transcripts(self.seed, self.n_days, self.convs_per_day)
        self.digests["transcripts"] = gen.digest(table)
        self.landing = self.run.sub("landing")
        self.tiers = self.run.sub("tiers")
        self.metrics_log = self.run.sub("metrics")
        os.makedirs(self.landing)
        bounds = gen.day_bounds(table, self.n_days)
        for d in range(self.n_days):
            lo, hi = int(bounds[d]), int(bounds[d + 1])
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(self.landing, f"d{d:03d}.parquet"))
        self.key = table.column("conv_id").to_numpy(zero_copy_only=False)
        self.ts = _ts_us(table)
        self.val = pc.utf8_length(table.column("text")).to_numpy().astype(np.float64)
        # per conversation: first and last turn time, for key choice
        conv = pd.DataFrame({"key": self.key, "ts": self.ts}).groupby("key")["ts"]
        self.conv_lo, self.conv_hi = conv.min(), conv.max()
        rng = np.random.default_rng([self.seed, 4])
        self.warmup = [
            self._query(rng, kind, tier, 30)
            for kind, tier in (("plain", "1m"), ("locf", "1h"), ("interp", "1d"), ("m4", "1m"))
        ]
        self.ops = [
            self._query(rng, self.mix[i % len(self.mix)],
                        self.tier_cycle[i % len(self.tier_cycle)],
                        self.key_ladder[i % len(self.key_ladder)])
            for i in range(self.n_queries)
        ]
        self.warm_out: list[pd.DataFrame] = []
        self.kept: dict[int, pd.DataFrame] = {}
        self.spine_rows: list[int] = []

    def _query(self, rng, kind: str, tier: str, n_keys: int) -> dict:
        # (span seconds, target points): choose_tier routes the range to
        # exactly ``tier``
        span_s, target = {
            "1m": (int(rng.integers(30, 241)) * 60, 30),
            "1h": (int(rng.integers(26, 97)) * 3600, 24),
            "1d": (int(rng.integers(8, 13)) * 86400, 7),
        }[tier]
        minute = 60_000_000
        room = self.n_days * gen.DAY_US - span_s * 1_000_000
        lo_us = gen.EPOCH_US + int(rng.integers(0, room // minute)) * minute
        hi_us = lo_us + span_s * 1_000_000
        live = (self.conv_lo.to_numpy() < hi_us) & (self.conv_hi.to_numpy() >= lo_us)
        active = np.asarray(self.conv_lo.index[live] if live.any() else self.conv_lo.index)
        keys = rng.choice(active, size=min(n_keys, len(active)), replace=False)
        return {"kind": kind, "tier": tier, "lo": lo_us, "hi": hi_us,
                "target": target, "keys": sorted(keys.tolist())}

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from tits_spark import lineage

        raw = self.spark.read.parquet(self.landing).select(
            "conv_id", "ts", F.length("text").cast("double").alias("value")
        )
        lineage.incremental_rollup(self.spark, raw, self.tiers, self.metrics_log)
        self.warm_out = [self._execute(q) for q in self.warmup]

    def _execute(self, q: dict) -> pd.DataFrame:
        from pyspark.sql import functions as F
        from tits_spark.operators import gapfill, m4, rollup

        start = dt.datetime.fromtimestamp(q["lo"] / 1e6, dt.timezone.utc)
        end = dt.datetime.fromtimestamp(q["hi"] / 1e6, dt.timezone.utc)
        tier = rollup.choose_tier(start, end, q["target"])
        if tier != q["tier"]:
            raise RuntimeError(f"query routed to tier {tier}, expected {q['tier']}")
        df = rollup.read_resolution(self.spark, self.tiers, start, end,
                                    target_points=q["target"])
        df = df.where(F.col("key").isin(q["keys"]))
        kind = q["kind"]
        if kind == "plain":
            with self.span("rollup.collect"):
                return df.select(
                    "key", _us("bucket_ts").alias("b"), *oracle.TIER_COLS[2:9],
                    _us("first_ts").alias("first_ts"), _us("last_ts").alias("last_ts"),
                    "v_mean", "v_var",
                ).toPandas()
        if kind in ("locf", "interp"):
            fill = gapfill.gapfill_locf if kind == "locf" else gapfill.gapfill_interp
            with self.span(f"gapfill.{kind}"):
                return fill(df, tier, "v_last").select(
                    "key", _us("bucket_ts").alias("b"), "v_last", "filled"
                ).toPandas()
        width = 4 * oracle.TIER_US[tier] // 1_000_000
        with self.span("m4"):
            return m4.m4_downsample(
                df, key="key", ts="bucket_ts", value="v_last", width_sec=width
            ).select(
                "key", _us("bucket_ts").alias("b"), "n_obs", _us("ts_first").alias("ts_first"),
                "v_first", _us("ts_last").alias("ts_last"), "v_last", "v_min",
                _us("ts_vmin").alias("ts_vmin"), "v_max", _us("ts_vmax").alias("ts_vmax"),
            ).toPandas()

    def run_op(self, i: int, q: dict) -> tuple[int, float]:
        t0 = time.perf_counter()
        out = self._execute(q)
        took = time.perf_counter() - t0
        self.kept[i] = out
        if q["kind"] in ("locf", "interp"):
            self.spine_rows.append(len(out))
        return 1, took

    def expected(self, q: dict) -> pd.DataFrame:
        tier, w = q["tier"], oracle.TIER_US[q["tier"]]
        m = np.isin(self.key, q["keys"]) & (self.ts >= q["lo"] // w * w) \
            & (self.ts < -(-q["hi"] // w) * w)
        rows = oracle.tier_rows(self.key[m], self.ts[m], self.val[m], tier)
        rows = rows[(rows["b"] >= q["lo"]) & (rows["b"] < q["hi"])].reset_index(drop=True)
        if q["kind"] == "plain":
            return oracle.with_derived(rows)
        if rows.empty:
            return pd.DataFrame(columns=(oracle.M4_COLS if q["kind"] == "m4"
                                         else ["key", "b", "v_last", "filled"]))
        if q["kind"] == "locf":
            return oracle.locf(rows, tier)
        if q["kind"] == "interp":
            return oracle.interp(rows, tier)
        return oracle.m4(rows, 4 * w // 1_000_000)

    def gate(self) -> set[int]:
        """Every query's output against the oracle, warm-ups included: a
        wrong warm-up answer fails every operation of the run."""
        bad = {
            i for i, got in self.kept.items()
            if not oracle.same(got, self.expected(self.ops[i]), rel=1e-12)
        }
        if any(not oracle.same(got, self.expected(q), rel=1e-12)
               for q, got in zip(self.warmup, self.warm_out)):
            bad |= set(self.kept)
        return bad

    def layer_metrics(self, tracer) -> dict[str, float]:
        listing = [
            sum(d.counters["tasks"] for d in s.subtree())
            for s in tracer.spans("rollup.read_resolution")
        ]
        return {
            "rollup.listing_tasks": statistics.fmean(listing) if listing else 0.0,
            "gapfill.spine_rows": statistics.fmean(self.spine_rows) if self.spine_rows else 0.0,
        }


# ------------------------------------------------------------ lead_lag


class LeadLag(Workload):
    """``guess_lag`` at the reference defaults over a quote stream with
    planted lags between six venues. Each operation scores the newest
    snapshot (the last ``window`` leader ticks) as the stream advances by
    ``advance`` ticks; its work is the ordered (side, venue, venue)
    pairs scored."""

    name = "lead_lag"
    min_ops = 6
    window = 4608
    advance = 128
    max_ops = 64

    def prepare(self) -> None:
        n = self.window + self.advance * (self.max_ops + 1)
        self.quotes = gen.quotes(self.seed, n)
        self.digests["quotes"] = gen.digest(self.quotes)
        ts = _ts_us(self.quotes)
        lead = ts[self.quotes.column("venue").to_numpy(zero_copy_only=False) == gen.LEADER]
        self.snapshots = []
        for k in range(self.max_ops + 1):
            t_lo, t_hi = lead[k * self.advance], lead[k * self.advance + self.window - 1]
            lo, hi = np.searchsorted(ts, [t_lo, t_hi], side="left")[0], \
                np.searchsorted(ts, t_hi, side="right")
            self.snapshots.append((int(lo), int(hi)))
        self.ops = list(range(1, self.max_ops + 1))
        self.results: dict[int, list] = {}

    def _score(self, k: int) -> list:
        from tits_spark.operators import guess_lag

        lo, hi = self.snapshots[k]
        qdf = self.spark.createDataFrame(self.quotes.slice(lo, hi - lo))
        with self.span("guess_lag"):
            return guess_lag.guess_lag(qdf).collect()

    def setup(self) -> None:
        """Warm-up: guess_lag at an eighth of MAX_TICKS on the first
        sixth of snapshot 0. It runs the same plan, starts the Python
        workers and scores the same 30 pairs, in about two thirds of the
        time of a cold full-size call."""
        from tits_spark.operators import guess_lag

        lo, hi = self.snapshots[0]
        qdf = self.spark.createDataFrame(self.quotes.slice(lo, (hi - lo) // 6))
        rows = guess_lag.guess_lag(qdf, max_ticks=guess_lag.MAX_TICKS // 8).collect()
        venues = len(gen.FOLLOWER_LAG_MS) + 1
        if len(rows) != venues * (venues - 1):
            raise RuntimeError(f"warm-up scored {len(rows)} pairs, not {venues * (venues - 1)}")

    def run_op(self, i: int, k: int) -> tuple[int, float]:
        t0 = time.perf_counter()
        rows = self._score(k)
        took = time.perf_counter() - t0
        self.results[i] = [r for r in rows if r["key1"] == gen.LEADER]
        return len(rows), took

    def gate(self) -> set[int]:
        from tits_spark.operators import guess_lag

        bad = set()
        want = {("BID", gen.LEADER, f): ms // 10 for f, ms in gen.FOLLOWER_LAG_MS.items()}
        for i, rows in self.results.items():
            got = {(r["side"], r["key1"], r["key2"]): r["best_lag"] for r in rows}
            if set(got) != set(want) or any(
                not np.isfinite(got[k]) or round(got[k] / guess_lag.TAU) != v
                for k, v in want.items()
            ):
                bad.add(i)
        return bad

    def layer_metrics(self, tracer) -> dict[str, float]:
        from tits_spark.functions import kernels
        from tits_spark.operators import guess_lag

        # the pair run_pair scores for (BID, LEAD, FA) on the last
        # snapshot, prepared as it does, timed on the driver
        lo, hi = self.snapshots[max(self.results) + 1 if self.results else 0]
        snap = self.quotes.slice(lo, hi - lo)
        ts = _ts_us(snap) / 1e6
        venue = snap.column("venue").to_numpy(zero_copy_only=False)
        bid = snap.column("bid").to_numpy(zero_copy_only=False)

        def book(name):
            m = (venue == name) & ~np.isnan(bid)
            order = np.argsort(ts[m], kind="stable")[-guess_lag.MAX_TICKS:]
            return ts[m][order], bid[m][order]

        t1, p1 = book(gen.LEADER)
        t2, p2 = book("FA")
        t1, p1 = t1[-guess_lag.EDG_TICKS:], p1[-guess_lag.EDG_TICKS:]
        tref = t1[0]
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            kernels.xcor(t1[1:] - tref, np.diff(p1), t2[1:] - tref, np.diff(p2),
                         guess_lag.NLAGS, guess_lag.TAU)
            times.append((time.perf_counter() - t0) * 1000.0)
        _, gl = tracer.totals("guess_lag")
        cpu = gl["jvm_cpu_ms"] + gl["py_cpu_ms"]
        return {
            "kernels.xcor_ms_per_pair": statistics.median(times),
            "kernels.py_cpu_share": gl["py_cpu_ms"] / cpu if cpu else 0.0,
        }


WORKLOADS = {w.name: w for w in (Ingest, Dashboard, LeadLag)}
