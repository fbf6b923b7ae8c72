"""Per-partition lineage + checkpoint resume (north_rule).

Every rollup stage appends per-partition rows
    (job_id, stage, part, input_count, bucket_count, checksum, committed_at)
to a metrics table; a resumed job anti-joins pending partitions against
the committed set and re-processes only the gap. Writes are idempotent:
tier data is written with dynamic partition overwrite, so re-running a
partition replaces it bit-for-bit instead of duplicating.

Partition unit = calendar day. All three tiers (1m/1h/1d) nest inside a
day, so day-scoped incremental processing is *exact* — no bucket ever
spans two lineage partitions. (This is why the tier cascade stays
associative under resume.)

The checksum is an order-independent ``bit_xor(xxhash64(...))`` over the
tier rows of the partition — comparable across recomputations regardless
of task scheduling, mirroring the reference's use of the xxHash family
for keying (ref:hash.c:325-344; we use Spark's built-in xxhash64).

Without an Iceberg runtime jar, the metrics table doubles as the commit
log over a plain parquet directory layout (SURVEY.md §7): a partition is
visible iff a lineage row exists for it, giving exactly-once semantics
on top of idempotent partition overwrites.

A rollup run commits all its pending days in ONE round: one write of
the 1m/1h/1d tiers (one dynamic-overwrite job on parquet), one read-back
of exactly the written (tier, day) partitions, and one append of every
tier's lineage rows. A crash anywhere before that append leaves the
round's days uncommitted in every tier, so the rerun recomputes and
overwrites them (bit-identical); a day that an older per-tier log shows
committed in some tiers only is likewise recomputed for all three.
"""

from __future__ import annotations

import datetime as dt
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tits_spark.operators.rollup import (
    CALENDAR_UNITS,
    TIER_ORDER,
    rollup_cascade,
    rollup_from_raw,
)
from tits_spark.sources.table_io import resolve_table_io


# canonical column order hashed into the partition checksum — must be
# identical at write time and at verify time
CHECKSUM_COLS = [
    "key", "bucket_ts", "n_obs", "v_sum", "v_sumsq", "v_min", "v_max",
    "v_first", "v_last", "first_ts", "last_ts",
]
_CHECKSUM_EXPR = "bit_xor(xxhash64(" + ", ".join(CHECKSUM_COLS) + "))"

#: (checksum, input_count) expressions of a rollup tier's lineage rows
_TIER_EXPRS = (_CHECKSUM_EXPR, "sum(n_obs)")


def _lineage_rows(
    df: DataFrame, job_id: str, stage_prefix: str, checksum_expr: str,
    input_count_expr: str,
) -> DataFrame:
    """One lineage row per (tier, day) partition of ``df`` (a read-back
    with ``tier`` and ``bucket_date`` columns); stage = prefix + tier.
    Coalesced to one partition: the rows are few and each commit
    appends one file to the log."""
    return (
        df.groupBy(
            "tier", F.date_format("bucket_date", "yyyy-MM-dd").alias("part")
        )
        .agg(
            F.expr(input_count_expr).cast("long").alias("input_count"),
            F.count(F.lit(1)).alias("bucket_count"),
            F.expr(checksum_expr).alias("checksum"),
        )
        .select(
            F.lit(job_id).alias("job_id"),
            F.concat(F.lit(stage_prefix), "tier").alias("stage"),
            "part",
            "input_count",
            "bucket_count",
            "checksum",
            F.lit(dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)).alias("committed_at"),
        )
        .coalesce(1)
    )


def _commit(
    io, frames: dict[str, DataFrame], job_id: str, pending: list | None,
    exprs: tuple[str, str] = _TIER_EXPRS, stage_prefix: str = "tier_",
) -> None:
    """Commit ``frames`` ({tier: rows}) in one round: one write of every
    tier, one read-back of the ``pending`` day (or calendar-bucket)
    partitions of those tiers — of every partition on disk when
    ``pending`` is None — and one append of the lineage rows computed
    from that read-back.

    The rows are read back from storage (by explicit partition path
    and the frames' own schema) instead of caching the shuffle output,
    so lineage checksums attest what is actually on disk. A crash
    before the append leaves every written partition uncommitted:
    it is pending in every tier of the round, and the rerun overwrites
    it."""
    io.write_tiers(frames)
    schema = next(iter(frames.values())).schema
    written = io.read_tiers(schema, list(frames), pending)
    io.append_metrics(_lineage_rows(written, job_id, stage_prefix, *exprs))


def _changed_parts(io, raw: DataFrame, ts: str) -> set[str]:
    """Committed days whose current raw row count differs from the
    ``input_count`` of their latest tier_1m lineage row (late data)."""
    latest_counts = {
        r["part"]: r["n"]
        for r in io.read_metrics()
        .filter(F.col("stage") == "tier_1m")
        .groupBy("part")
        .agg(F.max_by("input_count", "committed_at").alias("n"))
        .collect()
    }
    current_counts = {
        r["day"].strftime("%Y-%m-%d"): r["n"]
        for r in raw.groupBy(F.to_date(ts).alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        part for part, n in current_counts.items()
        if part in latest_counts and latest_counts[part] != n
    }


def incremental_rollup(
    spark: SparkSession,
    raw: DataFrame,
    tiers_path: str,
    metrics_path: str,
    key: str = "conv_id",
    ts: str = "ts",
    value: str = "value",
    job_id: str | None = None,
    backfill: bool = False,
) -> dict[str, int]:
    """Run (or resume) the raw -> 1m -> 1h -> 1d cascade.

    Only day-partitions not yet in the metrics log (in any tier) are
    processed, through all three tiers in one commit round (see
    ``_commit``): raw is aggregated to 1m once, 1h and 1d derive from
    that aggregate in the same plan, one write lands the three tiers
    and one append logs a lineage row per processed tier-partition.
    Storage resolves via TableIO — parquet directories here, Iceberg
    tables when ``tiers_path`` is a dotted identifier and the runtime
    jar is on the classpath. Returns {stage: n_partitions_processed}.

    ``backfill=True`` additionally detects LATE DATA: committed days
    whose current raw row count no longer matches the lineage log's
    ``input_count`` (written as sum(n_obs), i.e. the raw rows the day
    had when committed) are re-processed through every tier. Correct
    for late ARRIVALS and deletions that change the count; an
    update-in-place that swaps one row for another (count unchanged)
    is invisible to this probe — pass the affected days explicitly by
    deleting their lineage rows if that ever matters. Costs one raw
    count aggregate; the rewrite itself is the same idempotent
    dynamic-partition overwrite as resume, and verify_lineage compares
    against the LATEST committed checksum (max_by committed_at), so
    backfilled partitions verify clean.
    """
    job_id = job_id or uuid.uuid4().hex[:12]
    io = resolve_table_io(spark, tiers_path, metrics_path)

    committed_all = {
        (r["stage"], r["part"])
        for r in io.read_metrics().select("stage", "part").distinct().collect()
    }
    # fresh run: nothing committed, every day is pending — skip the
    # day-discovery scan of the input entirely
    pending_days = present_days = None
    if committed_all:
        # one scan: the set of day-partitions present in the input
        present_days = sorted(
            r["day"]
            for r in raw.select(F.to_date(ts).alias("day")).distinct().collect()
        )
        changed_parts = _changed_parts(io, raw, ts) if backfill else set()
        # a day pending in ANY tier (e.g. a log written by an older
        # per-tier protocol that crashed between tiers) is recomputed
        # for all three
        pending_days = [
            d for d in present_days
            if d.strftime("%Y-%m-%d") in changed_parts
            or any((f"tier_{t}", d.strftime("%Y-%m-%d")) not in committed_all
                   for t in TIER_ORDER)
        ]
        if not pending_days:
            return {f"tier_{t}": 0 for t in TIER_ORDER}

    # when every present day is pending, skip the per-row day membership
    # filter (a full column evaluation over the raw scan for no
    # selectivity)
    full = pending_days is None or len(pending_days) == len(present_days)
    src = raw if full else raw.filter(F.to_date(ts).isin(pending_days))
    # 1h and 1d derive from the 1m aggregate inside the same plan: exact
    # (associative aggregates, nested buckets), and raw is scanned once
    m1 = rollup_from_raw(src, key, ts, value, "1m")
    frames = {t: m1 if t == "1m" else rollup_cascade(m1, t) for t in TIER_ORDER}
    _commit(io, frames, job_id, pending_days)
    if pending_days is None:
        # day count from the written partition directories (no scan)
        return {f"tier_{t}": io.tier_partition_count(t) for t in TIER_ORDER}
    return {f"tier_{t}": len(pending_days) for t in TIER_ORDER}


def _cal_start(day: dt.date, unit: str) -> dt.date:
    """First day of the calendar bucket containing ``day`` (matches
    Spark/DuckDB date_trunc: weeks start Monday, UTC)."""
    if unit == "week":
        return day - dt.timedelta(days=day.weekday())
    if unit == "month":
        return day.replace(day=1)
    if unit == "quarter":
        return day.replace(month=(day.month - 1) // 3 * 3 + 1, day=1)
    if unit == "year":
        return day.replace(month=1, day=1)
    raise ValueError(f"unit must be one of {CALENDAR_UNITS}, got {unit!r}")


def incremental_calendar(
    spark: SparkSession,
    tiers_path: str,
    metrics_path: str,
    unit: str = "month",
    job_id: str | None = None,
) -> dict[str, int]:
    """Maintain a calendar tier (week/month/quarter/year) off the 1d
    tier under the same lineage/resume discipline.

    The partition unit here is the CALENDAR BUCKET (part = its first
    day), and pendingness is derived purely from the lineage log — no
    data scan: a bucket needs (re)processing iff it has no committed
    row yet, or any of its days' ``tier_1d`` rows committed AFTER the
    bucket's last commit (which is exactly what resume, late-data
    backfill, and ordinary new-day ingestion all look like from the
    log). Recomputation reads only the affected buckets' slice of the
    ~86400x-reduced day tier; the write is the same idempotent
    dynamic-partition overwrite, so a crash mid-run just re-runs.

    Returns {stage: n_buckets_processed}; stage name is
    ``tier_<unit>``.
    """
    stage = f"tier_{unit}"
    job_id = job_id or uuid.uuid4().hex[:12]
    io = resolve_table_io(spark, tiers_path, metrics_path)
    log = io.read_metrics()

    day_commits = {
        r["part"]: r["at"]
        for r in log
        .filter(F.col("stage") == "tier_1d")
        .groupBy("part")
        .agg(F.max("committed_at").alias("at"))
        .collect()
    }
    cal_commits = {
        r["part"]: r["at"]
        for r in log
        .filter(F.col("stage") == stage)
        .groupBy("part")
        .agg(F.max("committed_at").alias("at"))
        .collect()
    }
    pending: set[dt.date] = set()
    for day_str, at in day_commits.items():
        start = _cal_start(dt.date.fromisoformat(day_str), unit)
        prev = cal_commits.get(start.isoformat())
        if prev is None or at > prev:
            pending.add(start)
    if not pending:
        return {stage: 0}

    day_tier = io.read_tier("1d").drop("bucket_date")
    full = len(pending) >= len(
        {_cal_start(dt.date.fromisoformat(d), unit) for d in day_commits}
    )
    src = day_tier if full else day_tier.filter(
        F.date_trunc(unit, "bucket_ts").cast("date").isin(sorted(pending))
    )
    _commit(
        io, {unit: rollup_cascade(src, unit)}, job_id,
        None if full else sorted(pending),
    )
    return {stage: len(pending)}


def verify_lineage(spark: SparkSession, tiers_path: str, metrics_path: str) -> DataFrame:
    """Recompute per-partition checksums from the stored tiers and
    compare them with the latest logged ones: one row per committed
    (stage, part) of every tier stage in the log. match=false flags
    corruption, non-deterministic recomputation, or a committed
    partition whose data is gone. A partition that retention expired
    after its last commit (a later ``expired_<tier>`` row) is not
    checked."""
    io = resolve_table_io(spark, tiers_path, metrics_path)
    log = io.read_metrics()
    out = None
    for r in log.select("stage").distinct().orderBy("stage").collect():
        stage = r["stage"]
        if stage in SKETCH_STAGES:
            tier, expr = stage, SKETCH_STAGES[stage][0]
        elif stage.startswith("tier_"):
            tier, expr = stage[len("tier_"):], _CHECKSUM_EXPR
        else:  # expired_* / compacted_* rows from operators.retention
            continue
        expired = (
            log.filter(F.col("stage") == f"expired_{tier}")
            .groupBy("part")
            .agg(F.max("committed_at").alias("expired_at"))
        )
        logged = (
            log.filter(F.col("stage") == stage)
            .groupBy("part")
            .agg(
                F.max_by("checksum", "committed_at").alias("checksum"),
                F.max("committed_at").alias("at"),
            )
            .join(expired, "part", "left")
            .where(F.col("expired_at").isNull() | (F.col("expired_at") < F.col("at")))
        )
        try:
            actual = (
                io.read_tier(tier)
                .groupBy(F.date_format(F.to_date("bucket_ts"), "yyyy-MM-dd").alias("part"))
                .agg(F.expr(expr).alias("actual"))
            )
        except AnalysisException:  # the whole tier is gone
            actual = spark.createDataFrame([], "part string, actual long")
        rows = logged.join(actual, "part", "left").select(
            F.lit(stage).alias("stage"),
            "part",
            F.coalesce(F.col("actual") == F.col("checksum"), F.lit(False)).alias("match"),
        )
        out = rows if out is None else out.unionByName(rows)
    if out is None:
        return spark.createDataFrame([], "stage string, part string, match boolean")
    return out


def snapshots(spark: SparkSession, metrics_path: str) -> DataFrame:
    """Commit history, one row per (job_id, stage): commit time span,
    partitions and buckets committed. The lineage log IS the commit
    protocol (a partition is visible iff its row exists), so this is
    the engine's snapshot listing — the parquet-backend analog of
    Iceberg's snapshots metadata table (on the Iceberg backend every
    append is a real table snapshot and `.snapshots` is native)."""
    return (
        resolve_table_io(spark, metrics_path, metrics_path)
        .read_metrics()
        .groupBy("job_id", "stage")
        .agg(
            F.min("committed_at").alias("committed_from"),
            F.max("committed_at").alias("committed_to"),
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("bucket_count").alias("n_buckets"),
        )
        .orderBy("committed_from")
    )


def read_tier_as_of(
    spark: SparkSession,
    tiers_path: str,
    metrics_path: str,
    tier: str,
    as_of=None,
    job_id: str | None = None,
) -> DataFrame:
    """Commit-log time travel over a tier: rows of the day partitions
    whose FIRST lineage commit is at or before ``as_of`` (a timestamp
    or ISO string), or that were committed by jobs up to and including
    ``job_id``'s completion.

    Parquet-backend caveat (documented, inherent to the layout):
    dynamic partition overwrite replaces files in place, so a
    partition RE-written by a later backfill shows its CURRENT
    content — this is visibility travel (which partitions existed),
    not full snapshot isolation. On the Iceberg backend use
    ``IcebergTableIO.read_tier_as_of``, which delegates to native
    snapshot time travel and has no such caveat.

    The committed-parts frame is tiny (one row per day) and broadcast,
    so Spark's dynamic partition pruning keeps the scan to exactly the
    visible ``bucket_date=`` directories.
    """
    io = resolve_table_io(spark, tiers_path, metrics_path)
    m = io.read_metrics().filter(F.col("stage") == f"tier_{tier}")
    if job_id is not None:
        upto = (
            m.filter(F.col("job_id") == job_id)
            .agg(F.max("committed_at").alias("t"))
            .first()
            .t
        )
        if upto is None:
            raise ValueError(f"read_tier_as_of: job_id {job_id!r} has no commits")
        as_of = upto
    if as_of is None:
        raise ValueError("read_tier_as_of: pass as_of or job_id")
    parts = (
        m.groupBy("part")
        .agg(F.min("committed_at").alias("first_commit"))
        .filter(F.col("first_commit") <= F.lit(as_of).cast("timestamp"))
        .select(F.col("part").alias("bucket_date"))
    )
    t = io.read_tier(tier)
    return t.join(F.broadcast(parts), "bucket_date", "left_semi")


# ---------------------------------------------------- sketch tiers

#: (checksum, input_count) expressions per sketch stage (order-independent
#: xor checksum, same discipline as the rollup tiers' _TIER_EXPRS)
SKETCH_STAGES = {
    "hll_1m": ("bit_xor(xxhash64(bucket_ts, reg, rho))", "count(1)"),
    "hist_1m": ("bit_xor(xxhash64(bucket_ts, q, cnt))", "sum(cnt)"),
}


def incremental_sketches(
    spark: SparkSession,
    raw: DataFrame,
    tiers_path: str,
    metrics_path: str,
    ts: str = "ts",
    item: str = "conv_id",
    value: str = "value",
    job_id: str | None = None,
    p: int = 8,
    scale: int = 100,
) -> dict[str, int]:
    """Run (or resume) the sketch column families alongside the rollup
    cascade: per-1m-bucket HLL registers of ``item`` (distinct counts)
    and per-1m-bucket value histograms (quantiles). Both are mergeable,
    so ONLY the finest tier is stored — coarser tiers derive at read
    time via registers_cascade / hist_cascade at register/histogram
    cost, never touching raw.

    Same exactness argument as incremental_rollup: buckets nest in
    days, so day-scoped resume is exact; writes are idempotent dynamic
    partition overwrites and a partition is visible iff its lineage row
    committed. Returns {stage: n_partitions_processed}.
    """
    from tits_spark.operators.quantiles import value_histogram
    from tits_spark.operators.rollup_sketch import distinct_registers

    job_id = job_id or uuid.uuid4().hex[:12]
    io = resolve_table_io(spark, tiers_path, metrics_path)
    processed: dict[str, int] = {}

    committed_all = {
        (r["stage"], r["part"])
        for r in io.read_metrics().select("stage", "part").distinct().collect()
        if r["stage"] in SKETCH_STAGES
    }
    present_days = sorted(
        r["day"]
        for r in raw.select(F.to_date(ts).alias("day")).distinct().collect()
    )

    def build(stage: str, src: DataFrame) -> DataFrame:
        if stage == "hll_1m":
            return distinct_registers(
                src.select(ts, F.col(item).cast("string").alias("_it")),
                ts, "_it", "1m", p,
            )
        return value_histogram(
            src.select(F.date_trunc("minute", ts).alias("bucket_ts"), value),
            ["bucket_ts"], value, scale,
        )

    for stage, exprs in SKETCH_STAGES.items():
        pending = [
            d for d in present_days
            if (stage, d.strftime("%Y-%m-%d")) not in committed_all
        ]
        if not pending:
            processed[stage] = 0
            continue
        full = len(pending) == len(present_days)
        src = raw if full else raw.filter(F.to_date(ts).isin(pending))
        _commit(io, {stage: build(stage, src)}, job_id,
                None if full else pending, exprs, stage_prefix="")
        processed[stage] = len(pending)
    return processed
