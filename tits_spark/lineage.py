"""Per-partition lineage + checkpoint resume (north_rule).

Every rollup stage appends per-partition rows
    (job_id, stage, part, input_count, bucket_count, checksum, committed_at)
to a metrics table; a resumed job reads the committed state (the latest
log row per (stage, part), ``_committed``) and re-processes only the
days it lacks (``_pending_days``). Writes are idempotent:
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
from pyspark.sql import DataFrame, Row, SparkSession
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


def _committed(io, stages: list[str]) -> dict[tuple[str, str], Row]:
    """{(stage, part): the ``input_count`` and ``committed_at`` of its
    latest log row} for ``stages``, from one aggregate over the log: the
    committed state every writer decides from."""
    return {
        (r["stage"], r["part"]): r
        for r in io.read_metrics()
        .where(F.col("stage").isin(stages))
        .groupBy("stage", "part")
        .agg(
            F.max_by("input_count", "committed_at").alias("input_count"),
            F.max("committed_at").alias("committed_at"),
        )
        .collect()
    }


def _only(df: DataFrame, part, pending: list, n_parts: int) -> DataFrame:
    """The rows of ``df`` whose ``part`` is pending; ``df`` itself when all
    its ``n_parts`` parts are (a per-row filter would drop nothing)."""
    return df if len(pending) == n_parts else df.filter(part.isin(pending))


def _pending_days(
    io, raw: DataFrame, ts: str, stages: list[str], backfill: bool = False
) -> tuple[list | None, DataFrame]:
    """``(days, src)``: the days of ``raw`` that ``stages`` still have to
    commit, and ``raw`` limited to them (``_only``). ``days`` is None on
    a fresh run (nothing of ``stages`` committed), which skips the day
    scan. Otherwise one ``groupBy(to_date(ts)).count()`` gives the
    present days and their raw row counts; a day is pending when ANY
    stage lacks its commit (it is recomputed for all of them), or under
    ``backfill`` when its count differs from the ``input_count`` of its
    latest ``stages[0]`` row (late data)."""
    committed = _committed(io, stages)
    if not committed:
        return None, raw
    present = {
        r["day"]: r["count"]
        for r in raw.groupBy(F.to_date(ts).alias("day")).count().collect()
    }
    pending = sorted(
        d for d, n in present.items()
        if any((s, d.isoformat()) not in committed for s in stages)
        or (backfill and committed[(stages[0], d.isoformat())]["input_count"] != n)
    )
    return pending, _only(raw, F.to_date(ts), pending, len(present))


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
    deleting their lineage rows if that ever matters. It costs no extra
    Spark job: the counts come from the same day scan that finds the
    present days (``_pending_days``). The rewrite itself is the same
    idempotent dynamic-partition overwrite as resume, and verify_lineage
    compares against the LATEST committed checksum (max_by
    committed_at), so backfilled partitions verify clean.
    """
    job_id = job_id or uuid.uuid4().hex[:12]
    io = resolve_table_io(spark, tiers_path, metrics_path)
    stages = [f"tier_{t}" for t in TIER_ORDER]
    days, src = _pending_days(io, raw, ts, stages, backfill)
    if days == []:
        return dict.fromkeys(stages, 0)
    # 1h and 1d derive from the 1m aggregate inside the same plan: exact
    # (associative aggregates, nested buckets), and raw is scanned once
    m1 = rollup_from_raw(src, key, ts, value, "1m")
    frames = {t: m1 if t == "1m" else rollup_cascade(m1, t) for t in TIER_ORDER}
    _commit(io, frames, job_id, days)
    if days is None:
        # day count from the written partition directories (no scan)
        return {f"tier_{t}": io.tier_partition_count(t) for t in TIER_ORDER}
    return dict.fromkeys(stages, len(days))


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
    committed = _committed(io, ["tier_1d", stage])

    buckets: set[dt.date] = set()
    pending: set[dt.date] = set()
    for (s, part), r in committed.items():
        if s != "tier_1d":
            continue
        start = _cal_start(dt.date.fromisoformat(part), unit)
        buckets.add(start)
        prev = committed.get((stage, start.isoformat()))
        if prev is None or r["committed_at"] > prev["committed_at"]:
            pending.add(start)
    if not pending:
        return {stage: 0}

    parts = sorted(pending)
    src = _only(
        io.read_tier("1d").drop("bucket_date"),
        F.date_trunc(unit, "bucket_ts").cast("date"), parts, len(buckets),
    )
    _commit(io, {unit: rollup_cascade(src, unit)}, job_id, parts)
    return {stage: len(parts)}


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
    visible day directories.
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
    committed. A day pending in either sketch stage (a crash between
    the two commits) is rebuilt in both. Returns
    {stage: n_partitions_processed}.
    """
    from tits_spark.operators.quantiles import value_histogram
    from tits_spark.operators.rollup_sketch import distinct_registers

    job_id = job_id or uuid.uuid4().hex[:12]
    io = resolve_table_io(spark, tiers_path, metrics_path)
    days, src = _pending_days(io, raw, ts, list(SKETCH_STAGES))
    if days == []:
        return dict.fromkeys(SKETCH_STAGES, 0)

    def build(stage: str) -> DataFrame:
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
        _commit(io, {stage: build(stage)}, job_id, days, exprs, stage_prefix="")
    if days is None:
        return {s: io.tier_partition_count(s) for s in SKETCH_STAGES}
    return dict.fromkeys(SKETCH_STAGES, len(days))
