"""SparkSession factory with the engine's standard configuration.

Arrow execution is mandatory (SURVEY.md §1.3: the reference is
struct-of-arrays/SIMD throughout; our columnar path is Arrow), AQE is on
for skew-join splitting and small-partition coalescing (SURVEY.md §4).

Round-6 optimization notes (guide §5, §6, §9; OPTIMIZATION_r06.md):

 - ``spark.driver.memory``: in local mode the driver JVM *is* every
   executor; an 8g heap gave 32 concurrent tasks ~250 MB each and
   measurable GC pressure on the hash-agg heavy families. Default is
   the smaller of 32g and 40% of the host's physical memory (6g on a
   16 GB host, where a 32g heap grows until the kernel kills the JVM);
   on a real cluster this setting is ignored — executor memory comes
   from spark-submit. Override with $SPARK_GRAFT_DRIVER_MEM.
 - ``spark.local.dir``: shuffle/spill files default to /tmp, which in
   this sandbox is the shared *disk* volume; production deploys put
   them on node-local NVMe. /dev/shm (tmpfs) is the one-box analog of
   node-local fast storage — same rationale as bench.py writing tier
   outputs there. Override with $SPARK_GRAFT_LOCAL_DIR.
 - ``spark.sql.autoBroadcastJoinThreshold`` raised 10m -> 64m: the
   dimension/plan frames this engine joins are estimated (not actual)
   sizes; 64m keeps the star-schema dimension chains broadcast at any
   SF while staying far under the 8 GB broadcast cap (guide §3.1).
 - constraint propagation off: with 300+ registered queries whose
   plans carry deep filter/join chains, Catalyst's constraint
   inference is pure planning-time overhead (measured on the bench
   families); it enables no plan improvement we rely on (all joins are
   explicit equi-joins; nullability is handled in the operators).
 - ``$SPARK_GRAFT_EXTRA_CONF`` ("k=v;k=v") lets any deploy override or
   extend without code edits — the cluster-vs-sandbox knob demanded by
   the scale-adaptivity rule.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(32g, 40% of physical RAM), whole GiB, at least 1g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, int(0.4 * phys) >> 30))}g"


# Defaults sized for one local[N] host. On a real cluster these come
# from spark-submit conf; shuffle partitions should be ~2-3x total
# executor cores, and AQE coalesces the excess at runtime.
_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Arrow batch size for pandas UDFs: large batches amortize the
    # JVM<->Python transfer; per-series kernels want whole groups anyway.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    "spark.local.dir": os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR", "/dev/shm/tits_spark_local"
    ),
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.constraintPropagation.enabled": "false",
    # AQE's coalescing floor is BYTES (default 1m), but many of this
    # engine's post-shuffle stages are byte-small and CPU-heavy
    # (decimal window chains over exploded grids, grouped kernels):
    # with the default floor a 2 MB shuffle coalesces to 1-2 tasks and
    # the whole stage serializes (measured: hac_trend 4.0s -> 2.3s,
    # diebold_mariano 4.0 -> 1.7, kpss 3.2 -> 1.2 at sf0.1 with 64k).
    # At cluster scale the total-bytes/parallelism term dominates the
    # coalescing target, so a 64k floor is behavior-identical there —
    # it only stops over-coalescing of small-byte/high-CPU stages.
    # Override via $SPARK_GRAFT_EXTRA_CONF like every other knob.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
}


def get_spark(
    app_name: str = "tits_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` sets local parallelism (int or "*"); defaults to
    $SPARK_GRAFT_CPUS or "*". In cluster mode the master comes from
    spark-submit and this argument is ignored by Spark.
    """
    builder = SparkSession.builder.appName(app_name)
    # cores="inherit" leaves the master to spark-submit (--master
    # local-cluster[...] or a real cluster manager); otherwise default
    # to local[N]
    if cores != "inherit":
        if cores is None:
            cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cores}]")
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # deploy-time overrides: "key=value;key=value" (cluster deploys use
    # spark-submit --conf; this is the same knob for embedded callers)
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, env_extra.split(";")):
        k, _, v = kv.partition("=")
        conf[k.strip()] = v.strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
