"""Similarity search over embedding columns (array<float>).

 - ``cosine_topk``: brute-force top-k — the exactness baseline. The
   query set is broadcast (it's small by construction); the scan side
   streams, dot products run as built-in higher-order functions
   (zip_with + aggregate) inside codegen, and per-query top-k is a
   ranking window. One shuffle (by query id) regardless of corpus size.
 - ``lsh_topk``: the scale path — sign-LSH buckets under deterministic
   Rademacher (±1) hyperplanes, ONE equi-join on (table, bucket) for
   all hash tables, exact rerank inside the candidates. The plane
   matrix lives inside a single Arrow-batched pandas_udf matmul, so the
   plan stays O(1) in dim × nbits × n_tables (no literal expressions),
   and the ±1 entries are derived from md5 so a DuckDB oracle can
   recompute the exact buckets in ANSI SQL.
 - ``ivf_topk``: coarse-quantizer ANN. Training is deterministic
   distributed Lloyd (init = vec_id % K, a fixed number of iterations);
   each iteration is one K×dim partial-sum aggregation — only
   O(K·dim) floats ever reach the driver, never the corpus. The fixed
   unrolled iteration count makes the whole pipeline (training,
   assignment, probing, rerank) reproducible in SQL for the oracle.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for every query row.
    Returns (query_id, vec_id, cosine, rank). Embeddings are cast to
    double before the arithmetic so results are precision-stable."""
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"), dbl(emb_col).alias("q_emb")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), dbl(emb_col).alias("c_emb"))
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        (_dot(F.col("q_emb"), F.col("c_emb"))
         / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ----------------------------------------------------------------- sign LSH

def _planes_uncached(dim: int, nbits: int, n_tables: int) -> np.ndarray:
    first = "".join(
        hashlib.md5(f"{t}|{i}|{j}".encode()).hexdigest()[0]
        for t in range(n_tables)
        for i in range(nbits)
        for j in range(dim)
    ).encode()
    arr = np.frombuffer(first, dtype=np.uint8)
    P = np.where(arr % 2 == 1, 1.0, -1.0).reshape(n_tables, nbits, dim)
    P.setflags(write=False)  # cached and shared between callers
    return P


@functools.lru_cache(maxsize=8)
def rademacher_planes(dim: int, nbits: int, n_tables: int) -> np.ndarray:
    """Deterministic ±1 sign-LSH hyperplanes, shape (n_tables, nbits,
    dim). Entry (t, i, j) = +1 iff ascii(md5(f"{t}|{i}|{j}")[0]) is odd
    (exactly balanced over hex digits). Rademacher projections are a
    valid random-projection family (Achlioptas 2001), and md5 exists
    with identical semantics in DuckDB, so an ANSI-SQL oracle recomputes
    the same buckets bit-for-bit.

    The returned array is read-only and lru_cached per shape: repeated
    lsh_topk / embedding_near_dups calls reuse one materialization
    instead of re-deriving n_tables*nbits*dim digests on the driver
    (at real dims, 4096x16x8 ~= 524k digests ~ seconds per call); the
    digest pass itself is one join + frombuffer, not a numpy scalar
    triple loop."""
    return _planes_uncached(dim, nbits, n_tables)


def lsh_buckets_udf(planes: np.ndarray):
    """pandas_udf: embedding -> array<long> of sign-bucket ids, one per
    hash table. One (batch × tables·nbits) matmul per Arrow batch — the
    plan carries a single UDF node regardless of dim/nbits/n_tables
    (round-1 built nbits×dim literal expressions per table, which blows
    up Catalyst analysis at real embedding dims)."""
    from pyspark.sql.functions import pandas_udf

    T, nbits, dim = planes.shape
    P = planes.reshape(T * nbits, dim)
    weights = (1 << np.arange(nbits, dtype=np.int64))

    def fn(embs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        proj = X @ P.T  # (n, T*nbits)
        bits = (proj > 0).reshape(len(X), T, nbits)
        B = (bits * weights).sum(axis=2)  # (n, T)
        return pd.Series([row.tolist() for row in B])

    return pandas_udf(fn, "array<long>")


def with_lsh_buckets(
    df: DataFrame,
    planes: np.ndarray,
    emb_col: str,
    tbl_col: str = "tbl",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Explode a frame into one row per (hash table, bucket) membership:
    adds (tbl, bucket) via posexplode of the per-table bucket array."""
    return df.select(
        "*", F.posexplode(lsh_buckets_udf(planes)(F.col(emb_col))).alias(tbl_col, bucket_col)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    nbits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates = same-sign-bucket vectors in any
    hash table (ONE equi-join on (tbl, bucket) covers all tables), exact
    cosine rerank on candidates. Returns (query_id, vec_id, cosine, rank)."""
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    planes = rademacher_planes(dim, nbits, n_tables)
    q = with_lsh_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_raw")),
        planes, "q_raw",
    ).select("query_id", dbl("q_raw").alias("q_emb"), "tbl", "bucket")
    c = with_lsh_buckets(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("c_raw")),
        planes, "c_raw",
    ).select("vec_id", dbl("c_raw").alias("c_emb"), "tbl", "bucket")

    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        (_dot(F.col("q_emb"), F.col("c_emb"))
         / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ----------------------------------------------------------------------- IVF

def _normalized(embs: pd.Series) -> np.ndarray:
    X = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    iters: int = 2,
    max_driver_rows: int | None = None,  # kept for API compat; unused
    rebalance_max_share: float | None = None,
    rebalance_rounds: int = 3,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic distributed Lloyd training of the IVF coarse
    quantizer. Init assignment = vec_id % K; each iteration recomputes
    centroids as the normalized mean of unit-normalized members, then
    reassigns by max dot product (ties -> smallest centroid id).

    Each iteration is ONE aggregation: mapInPandas emits O(K·dim)
    partial-sum rows per partition, groupBy(lid, pos) combines them, and
    only the K×dim result is collected — the corpus never reaches the
    driver (round 1 collected the whole corpus when sample_mod=1; this
    replaces that). A cluster that loses all members keeps its previous
    centroid. Returns (centroids ndarray[K', dim], lids ndarray[K']).

    ``rebalance_max_share``: plain Lloyd does NOT bound list sizes — a
    corpus whose semantic clusters are Zipf-skewed converges to one
    centroid per dense cluster, so the heaviest list inherits the whole
    heavy cluster's mass and per-query rerank cost scales with the skew
    instead of nprobe/K (measured in BENCH/ANN.md). When set, any list
    holding more than this corpus share after training is SPLIT: its
    centroid is replaced by ceil(share/max_share) deterministically
    perturbed copies and the whole set is re-refined by ordinary Lloyd
    passes, which carve the oversized Voronoi cell along the data —
    the classic split-largest-cell device, still O(K'·dim) driver
    traffic and one aggregation per pass. Up to ``rebalance_rounds``
    split+refine rounds run until no list exceeds the cap.
    """
    K = n_centroids
    base = corpus.select(
        F.col(id_col).alias("_id"), F.col(emb_col).alias("_emb"),
        (F.col(id_col) % K).cast("int").alias("lid"),
    )

    def centroid_pass(df_with_lid: DataFrame) -> dict[int, np.ndarray]:
        def partials(it):
            for pdf in it:
                if not len(pdf):
                    continue
                X = _normalized(pdf["_emb"])
                lid = pdf["lid"].to_numpy()
                rows = []
                for l in np.unique(lid):
                    m = lid == l
                    s = X[m].sum(axis=0)
                    rows.append((int(l), -1, float(m.sum())))
                    rows.extend((int(l), p, float(s[p])) for p in range(s.size))
                yield pd.DataFrame(rows, columns=["lid", "pos", "s"])

        agg = (
            df_with_lid.mapInPandas(partials, schema="lid int, pos int, s double")
            .groupBy("lid", "pos")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        cnt: dict[int, float] = {}
        sums: dict[int, dict[int, float]] = {}
        for r in agg:
            if r["pos"] == -1:
                cnt[r["lid"]] = r["s"]
            else:
                sums.setdefault(r["lid"], {})[r["pos"]] = r["s"]
        out = {}
        for l, d in sums.items():
            v = np.array([d[p] for p in sorted(d)]) / cnt[l]
            out[l] = v / np.linalg.norm(v)
        return out, cnt

    def refine(cents: dict, n: int) -> tuple[dict, dict]:
        counts: dict[int, float] = {}
        for _ in range(n):
            ls = np.array(sorted(cents), dtype=np.int64)
            Cm = np.stack([cents[l] for l in ls])
            reassigned = base.withColumn(
                "lid", _assign_udf(Cm, ls, "_emb", top=1)[0].cast("int")
            )
            new, counts = centroid_pass(reassigned)
            cents = {l: new.get(l, cents[l]) for l in cents}  # carry empty
        return cents, counts

    cents, counts = centroid_pass(base)
    cents, counts = refine(cents, iters - 1)

    if rebalance_max_share is not None:
        if not counts:  # iters == 1: no refine pass has counted yet
            cents, counts = refine(cents, 1)
        total = sum(counts.values()) or 1.0
        dim = next(iter(cents.values())).size
        for _ in range(rebalance_rounds):
            over = [l for l in cents
                    if counts.get(l, 0.0) / total > rebalance_max_share]
            if not over:
                break
            next_lid = max(cents) + 1
            for l in over:
                m = int(np.ceil(counts[l] / (rebalance_max_share * total)))
                # m-1 deterministic perturbed copies; Lloyd's next pass
                # pulls them apart along the actual member spread
                for j in range(m - 1):
                    d = _counter_perturbation(l, j, dim)
                    v = cents[l] + 0.05 * d
                    cents[next_lid] = v / np.linalg.norm(v)
                    next_lid += 1
            cents, counts = refine(cents, 2)

    lids = np.array(sorted(cents), dtype=np.int64)
    return np.stack([cents[l] for l in lids]), lids


def _counter_perturbation(lid: int, j: int, dim: int) -> np.ndarray:
    """Deterministic unit perturbation direction for split (lid, j) —
    PCG64 seeded by the pair, independent of corpus partitioning."""
    rng = np.random.Generator(np.random.PCG64(977 * (lid + 1) + j))
    d = rng.standard_normal(dim)
    return d / np.linalg.norm(d)


def _assign_udf(centroids: np.ndarray, lids: np.ndarray, emb_col: str, top: int = 1):
    """pandas_udf assigning each embedding to its ``top`` nearest
    centroids by dot product of unit vectors (vectorized matmul per
    Arrow batch); ties break to the smallest centroid id. Returns the
    actual centroid ids (array<int>), not matrix positions."""
    from pyspark.sql.functions import pandas_udf

    C = centroids
    L = np.asarray(lids)

    def assign_fn(embs: pd.Series) -> pd.Series:
        X = _normalized(embs)
        sims = X @ C.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
        return pd.Series([L[row].astype(np.int32).tolist() for row in order])

    assign = pandas_udf(assign_fn, "array<int>")
    return assign(F.col(emb_col))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    rebalance_max_share: float | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in inverted lists
    keyed by their nearest coarse centroid; each query probes its
    ``nprobe`` nearest lists and reranks exactly. At 10^11 vectors the
    per-query work drops to nprobe/n_centroids of the corpus, the list
    assignment is a one-off batch job bucketable on the centroid id,
    and training moves only O(K·dim) bytes to the driver.
    ``rebalance_max_share`` caps any single list's corpus share by
    splitting oversized cells (see train_ivf_centroids) — set it on
    skew-clustered corpora, where plain Lloyd leaves the heaviest
    semantic cluster in one list."""
    C, lids = train_ivf_centroids(
        corpus, n_centroids, id_col, emb_col, iters=iters,
        rebalance_max_share=rebalance_max_share,
    )
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    c_assigned = corpus.select(
        F.col(id_col).alias("vec_id"), dbl(emb_col).alias("c_emb"),
        F.explode(_assign_udf(C, lids, emb_col, top=1)).alias("list_id"),
    )
    q_assigned = queries.select(
        F.col(id_col).alias("query_id"), dbl(emb_col).alias("q_emb"),
        F.explode(_assign_udf(C, lids, emb_col, top=nprobe)).alias("list_id"),
    )
    cand = c_assigned.join(F.broadcast(q_assigned), "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    ).dropDuplicates(["query_id", "vec_id"])
    scored = cand.select(
        "query_id",
        "vec_id",
        (_dot(F.col("q_emb"), F.col("c_emb"))
         / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
