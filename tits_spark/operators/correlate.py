"""Correlation analytics over keyed irregular series.

Two execution strategies, matching SURVEY.md §2.9/§4:

1. ``sacf_by_key`` / ``xcor_pairs`` / ``ar_fit_by_key`` / ``perio_by_key``
   — grouped/cogrouped ``applyInPandas`` running the C-parity numpy
   kernels (tits_spark.functions.kernels). This IS the scalable path for
   per-key analytics at 10^12 turns: each series fits one Arrow batch,
   keys distribute across executors on the groupBy hash shuffle, and the
   two-pointer band sweep is O(n*w) inside each task. Skewed giant keys
   are bounded by the generator cap / sliding-window crop (W1).

2. ``acf_bandjoin`` — the same kernel-weighted ACF expressed purely in
   DataFrame operators (self range-join bucketed into an equi-join +
   filter, ref:sacf.c:166-179 re-derived relationally; SURVEY.md §4
   "sorted two-pointer band pruning" option b). Catalyst handles
   pushdown/AQE; used for the DuckDB correctness oracle and for
   cross-key correlation where per-group state would not fit.

Normalization note: strategy 1 replicates the reference's 4-lane Welford
z-norm bit-for-bit; strategy 2 uses declarative avg/stddev_samp (the
distributed partial+final analog, SURVEY.md §2.4 A2) — equal to ~1e-15.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from tits_spark.functions import kernels as K

_ACF_SCHEMA = "key string, lag int, acf double"
_XCF_SCHEMA = "key1 string, key2 string, lag int, xcf double"
_AR_SCHEMA = "key string, coef_idx int, ar double"

_PACF_SCHEMA = "key string, lag int, pacf double"
_PERIO_SCHEMA = "key string, freq_idx int, power double"


def _series(pdf: pd.DataFrame, ts: str, value: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = pdf.sort_values(ts, kind="stable")
    t = pdf[ts].to_numpy()
    if np.issubdtype(t.dtype, np.datetime64):
        t = t.astype("datetime64[ns]").astype(np.int64) / 1e9
    t = t.astype(np.float64)
    return t - (t[0] if t.size else 0.0), pdf[value].to_numpy(dtype=np.float64)


def sacf_by_key(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nlags: int = 10,
    tau: float = 1.0,
    min_points: int = 8,
) -> DataFrame:
    """Per-key kernel-weighted sample ACF -> rows (key, lag, acf),
    lag = 1..nlags on the tau grid. ref:sacf.c:185-226.

    Every operator here normalizes with the kernels' vectorized
    ``stats="fast"`` two-pass (== C-parity Welford to ~1e-15, far below
    the 6-dp oracle gate)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_points:
            return pd.DataFrame(columns=["key", "lag", "acf"])
        t, y = _series(pdf, ts, value)
        acf = K.sacf(t, y, nlags, tau, stats="fast")
        return pd.DataFrame({
            "key": pdf[key].iloc[0],
            "lag": np.arange(1, nlags + 1, dtype=np.int32),
            "acf": acf,
        })

    return df.groupBy(key).applyInPandas(fn, schema=_ACF_SCHEMA)


def sacf_by_key_batched(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nlags: int = 10,
    tau: float = 1.0,
    min_points: int = 8,
) -> DataFrame:
    """Same result as sacf_by_key, but batched: keys are hash-clustered
    and sorted within partitions, then mapInPandas processes MANY series
    per Arrow batch (keys split across batch boundaries are carried
    over). For workloads with millions of short series this removes the
    per-group scheduling/serialization overhead of grouped applyInPandas
    (measured ~3x at bench scale) while keeping the identical kernel."""
    parts = df.repartition(F.col(key)).sortWithinPartitions(key, ts)

    def fn(batches):
        lag_tmpl = np.arange(1, nlags + 1, dtype=np.int32)

        def process(pdf: pd.DataFrame):
            # rows arrive sorted by (key, ts): find group starts with
            # numpy instead of pandas.groupby (per-tiny-group pandas
            # object + per-series DataFrame construction dominated the
            # stage — the gorilla compress_partitions device; per-series
            # arrays and kernel calls are IDENTICAL)
            k_arr = pdf[key].to_numpy()
            t_all = pdf[ts].to_numpy()
            if np.issubdtype(t_all.dtype, np.datetime64):
                t_all = t_all.astype("datetime64[ns]").astype(np.int64) / 1e9
            t_all = t_all.astype(np.float64)
            v_all = pdf[value].to_numpy(np.float64)
            new_grp = np.ones(len(pdf), dtype=bool)
            new_grp[1:] = k_arr[1:] != k_arr[:-1]
            starts = np.flatnonzero(new_grp)
            ends = np.append(starts[1:], len(pdf))
            keys_out = []
            acfs = []
            for s, e in zip(starts, ends):
                if e - s < min_points:
                    continue
                t = t_all[s:e]
                acfs.append(K.sacf(t - t[0], v_all[s:e], nlags, tau, stats="fast"))
                keys_out.append(k_arr[s])
            if acfs:
                n = len(acfs)
                yield pd.DataFrame({
                    "key": np.repeat(np.asarray(keys_out), nlags),
                    "lag": np.tile(lag_tmpl, n),
                    "acf": np.concatenate(acfs),
                })

        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf[key].iloc[-1]
            m = pdf[key] == last
            carry = pdf[m]
            yield from process(pdf[~m])
        if carry is not None and len(carry):
            yield from process(carry)

    return parts.mapInPandas(fn, schema=_ACF_SCHEMA)


def xcor_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nlags: int = 10,
    tau: float = 1.0,
    min_points: int = 8,
) -> DataFrame:
    """Kernel-weighted XCF for each (key1, key2) row of ``pairs`` ->
    rows (key1, key2, lag, xcf), lag = -nlags..+nlags. ref:xcor.c:185-238.

    Plan shape: ``pairs`` (small: series registry self-join J1) is
    broadcast onto the series table twice — once per side — then the
    pair-tagged observations cogroup on (key1, key2). Each side's rows
    are shuffled once per pair membership; no driver-side loop.
    """
    p = pairs.select("key1", "key2")
    d1 = df.alias("d1")
    d2 = df.alias("d2")
    side1 = d1.join(F.broadcast(p.alias("p1")), F.col(f"d1.{key}") == F.col("p1.key1")).select(
        F.col("p1.key1").alias("key1"), F.col("p1.key2").alias("key2"),
        F.col(f"d1.{ts}").alias("ts"), F.col(f"d1.{value}").alias("value"),
    )
    side2 = d2.join(F.broadcast(p.alias("p2")), F.col(f"d2.{key}") == F.col("p2.key2")).select(
        F.col("p2.key1").alias("key1"), F.col("p2.key2").alias("key2"),
        F.col(f"d2.{ts}").alias("ts"), F.col(f"d2.{value}").alias("value"),
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) < min_points or len(right) < min_points:
            return pd.DataFrame(columns=["key1", "key2", "lag", "xcf"])
        # rebase both to the triggering series' first ts (ref:guess_lag.c:272)
        l = left.sort_values("ts", kind="stable")
        r = right.sort_values("ts", kind="stable")
        t1 = l["ts"].to_numpy()
        t2 = r["ts"].to_numpy()
        if np.issubdtype(t1.dtype, np.datetime64):
            t1 = t1.astype("datetime64[ns]").astype(np.int64) / 1e9
            t2 = t2.astype("datetime64[ns]").astype(np.int64) / 1e9
        tref = t1[0]
        xcf = K.xcor(
            t1.astype(np.float64) - tref, l["value"].to_numpy(np.float64),
            t2.astype(np.float64) - tref, r["value"].to_numpy(np.float64),
            nlags, tau, stats="fast",
        )
        return pd.DataFrame({
            "key1": l["key1"].iloc[0],
            "key2": l["key2"].iloc[0],
            "lag": np.arange(-nlags, nlags + 1, dtype=np.int32),
            "xcf": xcf,
        })

    return (
        side1.groupBy("key1", "key2")
        .cogroup(side2.groupBy("key1", "key2"))
        .applyInPandas(fn, schema=_XCF_SCHEMA)
    )


def ar_fit_by_key(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    order: int = 4,
    tau: float = 1.0,
    min_points: int = 8,
) -> DataFrame:
    """Per-key AR(order) fit: sacf -> Levinson-Durbin -> rows
    (key, coef_idx, ar). ref:acf24ar.c:48-80 (Q3 composed with Q1)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_points:
            return pd.DataFrame(columns=["key", "coef_idx", "ar"])
        t, y = _series(pdf, ts, value)
        acf = K.sacf(t, y, order, tau, stats="fast")
        if np.isnan(acf).any():
            return pd.DataFrame(columns=["key", "coef_idx", "ar"])
        ar = K.acf2ar(acf, order)
        return pd.DataFrame({
            "key": pdf[key].iloc[0],
            "coef_idx": np.arange(order, dtype=np.int32),
            "ar": ar,
        })

    return df.groupBy(key).applyInPandas(fn, schema=_AR_SCHEMA)


def pacf_by_key(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    order: int = 4,
    tau: float = 1.0,
    min_points: int = 8,
) -> DataFrame:
    """Per-key partial autocorrelation at lags 1..order: sacf -> the
    Levinson reflection coefficients (Q1 composed with the Q3 recursion,
    ref:acf24ar.c:48-73 — pacf[k] is what the order-k AR fit's last
    coefficient would be, the standard model-identification diagnostic
    the reference's acf->ar tooling exists to serve).

    Returns (key, lag 1..order, pacf); one shuffle (groupBy key), NaN
    lags (early Levinson break) dropped."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_points:
            return pd.DataFrame(columns=["key", "lag", "pacf"])
        t, y = _series(pdf, ts, value)
        acf = K.sacf(t, y, order, tau, stats="fast")
        if np.isnan(acf).any():
            return pd.DataFrame(columns=["key", "lag", "pacf"])
        pacf = K.acf2pacf(acf, order)
        keep = ~np.isnan(pacf)
        return pd.DataFrame({
            "key": pdf[key].iloc[0],
            "lag": np.arange(1, order + 1, dtype=np.int32)[keep],
            "pacf": pacf[keep],
        })

    return df.groupBy(key).applyInPandas(fn, schema=_PACF_SCHEMA)


def ar_stationarity_by_key(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    order: int = 4,
    tau: float = 1.0,
    min_points: int = 8,
) -> DataFrame:
    """AR(order) fit + stationarity check: roots of the AR
    characteristic polynomial 1 + a1 z + ... + ap z^p must lie outside
    the unit circle (Q3 composed with Q4, the reference's intended use
    of roots for AR diagnostics — ref:acf24ar.c + roots.c).

    Returns (key, coef_idx, ar, min_root_mod, stationary)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["key", "coef_idx", "ar", "min_root_mod", "stationary"]
        if len(pdf) < min_points:
            return pd.DataFrame(columns=cols)
        t, y = _series(pdf, ts, value)
        acf = K.sacf(t, y, order, tau, stats="fast")
        if np.isnan(acf).any():
            return pd.DataFrame(columns=cols)
        ar = K.acf2ar(acf, order)
        # characteristic poly p(z) = 1 + ar_1 z + ... + ar_p z^p
        coefs = np.concatenate(([1.0], ar))
        if abs(coefs[-1]) < 1e-300:
            mods = np.array([np.inf])
        else:
            reals, pairs = K.roots(coefs)
            mods = np.concatenate([
                np.abs(reals),
                np.sqrt(pairs[:, 0] ** 2 + pairs[:, 1] ** 2) if len(pairs) else [],
            ])
        mrm = float(mods.min()) if mods.size else float("inf")
        return pd.DataFrame({
            "key": pdf[key].iloc[0],
            "coef_idx": np.arange(order, dtype=np.int32),
            "ar": ar,
            "min_root_mod": mrm,
            "stationary": mrm > 1.0,
        })

    schema = (
        "key string, coef_idx int, ar double, min_root_mod double, stationary boolean"
    )
    return df.groupBy(key).applyInPandas(fn, schema=schema)


def perio_by_key(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nw: int = 8,
    min_points: int = 8,
) -> DataFrame:
    """Per-key Lomb-Scargle periodogram on t rescaled to [0, 1) ->
    rows (key, freq_idx, power); frequency = freq_idx + 1 cycles per
    observed span. ref:perio.c:49-86."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < min_points:
            return pd.DataFrame(columns=["key", "freq_idx", "power"])
        t, y = _series(pdf, ts, value)
        span = t[-1] if t[-1] > 0 else 1.0
        power = K.perio(t / span, y, nw)
        return pd.DataFrame({
            "key": pdf[key].iloc[0],
            "freq_idx": np.arange(nw, dtype=np.int32),
            "power": power,
        })

    return df.groupBy(key).applyInPandas(fn, schema=_PERIO_SCHEMA)


def perio_declarative(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nw: int = 8,
) -> DataFrame:
    """Lomb-Scargle periodogram as pure DataFrame algebra (SURVEY.md
    §2.4 A5): explode the integer frequency grid, aggregate the five
    trig sums per (key, freq), apply the phase-rotated power formula
    (ref:perio.c:49-86) as column expressions. Matches perio_by_key to
    float tolerance; oracle-checkable in SQL."""
    from tits_spark.functions.exprs import ts_seconds

    from pyspark.sql import Window

    w = Window.partitionBy(key)
    t_raw = ts_seconds(ts)
    wk = Window.partitionBy("key")
    prep = (
        df.select(F.col(key).alias("key"), t_raw.alias("tr"), F.col(value).alias("y"))
        .withColumn("tmin", F.min("tr").over(wk))
        .withColumn("span", F.max("tr").over(wk) - F.min("tr").over(wk))
        .withColumn("t", (F.col("tr") - F.col("tmin")) / F.col("span"))
    )

    freqs = F.explode(F.sequence(F.lit(0), F.lit(nw - 1))).alias("freq_idx")
    theta = F.lit(2.0 * np.pi) * (F.col("freq_idx") + 1) * F.col("t")
    sums = (
        prep.select("key", "t", "y", freqs)
        .withColumn("c", F.cos(theta))
        .withColumn("s", F.sin(theta))
        .groupBy("key", "freq_idx")
        .agg(
            F.sum(F.col("y") * F.col("c")).alias("xc"),
            F.sum(F.col("y") * F.col("s")).alias("xs"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
            F.sum(F.col("s") * F.col("s")).alias("ss"),
            F.sum(F.col("c") * F.col("s")).alias("cs"),
        )
    )
    ph = F.atan2(2.0 * F.col("cs"), F.col("cc") - F.col("ss")) / 2.0
    cp, sp = F.cos(ph), F.sin(ph)
    ct = cp * F.col("xc") + sp * F.col("xs")
    st = cp * F.col("xs") - sp * F.col("xc")
    cct, sst, cst = cp * cp, sp * sp, cp * sp
    power = F.lit(0.5) * (
        (ct * ct) / (cct * F.col("cc") + 2.0 * cst * F.col("cs") + sst * F.col("ss"))
        + (st * st) / (cct * F.col("ss") - 2.0 * cst * F.col("cs") + sst * F.col("cc"))
    )
    return sums.select("key", "freq_idx", power.alias("power"))


def xcf_bandjoin(
    df: DataFrame,
    key1: str,
    key2: str,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nlags: int = 8,
    tau: float = 1.0,
) -> DataFrame:
    """Kernel-weighted cross-correlation between two named series as
    pure DataFrame algebra (declarative twin of xcor_pairs, the XCF
    analog of acf_bandjoin; ref:xcor.c:153-181). Lags -nlags..+nlags;
    kernel width from the smaller mean time-step (ref:xcor.c:223).
    Both series are rebased to series 1's first timestamp.

    PRECONDITION — exactly two series: this operator uses two global
    (unpartitioned) windows for the shared rebase origin and kernel
    width, which funnel the input through a single partition. That is
    safe ONLY because the first thing it does is filter to the two
    named keys; do NOT adapt it to a many-pair table — ``xcor_pairs``
    is the scalable many-pair path (broadcast pair registry, one
    cogroup shuffle, no global window)."""
    from pyspark.sql import Window

    from tits_spark.functions.exprs import ts_seconds

    if key1 == key2:
        raise ValueError(
            "xcf_bandjoin needs two distinct series; for the "
            "autocorrelation use acf_bandjoin"
        )
    t_sec = ts_seconds(ts)
    w = Window.partitionBy(key)
    wot = Window.partitionBy(key).orderBy(t_sec)
    two = df.filter(F.col(key).isin([key1, key2]))
    trunc = (
        two.select(
            F.col(key).alias("key"), t_sec.alias("t_raw"), F.col(value).alias("v"),
            F.row_number().over(wot).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .filter(F.col("rn") <= F.col("n") - F.col("n") % 4)
        .drop("rn", "n")
    )
    wk = Window.partitionBy("key")
    wko = Window.partitionBy("key").orderBy("t_raw")
    # bounded-global-window: broadcasts ONE scalar (key1's min t) across
    # the two-key pair frame this operator is documented to receive
    glob = Window.partitionBy()
    prep = (
        trunc
        .withColumn("znorm", (F.col("v") - F.avg("v").over(wk)) / F.stddev_samp("v").over(wk))
        .withColumn(
            "tref",
            F.min(F.when(F.col("key") == key1, F.col("t_raw"))).over(glob),
        )
        .withColumn("t", (F.col("t_raw") - F.col("tref")) / F.lit(tau))
        .withColumn("dt", F.col("t") - F.lag("t").over(wko))
        .withColumn("mdt", F.avg("dt").over(wk))
        .withColumn("h", F.lit(0.25) * F.min("mdt").over(glob))
        .select("key", "t", F.col("znorm").alias("y"), "h")
    )
    base = prep.withColumn(
        "bkt", F.floor(F.col("t") / (F.lit(float(nlags)) + F.col("h") * 5.0))
    )
    l = base.filter(F.col("key") == key1).withColumn(
        "bkt", F.explode(F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1))
    ).alias("l")
    r = base.filter(F.col("key") == key2).alias("r")
    band = F.col("r.t") - F.col("l.t")
    reach = F.col("l.h") * 5.0
    pairs = l.join(
        r,
        (F.col("l.bkt") == F.col("r.bkt"))
        & (band > F.lit(float(-nlags)) - reach)
        & (band < F.lit(float(nlags)) + reach),
    )
    lag_lo = F.greatest(F.lit(-nlags), F.ceil(band - reach).cast("int"))
    lag_hi = F.least(F.lit(nlags), F.floor(band + reach).cast("int"))
    contrib = (
        pairs.filter(lag_lo <= lag_hi)
        .select(
            F.col("l.y").alias("y1"), F.col("r.y").alias("y2"),
            band.alias("d"), F.col("l.h").alias("h"),
            F.explode(F.sequence(lag_lo, lag_hi)).alias("lag"),
        )
        .withColumn("kd", F.col("lag") - F.col("d"))
        .filter(F.abs("kd") < F.col("h") * 5.0)
        .withColumn(
            "K",
            F.exp(F.col("kd") * F.col("kd") * (F.lit(-1.0) / (F.lit(2.0) * F.col("h") * F.col("h"))))
            / F.sqrt(F.lit(2.0 * np.pi) * F.col("h")),
        )
    )
    return (
        contrib.groupBy("lag")
        .agg((F.sum(F.col("y1") * F.col("y2") * F.col("K")) / F.sum("K")).alias("xcf"))
        .select(F.lit(key1).alias("key1"), F.lit(key2).alias("key2"), "lag", "xcf")
    )


# ------------------------------------------------------- band-join strategy

def acf_bandjoin(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nlags: int = 10,
    tau: float = 1.0,
) -> DataFrame:
    """Kernel-weighted ACF as pure DataFrame algebra (no Python UDF).

    Steps (all built-in, whole-stage-codegen'd):
      1. per-key z-norm + mean-dt via window/agg expressions;
      2. self-join per key on the time band |dt| < nlags + 5h —
         re-expressed as an equi-join on (key, time bucket) with the
         band filter on top, so Catalyst picks a shuffled hash join on
         (key, bucket) instead of a nested-loop theta join;
      3. each in-band pair contributes to every integer lag k in
         [dt-5h, dt+5h] (one sequence+explode, no per-lag re-join);
      4. groupBy (key, lag): acf = sum(y1*y2*K)/sum(K),
         K = exp(-(k-dt)^2/(2h^2)) / sqrt(2*pi*h).

    Matches sacf_by_key to float tolerance (different normalization
    accumulation); exact vs the DuckDB oracle under 6-dp rounding.
    """
    from pyspark.sql import Window

    from tits_spark.functions.exprs import ts_seconds

    t_sec = ts_seconds(ts)
    w = Window.partitionBy(key)
    wo = Window.partitionBy(key).orderBy("t")

    # replicate the reference's truncation of each series to a multiple
    # of the SIMD lane width (ref:sacf.c:193-196): drop the last n % 4
    # points in time order, BEFORE computing normalization stats
    wot = Window.partitionBy(key).orderBy(t_sec)
    trunc = (
        df.select(
            F.col(key).alias("key"),
            t_sec.alias("t_raw"),
            F.col(value).alias("v"),
            F.row_number().over(wot).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .filter(F.col("rn") <= F.col("n") - F.col("n") % 4)
        .drop("rn", "n")
    )

    prep = (
        trunc
        .withColumn("znorm", (F.col("v") - F.avg("v").over(w)) / F.stddev_samp("v").over(w))
        .withColumn("tmin", F.min("t_raw").over(w))
        .withColumn("t", (F.col("t_raw") - F.col("tmin")) / F.lit(tau))
        .withColumn("dt", F.col("t") - F.lag("t").over(wo))
        .withColumn("h", F.lit(0.25) * F.avg("dt").over(w))
        .select("key", "t", F.col("znorm").alias("y"), "h")
    )

    # bucket width = nlags + 5h so pairs within the |dt| < nlags + 5h band
    # land in the same or adjacent bucket; h is per-key constant so the
    # width is exact per key. Left side explodes into 3 buckets, turning
    # the theta range-join into an equi-join + filter.
    base = prep.withColumn(
        "bkt", F.floor(F.col("t") / (F.lit(float(nlags)) + F.col("h") * 5.0))
    )
    l = base.withColumn(
        "bkt", F.explode(F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1))
    ).alias("l")
    r = base.alias("r")

    band = F.col("r.t") - F.col("l.t")  # dt in tau units
    reach = F.col("l.h") * 5.0
    pairs = l.join(
        r,
        (F.col("l.key") == F.col("r.key"))
        & (F.col("l.bkt") == F.col("r.bkt"))
        & (band > -reach)  # lag >= 1 side handled by the lag sequence
        & (band < F.lit(float(nlags)) + reach),
    )

    lag_lo = F.greatest(F.lit(1), F.ceil(band - reach).cast("int"))
    lag_hi = F.least(F.lit(nlags), F.floor(band + reach).cast("int"))
    contrib = (
        pairs.filter(lag_lo <= lag_hi)
        .select(
            F.col("l.key").alias("key"),
            F.col("l.y").alias("y1"),
            F.col("r.y").alias("y2"),
            band.alias("d"),
            F.col("l.h").alias("h"),
            F.explode(F.sequence(lag_lo, lag_hi)).alias("lag"),
        )
        .withColumn("kd", F.col("lag") - F.col("d"))
        .filter(F.abs("kd") < F.col("h") * 5.0)
        .withColumn(
            "K",
            F.exp(F.col("kd") * F.col("kd") * (F.lit(-1.0) / (F.lit(2.0) * F.col("h") * F.col("h"))))
            / F.sqrt(F.lit(2.0 * np.pi) * F.col("h")),
        )
    )
    return (
        contrib.groupBy("key", "lag")
        .agg((F.sum(F.col("y1") * F.col("y2") * F.col("K")) / F.sum("K")).alias("acf"))
    )


def forecast_ar(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    order: int = 3,
    horizon: int = 5,
    tau: float = 1.0,
    min_points: int = 8,
    coef_decimals: int = 6,
) -> DataFrame:
    """h-step AR forecast per key: (key, step, yhat).

    Composes :func:`ar_fit_by_key` (sacf -> Levinson, the error-filter
    convention of ref:acf24ar.c:48-73 where the one-step prediction of
    the demeaned series is ``-(a1*d[t-1] + ... + ap*d[t-p])``) with a
    fixed-horizon recursion built SYMBOLICALLY as column expressions —
    no UDF: each step's forecast substitutes earlier steps for
    unavailable lags, exactly the textbook multi-step AR recursion.

    Determinism contract: coefficients are quantized to
    ``coef_decimals`` BEFORE forecasting (the ar_fit oracle proves the
    quantized values engine-equal), the recursion is associated
    left-to-right, and the mean enters once per step — so a SQL twin
    evaluating the same expression tree reproduces every step to ~1e-9
    (one final round on yhat absorbs it).
    """
    fit = ar_fit_by_key(df, key, ts, value, order, tau, min_points)
    coefs = fit.groupBy(key).pivot("coef_idx", list(range(order))).agg(
        F.first("ar")
    )
    coefs = coefs.select(
        key, *[
            F.round(F.col(str(i)), coef_decimals).alias(f"a{i + 1}")
            for i in range(order)
        ]
    )
    wk = Window.partitionBy(key)
    wo = Window.partitionBy(key).orderBy(F.desc(ts), F.desc(value))
    lasts = (
        df.where(F.col(value).isNotNull())
        .withColumn("_mean", F.avg(value).over(wk))
        .withColumn("_rn", F.row_number().over(wo))
        .where(F.col("_rn") <= order)
        .groupBy(key)
        .agg(
            F.first("_mean").alias("mean"),
            *[
                F.min(F.when(F.col("_rn") == i + 1, F.col(value) - F.col("_mean")))
                .alias(f"d{i + 1}")
                for i in range(order)
            ],
        )
    )
    j = coefs.join(lasts, key)
    # lags[0] = most recent demeaned value (or prior forecast)
    lags = [F.col(f"d{i + 1}") for i in range(order)]
    steps = []
    for s in range(1, horizon + 1):
        expr = None
        for i in range(order):
            term = F.col(f"a{i + 1}") * lags[i]
            expr = term if expr is None else expr + term
        f_s = -expr
        steps.append(
            F.struct(F.lit(s).alias("step"), (F.col("mean") + f_s).alias("y"))
        )
        lags = [f_s] + lags[:-1]
    out = j.select(key, F.explode(F.array(steps)).alias("fc"))
    return out.select(
        key, F.col("fc.step").alias("step"),
        F.round(F.col("fc.y"), 4).alias("yhat"),
    )


def ljung_box(
    df: DataFrame,
    key: str = "key",
    ts: str = "ts",
    value: str = "value",
    nlags: int = 3,
    tau: float = 3600.0,
    decimals: int = 6,
) -> DataFrame:
    """Ljung-Box whiteness statistic over the kernel-weighted ACF:
    Q = n(n+2) * sum_k rho_k^2 / (n-k) for k = 1..nlags, with n the
    SIMD-truncated series length the ACF itself uses (ref:
    /root/reference/src/sacf.c lane truncation). Completes the AR
    diagnostics chain fit -> stationarity -> residual whiteness; Q ~
    chi2(nlags) under "no autocorrelation" (compare to 7.81 at 5% for
    3 lags — the chi2 quantile itself is left to the caller, being a
    transcendental constant, not data).

    The ACF estimates are quantized to ``decimals`` BEFORE entering Q
    (both engines then combine identical doubles), matching the gated
    acf_band projection.
    """
    acf = acf_bandjoin(df, key, ts, value, nlags=nlags, tau=tau)
    acf_q = acf.select(key, "lag", F.round("acf", decimals).alias("_r"))
    n_tr = df.groupBy(key).agg(
        (F.count(value) - F.count(value) % 4).alias("_ntr")
    )
    j = acf_q.join(n_tr, key)
    term = F.col("_r") * F.col("_r") / (F.col("_ntr") - F.col("lag"))
    n = F.max("_ntr")
    return (
        j.groupBy(key)
        .agg(
            n.alias("n_obs"),
            F.count("lag").alias("dof"),
            F.round((n * (n + 2)).cast("double") * F.sum(term), decimals).alias(
                "q_stat"
            ),
        )
    )
