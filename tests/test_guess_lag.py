"""guess_lag pipeline: planted venue offsets must be recovered on the
tau grid (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tits_spark.datagen import generate_quotes
from tits_spark.functions import kernels as K
from tits_spark.operators.guess_lag import _best_lag, guess_lag
from tits_spark.operators.windows import best_by, first_diff, sliding_last_n, top_k


@pytest.fixture(scope="module")
def quotes(spark):
    return generate_quotes(
        spark, n_ticks=6000, seed=42, lag_ms={"FOLA": 30, "FOLB": 70}
    ).cache()


def test_best_lag_recovers_planted_offsets(quotes):
    out = guess_lag(
        quotes, best=True, max_ticks=4096, nlags=32, tau=0.01
    ).toPandas()
    assert len(out) > 0
    # leader -> follower pairs: follower lags by +offset
    got = {}
    for _, r in out.iterrows():
        got[(r["side"], r["key1"], r["key2"])] = r["best_lag"]
    for side in ("BID", "ASK"):
        for follower, ms in (("FOLA", 30), ("FOLB", 70)):
            k = (side, "LEAD", follower)
            if k in got:
                # planted delay recovered within +-1 tau step
                assert abs(got[k] - ms / 1000.0) <= 0.011, (k, got[k])


def test_full_correlogram_shape(quotes):
    out = guess_lag(quotes, best=False, nlags=16, tau=0.01)
    pdf = out.toPandas()
    per_pair = pdf.groupby(["side", "key1", "key2"]).size()
    assert (per_pair == 33).all()  # 2*nlags + 1


def _ref_best(xcf, nlags, tau):
    """The reference's argmax loop (ref:guess_lag.c:286-304)."""
    bestl, bestx = 0, xcf[0]
    for k in range(1, xcf.size):
        if xcf[k] > bestx:
            bestx, bestl = xcf[k], k
    return (float("nan") if np.isnan(bestx) else (bestl - nlags) * tau), bestx


def test_best_lag_matches_reference_loop():
    rng = np.random.default_rng(3)
    cases = [np.full(9, np.nan), np.array([np.nan, 0.9, 0.1, 0.9]),
             np.array([0.2, np.nan, 0.7, 0.7, np.nan]), np.array([0.5, 0.5])]
    for _ in range(200):
        x = rng.integers(0, 5, 2 * 4 + 1).astype(float) / 4  # ties
        x[rng.random(x.size) < 0.2] = np.nan
        cases.append(x)
    for x in cases:
        nlags = (x.size - 1) // 2
        got, want = _best_lag(x, nlags, 0.01), _ref_best(x, nlags, 0.01)
        np.testing.assert_array_equal(got, want, err_msg=str(x))


def _books(pdf, max_ticks):
    """The bounded books guess_lag scores, built in pandas: the newest
    ``max_ticks`` rows per (side, venue) in (t, px) order."""
    t = pdf["ts"].astype("datetime64[us]").astype(np.int64) / 1e6
    out = {}
    for side, col in (("BID", "bid"), ("ASK", "ask")):
        m = pdf[col].notna()
        b = pd.DataFrame({"venue": pdf["venue"][m], "t": t[m], "px": pdf[col][m]})
        for venue, g in b.groupby("venue"):
            g = g.sort_values(["t", "px"]).iloc[-max_ticks:]
            out[(side, venue)] = (g["t"].to_numpy(), g["px"].to_numpy())
    return out


def _want_xcf(books, side, k1, k2, edg, nlags, tau):
    """K.xcor of one ordered pair on books prepared in pandas."""
    (t1, p1), (t2, p2) = books[(side, k1)], books[(side, k2)]
    t1, p1 = t1[-edg:], p1[-edg:]
    return K.xcor(t1[1:] - t1[0], np.diff(p1), t2[1:] - t1[0], np.diff(p2), nlags, tau)


def test_best_xcf_matches_kernel_on_pandas_books(quotes):
    """Every pair's best_xcf is K.xcor on the pair's books prepared in
    pandas: newest edg_ticks of the trigger, rebased to its first ts,
    first-differenced."""
    max_ticks, nlags, tau = 4096, 32, 0.01
    edg, low = 3 * max_ticks // 4 + 1, 2 * max_ticks // 4 + 1
    books = _books(quotes.toPandas(), max_ticks)
    want = {}
    for (side, k1), (t1, _) in books.items():
        for (side2, k2), (t2, _) in books.items():
            if side2 != side or k1 == k2 or t1.size < edg or t2.size < low:
                continue
            xcf = _want_xcf(books, side, k1, k2, edg, nlags, tau)
            want[(side, k1, k2)] = _ref_best(xcf, nlags, tau)
    out = guess_lag(quotes, best=True, max_ticks=max_ticks, nlags=nlags, tau=tau).collect()
    got = {(r["side"], r["key1"], r["key2"]): (r["best_lag"], r["best_xcf"]) for r in out}
    assert set(got) == set(want) and len(want) > 0
    for k, (lag, x) in want.items():
        assert got[k][0] == pytest.approx(lag, abs=1e-12), k
        assert got[k][1] == pytest.approx(x, abs=1e-12), k


def test_tied_timestamps_do_not_change_result(spark):
    """Books with equal-ts ticks score the same whatever order the rows
    reach the scorer in: equal timestamps are ordered by price."""
    pdf = generate_quotes(spark, n_ticks=3000, seed=5).toPandas()
    rng = np.random.default_rng(5)
    for _, idx in pdf.groupby("venue").groups.items():
        idx = np.asarray(idx)
        dup = rng.choice(np.arange(1, idx.size), idx.size // 8, replace=False)
        pdf.loc[idx[dup], "ts"] = pdf.loc[idx[dup - 1], "ts"].to_numpy()
    schema = "ts timestamp, venue string, bid double, ask double"
    kw = dict(best=True, max_ticks=4096, edg_ticks=2000, low_ticks=1500,
              nlags=16, tau=0.01)

    def run(df):
        return sorted(guess_lag(df, **kw).collect())

    a = run(spark.createDataFrame(pdf, schema))
    shuffled = pdf.sample(frac=1.0, random_state=9).reset_index(drop=True)
    b = run(spark.createDataFrame(shuffled, schema).repartition(7))
    assert len(a) == 12
    assert a == b


def test_tie_at_max_ticks_cutoff_keeps_the_same_ticks(spark):
    """When equal timestamps straddle the max_ticks cutoff, the book keeps
    the newest ticks in (ts, px) order whatever order the rows arrive in:
    shuffled and repartitioned copies score as the pandas books do."""
    pdf = generate_quotes(spark, n_ticks=3000, seed=5).toPandas()
    for _, idx in pdf.groupby("venue").groups.items():
        idx = np.asarray(idx)  # half of each venue's ticks share a ts
        pdf.loc[idx[1::2], "ts"] = pdf.loc[idx[0:-1:2], "ts"].to_numpy()
    schema = "ts timestamp, venue string, bid double, ask double"
    max_ticks, nlags, tau = 1000, 16, 0.01
    edg = 3 * max_ticks // 4 + 1
    books = _books(pdf, max_ticks)
    want = {(s, k1, k2): _ref_best(_want_xcf(books, s, k1, k2, edg, nlags, tau), nlags, tau)
            for (s, k1) in books for (s2, k2) in books if s == s2 and k1 != k2}
    for seed in (None, 1, 2, 3):
        frame = pdf if seed is None else pdf.sample(frac=1.0, random_state=seed)
        df = spark.createDataFrame(frame.reset_index(drop=True), schema)
        out = guess_lag(df if seed is None else df.repartition(7), best=True,
                        max_ticks=max_ticks, nlags=nlags, tau=tau).collect()
        got = {(r["side"], r["key1"], r["key2"]): (r["best_lag"], r["best_xcf"]) for r in out}
        assert set(got) == set(want) and len(want) == 12
        for k, (lag, x) in want.items():
            assert got[k][0] == pytest.approx(lag, abs=1e-12), (seed, k)
            assert got[k][1] == pytest.approx(x, abs=1e-12), (seed, k)


def test_null_prices_do_not_count_toward_book_bound(spark):
    """NULL asks never enter a book, so they take no place under its
    max_ticks bound: an ASK book with interleaved NULL asks scores its
    newest max_ticks non-NULL asks."""
    pdf = generate_quotes(spark, n_ticks=3000, seed=6).toPandas()
    lead = pdf.index[pdf["venue"] == "LEAD"]
    pdf.loc[lead[::3], "ask"] = np.nan
    max_ticks, nlags, tau = 1500, 8, 0.01
    edg = 3 * max_ticks // 4 + 1
    books = _books(pdf, max_ticks)
    assert pdf.loc[lead, "ask"].notna().sum() > max_ticks  # cutoff inside the book
    quotes = spark.createDataFrame(pdf, "ts timestamp, venue string, bid double, ask double")
    out = guess_lag(quotes, best=False, max_ticks=max_ticks, nlags=nlags, tau=tau)
    out = out.where("side = 'ASK'").toPandas()
    pairs = out.groupby(["key1", "key2"])
    assert {k for k in pairs.groups} == {
        (k1, k2) for k1 in ("LEAD", "FOLA", "FOLB") for k2 in ("LEAD", "FOLA", "FOLB") if k1 != k2
    }
    for (k1, k2), g in pairs:
        np.testing.assert_allclose(
            g.sort_values("lag_time")["xcf"].to_numpy(),
            _want_xcf(books, "ASK", k1, k2, edg, nlags, tau), rtol=0, atol=1e-12,
        )


def test_no_eligible_book_gives_empty_result(spark):
    quotes = generate_quotes(spark, n_ticks=200, seed=1)
    for best, cols in ((True, ["best_lag", "best_xcf"]), (False, ["lag_time", "xcf"])):
        out = guess_lag(quotes, best=best, max_ticks=4096, nlags=8)
        assert out.collect() == []
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            ("side", "string"), ("key1", "string"), ("key2", "string"),
            (cols[0], "double"), (cols[1], "double"),
        ]


def test_constant_partner_gives_nan_lag(spark):
    """A constant-price book has zero variance: its XCF is NaN at every
    lag, so the reference argmax reports a NaN lag, not lag -nlags. The
    NaN reaches Spark as NULL (Arrow's pandas conversion), as in
    best_by."""
    pdf = generate_quotes(spark, n_ticks=3000, seed=8).toPandas()
    pdf.loc[pdf["venue"] == "FOLA", "bid"] = 10.0
    quotes = spark.createDataFrame(pdf, "ts timestamp, venue string, bid double, ask double")
    out = guess_lag(quotes, best=True, max_ticks=4096, edg_ticks=2000,
                    low_ticks=1500, nlags=8).collect()
    got = {(r["side"], r["key1"], r["key2"]): r for r in out}
    assert got[("BID", "LEAD", "FOLA")]["best_lag"] is None
    assert got[("BID", "LEAD", "FOLA")]["best_xcf"] is None
    assert np.isfinite(got[("BID", "LEAD", "FOLB")]["best_lag"])
    assert np.isfinite(got[("ASK", "LEAD", "FOLA")]["best_lag"])


def test_sliding_last_n(spark):
    df = spark.range(100).select(
        F.lit("k").alias("key"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("v"),
    )
    out = sliding_last_n(df, ["key"], "ts", 10).toPandas()
    assert sorted(out["ts"]) == list(range(90, 100))


def test_first_diff(spark):
    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 13.0), ("k", 3, 11.0)], "key string, ts int, v double"
    )
    out = first_diff(df, ["key"], "ts", "v").toPandas().sort_values("ts")
    assert list(out["diff"]) == [3.0, -2.0]
    assert list(out["ts"]) == [2, 3]


def test_best_by_nan_propagation(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 0.5), ("a", 2.0, 0.9), ("a", 3.0, float("nan")),
         ("b", 1.0, float("nan")), ("b", 2.0, float("nan"))],
        "key string, lag double, xcf double",
    )
    out = {r["key"]: (r["best_lag"], r["best_xcf"]) for r in best_by(df, ["key"], "lag", "xcf").collect()}
    assert out["a"] == (2.0, 0.9)          # NaN rows excluded from argmax
    assert out["b"][0] is None             # all-NaN key -> null best


def test_top_k(spark):
    df = spark.createDataFrame(
        [("a", i, float(i % 7)) for i in range(20)], "key string, id int, v double"
    )
    out = top_k(df, ["key"], "v", 3).toPandas()
    assert len(out) == 3
    assert set(out["v"]) <= {6.0, 5.0}


def test_guess_lag_job_end_to_end(spark, tmp_path):
    """The packaged CLI job (jobs/guess_lag_job.py): quotes -> reference
    tick-TSV -> parse -> guess_lag --best -> TSV out, recovering the
    planted 30/70 ms lags (the reference executable's contract,
    ref:guess_lag.c:336-357, --best per guess_lag.yuck:1-5)."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import guess_lag_job

    from tits_spark.sources.tick_source import write_tick_tsv

    q = generate_quotes(spark, n_ticks=6000, seed=42, lag_ms={"FOLA": 30, "FOLB": 70})
    write_tick_tsv(q, str(tmp_path / "ticks"))
    guess_lag_job.main([
        "--input", str(tmp_path / "ticks"),
        "--output", str(tmp_path / "best"),
        "--nlags", "32", "--tau", "0.01",
    ])
    out = (
        spark.read.option("sep", "\t").option("header", True)
        .csv(str(tmp_path / "best"))
        .toPandas()
    )
    assert len(out) > 0
    got = {
        (r["side"], r["key1"], r["key2"]): float(r["best_lag"])
        for _, r in out.iterrows()
    }
    hits = 0
    for side in ("BID", "ASK"):
        for follower, ms in (("FOLA", 30), ("FOLB", 70)):
            k = (side, "LEAD", follower)
            if k in got:
                assert abs(got[k] - ms / 1000.0) <= 0.011, (k, got[k])
                hits += 1
    assert hits >= 2
