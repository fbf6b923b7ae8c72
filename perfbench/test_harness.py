"""Tests of the benchmark's own harness (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------------ generator


def test_same_seed_same_digest():
    assert gen.digest(gen.transcripts(5, 3, 40)) == gen.digest(gen.transcripts(5, 3, 40))
    assert gen.digest(gen.quotes(5, 500)) == gen.digest(gen.quotes(5, 500))


def test_other_seed_other_digest():
    assert gen.digest(gen.transcripts(5, 3, 40)) != gen.digest(gen.transcripts(6, 3, 40))
    assert gen.digest(gen.quotes(5, 500)) != gen.digest(gen.quotes(6, 500))


def test_transcripts_shape():
    t = gen.transcripts(1, 4, 50)
    assert t.schema == gen.TRANSCRIPT_SCHEMA
    ts = t.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    assert np.all(np.diff(ts) >= 0)
    b = gen.day_bounds(t, 4)
    assert b[0] == 0 and b[-1] == t.num_rows
    # every day holds turns, and only turns of that day
    for d in range(4):
        day = ts[b[d]:b[d + 1]]
        assert len(day) > 0
        assert np.all((day - gen.EPOCH_US) // gen.DAY_US == d)
    # per conversation: turn_idx counts up and ts strictly increases
    df = t.to_pandas()
    for _, g in df.groupby("conv_id"):
        assert g["ts"].is_monotonic_increasing and g["ts"].is_unique


def test_quotes_planted_lags():
    q = gen.quotes(3, 2000).to_pandas()
    assert set(q["venue"]) == {gen.LEADER, *gen.FOLLOWER_LAG_MS}
    lead = q[q["venue"] == gen.LEADER]["ts"].astype("int64").to_numpy()
    for v, ms in gen.FOLLOWER_LAG_MS.items():
        fol = q[q["venue"] == v]["ts"].astype("int64").to_numpy()
        # the follower's ticks are the leader's, ms later, within jitter
        assert len(fol) == len(lead)
        assert abs((fol.mean() - lead.mean()) / 1000 - ms) <= 0.5
    assert q["bid"].notna().all()
    assert 0.10 < q["ask"].notna().mean() < 0.20


# ------------------------------------------------------------ statistics


def test_percentile_interpolates():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(np.percentile(xs, 90))
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_spread_matches_statistics_quantiles():
    xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    s = stats.spread(xs)
    assert s["n"] == 10
    assert s["median"] == statistics.median(xs)
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / statistics.median(xs))


# ------------------------------------------------------------ oracles


def _rows():
    m = 60_000_000
    key = np.array(["a", "a", "a", "b", "a"])
    ts = np.array([0, 10, 3 * m + 5, m, 3 * m + 7]) + gen.EPOCH_US
    val = np.array([1.0, 2.0, 5.0, 4.0, 3.0])
    return oracle.tier_rows(key, ts, val, "1m")


def test_tier_rows_aggregates():
    r = _rows().set_index(["key", "b"])
    a0 = r.loc[("a", gen.EPOCH_US)]
    assert (a0.n_obs, a0.v_sum, a0.v_sumsq, a0.v_first, a0.v_last) == (2, 3.0, 5.0, 1.0, 2.0)
    a3 = r.loc[("a", gen.EPOCH_US + 180_000_000)]
    assert (a3.v_min, a3.v_max, a3.v_first, a3.v_last) == (3.0, 5.0, 5.0, 3.0)
    assert len(r) == 3


def test_gapfill_oracles():
    rows = _rows()
    locf = oracle.locf(rows, "1m")
    a = locf[locf["key"] == "a"]
    assert a["v_last"].tolist() == [2.0, 2.0, 2.0, 3.0]
    assert a["filled"].tolist() == [False, True, True, False]
    lin = oracle.interp(rows, "1m")
    a = lin[lin["key"] == "a"]
    assert a["v_last"].tolist() == pytest.approx([2.0, 2 + 1 / 3, 2 + 2 / 3, 3.0])


def test_m4_oracle_and_same():
    rows = _rows()
    m4 = oracle.m4(rows, 240)
    a = m4[m4["key"] == "a"].iloc[0]
    assert a.n_obs == 2 and a.v_first == 2.0 and a.v_last == 3.0
    assert a.v_min == 2.0 and a.v_max == 3.0
    assert oracle.same(m4, m4.iloc[::-1].reset_index(drop=True))
    other = m4.copy()
    other.loc[0, "v_max"] += 1e-9
    assert not oracle.same(m4, other)
    assert oracle.same(m4, other, rel=1e-6)


def test_parse_size():
    assert spans.parse_size("total (min, med, max)\n7.5 MiB (1.0 MiB, 2.0 MiB)") == 7.5 * 2**20
    assert spans.parse_size("123 B") == 123.0
    assert spans.parse_size("n/a") == 0.0



# ------------------------------------------------------------ recorded facts


def _json(path):
    with open(path) as f:
        return json.load(f)


def test_manifest_matches_code():
    import harness
    import workloads

    m = _json(os.path.join(os.path.dirname(__file__), "manifest.json"))
    assert m["spark"]["cores"] == harness.CORES
    assert m["spark"]["master"] == f"local[{harness.CORES}]"
    assert m["spark"]["shuffle_partitions"] == harness.SHUFFLE_PARTITIONS
    assert m["spark"]["driver_memory"] == harness.DRIVER_MEMORY
    assert set(m["workloads"]) == set(workloads.WORKLOADS)
    for name, wl in workloads.WORKLOADS.items():
        assert m["workloads"][name]["min_ops"] == wl.min_ops


def test_benchmark_json_names_every_metric_once():
    b = _json(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json"))
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    import workloads

    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert len(b["per_layer"]) <= 128
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    m = _json(os.path.join(os.path.dirname(__file__), "manifest.json"))
    mapped = {name for row in m["layer_to_end_to_end"] for name in row["layer"]}
    assert mapped <= set(names)
