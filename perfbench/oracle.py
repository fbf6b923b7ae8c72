"""pandas reference results the benchmark checks the engine against.

Each function recomputes, from the generator's own rows, what the engine
should return for one operation, in the same column order the benchmark
selects from the engine's output, with timestamps as epoch microseconds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TIER_US = {"1m": 60_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}

TIER_COLS = ["key", "b", "n_obs", "v_sum", "v_sumsq", "v_min", "v_max",
             "v_first", "v_last", "first_ts", "last_ts"]


def tier_rows(key, ts_us, value, tier: str) -> pd.DataFrame:
    """The rollup tier of raw points: one row per (key, bucket) with the
    associative aggregates of ``tits_spark.operators.rollup``."""
    w = TIER_US[tier]
    df = pd.DataFrame({"key": key, "ts": ts_us, "v": value})
    df["b"] = df["ts"] // w * w
    df["vv"] = df["v"] * df["v"]
    df = df.sort_values(["key", "b", "ts"], kind="stable")
    g = df.groupby(["key", "b"], sort=True)
    out = pd.DataFrame({
        "n_obs": g["v"].count(),
        "v_sum": g["v"].sum(),
        "v_sumsq": g["vv"].sum(),
        "v_min": g["v"].min(),
        "v_max": g["v"].max(),
        "v_first": g["v"].first(),
        "v_last": g["v"].last(),
        "first_ts": g["ts"].min(),
        "last_ts": g["ts"].max(),
    }).reset_index()
    return out[TIER_COLS]


def with_derived(rows: pd.DataFrame) -> pd.DataFrame:
    n, s, ss = rows["n_obs"].astype(np.float64), rows["v_sum"], rows["v_sumsq"]
    out = rows.copy()
    out["v_mean"] = s / n
    out["v_var"] = np.where(rows["n_obs"] > 1, (ss - s * s / n) / (n - 1.0), np.nan)
    return out


def _spine(rows: pd.DataFrame, tier: str) -> pd.DataFrame:
    w = TIER_US[tier]
    parts = []
    for key, g in rows.groupby("key", sort=True):
        b = np.arange(g["b"].min(), g["b"].max() + 1, w, dtype=np.int64)
        parts.append(pd.DataFrame({"key": key, "b": b}))
    spine = pd.concat(parts, ignore_index=True)
    return spine.merge(rows[["key", "b", "v_last"]], on=["key", "b"], how="left")


def locf(rows: pd.DataFrame, tier: str) -> pd.DataFrame:
    """``gapfill_locf`` over tier rows on the value column v_last."""
    s = _spine(rows, tier)
    s["filled"] = s["v_last"].isna()
    s["v_last"] = s.groupby("key")["v_last"].ffill()
    return s[["key", "b", "v_last", "filled"]]


def interp(rows: pd.DataFrame, tier: str) -> pd.DataFrame:
    """``gapfill_interp``: linear in time between the neighbouring
    observations, nearest observation at the edges."""
    s = _spine(rows, tier)
    s["filled"] = s["v_last"].isna()
    t = s["b"].to_numpy() / 1e6
    obs_t = pd.Series(np.where(s["filled"], np.nan, t), index=s.index)
    gk = s.groupby("key")
    prev_v, next_v = gk["v_last"].ffill(), gk["v_last"].bfill()
    prev_t = obs_t.groupby(s["key"]).ffill()
    next_t = obs_t.groupby(s["key"]).bfill()
    v = s["v_last"].to_numpy()
    with np.errstate(invalid="ignore", divide="ignore"):
        mid = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
    fill = np.where(prev_v.isna(), next_v, np.where(next_v.isna(), prev_v, mid))
    s["v_last"] = np.where(s["filled"], fill, v)
    return s[["key", "b", "v_last", "filled"]]


def m4(rows: pd.DataFrame, width_s: int) -> pd.DataFrame:
    """``m4_downsample`` of the series (key, b, v_last): per width bucket
    the first, last, minimum and maximum point, ties broken as the
    engine's struct orderings do."""
    w = width_s * 1_000_000
    df = rows[["key", "b", "v_last"]].rename(columns={"b": "t", "v_last": "v"})
    df = df[df["v"].notna()].copy()
    df["bkt"] = df["t"] // w
    out = []
    for (key, bkt), g in df.groupby(["key", "bkt"], sort=True):
        by_t = g.sort_values(["t", "v"])
        by_v = g.sort_values(["v", "t"])
        out.append((
            key, int(bkt) * w, len(g),
            int(by_t["t"].iloc[0]), by_t["v"].iloc[0],
            int(by_t["t"].iloc[-1]), by_t["v"].iloc[-1],
            by_v["v"].iloc[0], int(by_v["t"].iloc[0]),
            by_v["v"].iloc[-1], int(by_v["t"].iloc[-1]),
        ))
    return pd.DataFrame(out, columns=M4_COLS)


M4_COLS = ["key", "b", "n_obs", "ts_first", "v_first", "ts_last", "v_last",
           "v_min", "ts_vmin", "v_max", "ts_vmax"]


def same(got: pd.DataFrame, want: pd.DataFrame, rel: float = 0.0) -> bool:
    """Row sets equal after sorting by the leading columns. Floats must
    match exactly unless ``rel`` allows a relative difference (NaN
    equals NaN)."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    keys = list(got.columns[:2])
    a = got.sort_values(keys, kind="stable").reset_index(drop=True)
    b = want.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind in "fc" or y.dtype.kind in "fc":
            x = x.astype(np.float64)
            y = y.astype(np.float64)
            both_nan = np.isnan(x) & np.isnan(y)
            close = np.abs(x - y) <= rel * np.maximum(np.abs(x), np.abs(y))
            if not np.all(both_nan | close):
                return False
        elif not np.array_equal(x.astype(object), y.astype(object)):
            return False
    return True
