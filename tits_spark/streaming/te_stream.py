"""Streaming transfer entropy: the continuous twin of
operators/transfer_entropy.transfer_entropy with O(1) integer state
per key.

The batch operator reduces each key to a 16-cell lattice of exact
int64 counts over the LOCF bucket grid; those counters are PERFECTLY
incremental, so the stream carries (open-bucket side pivots, the last
two closed grid values per side, the last move bits, 16 cell counts)
— 29 integers — and each arriving bucket closure bumps the affected
cells. Bucket-gap runs update in O(1) (after the first gap bucket the
run's rows are all the zero-move cell m0), so a key that goes quiet
for a month costs one addition, not a month of buckets.

Per micro-batch the work is one pass over the batch's DISTINCT
buckets per key (bounded by trigger-interval / bucket_secs plus
skew, not by row count; in-bucket ticks collapse vectorized to the
max-(us, cents) pivot first — the batch grid's determinism rule).
Rows older than the open bucket are dropped and counted in state
(`n_late`), the same late-data policy as twa_stream.

Emissions are running snapshots (key, n_closed, n_obs, m0..m15,
te_xy, te_yx): the 17 counts are bit-exact against the batch
operator's ``include_cells=True`` columns; the te doubles follow the
same fixed 8-term ln chain (numpy libm vs JVM StrictMath may differ
in the last ulp — compare rounded, the rv_stream precedent). A
snapshot with a higher n_closed supersedes earlier ones; feeding one
sentinel tick at (last bucket + 1) forces the final open bucket
closed, after which the last snapshot equals the batch operator over
the original data exactly (the sentinel's value is irrelevant — only
its bucket matters, and its own bucket never closes).

Restart safety: all state is integer (plus two cent-lattice values),
so a checkpoint replay cannot drift — asserted bit-equal in the
restart soak (tools/stream_soak.py).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState

from tits_spark.streaming import _run

_US = 1_000_000
_NULL = -(1 << 62)  # sentinel for "no value yet" in long state slots

STATE_SCHEMA = (
    "cb long, lc long, px_us long, px_c long, py_us long, py_c long, "
    "gx1 long, gy1 long, gx2 long, gy2 long, bx1 long, by1 long, "
    "n_closed long, n_late long, "
    + ", ".join(f"m{i} long" for i in range(16))
)
OUTPUT_SCHEMA = (
    "key string, n_closed long, n_obs long, "
    + ", ".join(f"m{i} long" for i in range(16))
    + ", te_xy double, te_yx double"
)


def _te_from_counts(m: list[int], n: int) -> tuple[float, float]:
    """The SAME fixed (t, p, o) 8-term plug-in chain the batch
    operator's expression tree evaluates, in python doubles."""

    def one(c3f):
        total = 0.0
        for t in (0, 1):
            for p in (0, 1):
                for o in (0, 1):
                    c = c3f(t, p, o)
                    if c > 0:
                        ctx = c3f(0, p, o) + c3f(1, p, o)
                        tgt = c3f(t, p, 0) + c3f(t, p, 1)
                        past = (
                            c3f(0, p, 0) + c3f(1, p, 0)
                            + c3f(0, p, 1) + c3f(1, p, 1)
                        )
                        total = total + c * math.log(
                            (float(c) * float(past))
                            / (float(ctx) * float(tgt))
                        )
                    else:
                        total = total + 0.0
        return total / float(n)

    xy = one(lambda t, p, o: m[t * 8 + p * 4 + 0 + o] + m[t * 8 + p * 4 + 2 + o])
    yx = one(lambda t, p, o: m[0 + o * 4 + t * 2 + p] + m[8 + o * 4 + t * 2 + p])
    return xy, yx


def make_te_fn(bucket_secs: int):
    bu = int(bucket_secs) * _US

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = list(state.get)
        else:
            st = [_NULL] * 12 + [0, 0] + [0] * 16
        (cb, lc, px_us, px_c, py_us, py_c,
         gx1, gy1, gx2, gy2, bx1, by1) = st[:12]
        n_closed, n_late = st[12], st[13]
        m = st[14:]
        start_closed = n_closed

        def close_bucket(b: int) -> None:
            """Close every bucket in (lc, b] given the open pivots for
            b itself; gap buckets in between are O(1)."""
            nonlocal lc, gx1, gy1, gx2, gy2, bx1, by1, n_closed
            xv = px_c if px_us != _NULL else (gx1 if gx1 != _NULL else _NULL)
            yv = py_c if py_us != _NULL else (gy1 if gy1 != _NULL else _NULL)
            if lc == _NULL:
                gap = 0
            else:
                gap = b - lc - 1
                ok1 = gx1 != _NULL and gy1 != _NULL
                ok2 = gx2 != _NULL and gy2 != _NULL
                if gap >= 1 and ok1 and ok2:
                    # first gap bucket: zero moves now, last bits behind
                    m[0 * 8 + by1 * 4 + 0 * 2 + bx1] += 1
                if gap >= 2 and ok1:
                    # the rest of the run is the all-zero-move cell
                    m[0] += gap - 1
                # the closing bucket's own row
                if xv != _NULL and yv != _NULL and ok1:
                    okb2 = ok2 if gap == 0 else ok1
                    if okb2:
                        yb = int(yv > gy1)
                        ya = by1 if gap == 0 else 0
                        xb = int(xv > gx1)
                        xa = bx1 if gap == 0 else 0
                        m[yb * 8 + ya * 4 + xb * 2 + xa] += 1
            # roll the grid history forward
            bx1 = int(xv > gx1) if (xv != _NULL and gx1 != _NULL) else 0
            by1 = int(yv > gy1) if (yv != _NULL and gy1 != _NULL) else 0
            gx2, gy2 = gx1, gy1
            gx1, gy1 = xv, yv
            n_closed += 1 if lc == _NULL else b - lc
            lc = b

        for pdf in pdfs:
            if not len(pdf):
                continue
            t = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            s = pdf["series"].to_numpy()
            v100 = pdf["value"].to_numpy(np.float64) * 100
            # HALF-UP away from zero on the double — the batch grid's
            # F.round(value*100) rule (np.rint is half-even: wrong)
            c = np.where(
                v100 >= 0, np.floor(v100 + 0.5), np.ceil(v100 - 0.5)
            ).astype(np.int64)
            b = t // bu
            if cb != _NULL:
                late = b < cb
                n_late += int(late.sum())
                keep = ~late
                t, s, c, b = t[keep], s[keep], c[keep], b[keep]
            if not len(b):
                continue
            order = np.lexsort((c, t))  # (us, cents) ascending
            t, s, c, b = t[order], s[order], c[order], b[order]
            for bk in np.unique(b):  # ascending
                if cb != _NULL and bk > cb:
                    close_bucket(int(cb))
                    px_us = px_c = py_us = py_c = _NULL
                cb = int(bk)
                sel = b == bk
                for side, flag in (("x", s[sel] == "x"), ("y", s[sel] == "y")):
                    if flag.any():
                        # last index wins under (us, cents) order ==
                        # max(struct(us, c)), the batch determinism rule
                        i = int(np.flatnonzero(flag)[-1])
                        us_i = int(t[sel][i])
                        c_i = int(c[sel][i])
                        if side == "x":
                            if px_us == _NULL or (us_i, c_i) > (px_us, px_c):
                                px_us, px_c = us_i, c_i
                        else:
                            if py_us == _NULL or (us_i, c_i) > (py_us, py_c):
                                py_us, py_c = us_i, c_i

        state.update((
            cb, lc, px_us, px_c, py_us, py_c,
            gx1, gy1, gx2, gy2, bx1, by1, n_closed, n_late, *m,
        ))
        if n_closed > start_closed:
            n = int(sum(m))
            te_xy, te_yx = _te_from_counts(m, n) if n else (0.0, 0.0)
            yield pd.DataFrame({
                "key": [key[0]],
                "n_closed": [n_closed],
                "n_obs": [n],
                **{f"m{i}": [m[i]] for i in range(16)},
                "te_xy": [te_xy],
                "te_yx": [te_yx],
            })

    return fn


def stream_transfer_entropy(
    spark: SparkSession,
    source_path: str,
    schema: str,
    out_path: str,
    checkpoint: str,
    bucket_secs: int = 3600,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream a parquet directory of (key, ts, value, series) ticks
    into running per-key transfer-entropy snapshots."""
    stream = _run.source(spark, source_path, schema, max_files_per_trigger)
    out = _run.keyed(stream, make_te_fn(bucket_secs), OUTPUT_SCHEMA, STATE_SCHEMA)
    return _run.to_parquet(out, out_path, checkpoint)
