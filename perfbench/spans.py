"""Span tracing for the traced run, recorded from the benchmark's side.

``Tracer.install`` wraps the public functions (and public methods of the
public classes) of the engine modules named in ``LAYERS`` so that every
call made while the tracer is active becomes a span. A span gets its own
Spark job group, so the jobs it submits can be found afterwards in the
status store behind Spark's REST API, and CPU snapshots of the JVM and
of the Python workers from /proc. The benchmark adds its own spans around
the actions that execute the lazy plans those functions return.

Spans are kept in memory; ``Tracer.collect`` joins them with the REST
``jobs``, ``stages`` and ``sql`` listings once, when the run ends, and
``Tracer.dump`` writes the span tree with its counters to a JSON file.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import json
import re
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

#: engine module -> short layer name used in span and metric names
LAYERS = {
    "tits_spark.lineage": "lineage",
    "tits_spark.sources.table_io": "table_io",
    "tits_spark.operators.rollup": "rollup",
    "tits_spark.operators.gapfill": "gapfill",
    "tits_spark.operators.m4": "m4",
    "tits_spark.operators.guess_lag": "guess_lag",
    "tits_spark.compression.gorilla": "gorilla",
    "tits_spark.functions.kernels": "kernels",
}

#: per-call counters reported for every reported span
COUNTERS = (
    "ms", "jobs", "tasks", "shuffle_write_bytes", "input_bytes",
    "output_bytes", "executor_run_ms", "gc_ms", "idle_ms", "plan_ms",
    "jvm_cpu_ms", "py_cpu_ms",
)

#: how long ``collect`` waits for jobs still running to finish
SETTLE_S = 20.0

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)\b")


@dataclass
class Span:
    name: str
    group: str
    parent: Span | None
    t0: float
    wall0_ms: float
    cpu0: tuple[float, float]
    t1: float = 0.0
    cpu1: tuple[float, float] = (0.0, 0.0)
    children: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    def subtree(self):
        yield self
        for c in self.children:
            yield from c.subtree()


def parse_size(text: str) -> float:
    """Bytes of the total in a Spark SQL size metric string, e.g.
    ``"total (min, med, max ...)\\n7.5 MiB (1.8 MiB, ...)"``."""
    m = _SIZE_RE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


class Tracer:
    def __init__(self, spark, tree, cores: int):
        self.sc = spark.sparkContext
        self.tree = tree
        self.cores = cores
        self.active = False
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    # ------------------------------------------------------------ wrapping

    def install(self) -> None:
        """Wrap the public callables of every module in LAYERS, and
        rebind every ``tits_spark`` module global that refers to one."""
        swaps: dict[int, object] = {}
        for modname, short in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    wrapped = self._wrap(f"{short}.{name}", obj)
                    swaps[id(obj)] = wrapped
                    setattr(mod, name, wrapped)
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, attr, self._wrap(f"{short}.{attr}", fn))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("tits_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in swaps and inspect.isfunction(obj) \
                        and getattr(swaps[id(obj)], "__wrapped__", None) is obj:
                    setattr(mod, name, swaps[id(obj)])

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"pb{self._n}", parent, time.perf_counter(),
                 time.time() * 1000.0, self.tree.cpu())
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        try:
            yield s
        finally:
            s.cpu1 = self.tree.cpu()
            s.t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent.group if parent else None
            )

    def spans(self, name: str) -> list[Span]:
        return [s for r in self.roots for s in r.subtree() if s.name == name]

    # ------------------------------------------------------------ Spark

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def collect(self) -> None:
        """Fetch jobs, stages and SQL executions once and attach each
        span's own (non-inherited) Spark counters to it."""
        deadline = time.monotonic() + SETTLE_S
        while True:
            jobs = self._get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._get("stages") if s["status"] in ("COMPLETE", "FAILED")}
        execs = self._get("sql?details=true&planDescription=false&length=1000000")

        by_group: dict[str, dict] = {}
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
        for j in jobs:
            g = j.get("jobGroup")
            if g is None:
                continue
            c = by_group.setdefault(g, _zero())
            c["jobs"] += 1
            c["failed_tasks"] += j.get("numFailedTasks", 0)
            sub = _epoch_ms(j.get("submissionTime"))
            if sub is not None:
                c["first_submit_ms"] = min(c["first_submit_ms"], sub)
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None or owner[sid] != j["jobId"]:
                    continue
                c["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                c["input_bytes"] += st.get("inputBytes", 0)
                c["output_bytes"] += st.get("outputBytes", 0)
                c["executor_run_ms"] += st.get("executorRunTime", 0)
                c["gc_ms"] += st.get("jvmGcTime", 0)
        for e in execs:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
            groups = {job_group.get(i) for i in ids} - {None}
            if len(groups) != 1:
                continue
            sent = sum(
                parse_size(m["value"])
                for node in e.get("nodes", [])
                for m in node.get("metrics", [])
                if m["name"] == "data sent to Python workers"
            )
            by_group[groups.pop()]["python_bytes_sent"] += sent
        for r in self.roots:
            for s in r.subtree():
                s.counters = by_group.get(s.group, _zero())

    def totals(self, name: str) -> tuple[int, dict[str, float]]:
        """(calls, per-call mean of COUNTERS plus python_bytes_sent and
        failed_tasks) over every span called ``name``, each span counted
        with its children."""
        spans = self.spans(name)
        out = {k: 0.0 for k in (*COUNTERS, "python_bytes_sent", "failed_tasks")}
        for s in spans:
            agg = _zero()
            for d in s.subtree():
                for k in agg:
                    if k == "first_submit_ms":
                        agg[k] = min(agg[k], d.counters["first_submit_ms"])
                    else:
                        agg[k] += d.counters[k]
            out["ms"] += s.ms
            for k in ("jobs", "tasks", "shuffle_write_bytes", "input_bytes",
                      "output_bytes", "executor_run_ms", "gc_ms",
                      "python_bytes_sent", "failed_tasks"):
                out[k] += agg[k]
            out["idle_ms"] += self.cores * s.ms - agg["executor_run_ms"]
            first = agg["first_submit_ms"]
            out["plan_ms"] += (first - s.wall0_ms) if first != float("inf") else s.ms
            out["jvm_cpu_ms"] += s.cpu1[0] - s.cpu0[0]
            out["py_cpu_ms"] += s.cpu1[1] - s.cpu0[1]
        if spans:
            out = {k: v / len(spans) for k, v in out.items()}
        return len(spans), out

    def dump(self, path: str) -> None:
        """Write every span of the run, as a tree, to ``path``: its wall
        time, the JVM and Python-worker CPU it took, and its own Spark
        counters (``failed_tasks`` among them)."""

        def node(s: Span) -> dict:
            return {
                "name": s.name,
                "group": s.group,
                "ms": s.ms,
                "jvm_cpu_ms": s.cpu1[0] - s.cpu0[0],
                "py_cpu_ms": s.cpu1[1] - s.cpu0[1],
                "counters": {k: v for k, v in s.counters.items() if k != "first_submit_ms"},
                "children": [node(c) for c in s.children],
            }

        with open(path, "w") as f:
            json.dump([node(r) for r in self.roots], f, indent=1)

    def failed_tasks(self) -> float:
        return sum(s.counters.get("failed_tasks", 0) for r in self.roots for s in r.subtree())


def _zero() -> dict[str, float]:
    return {
        "jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0,
        "input_bytes": 0, "output_bytes": 0, "executor_run_ms": 0, "gc_ms": 0,
        "python_bytes_sent": 0, "first_submit_ms": float("inf"),
    }


def _epoch_ms(stamp: str | None) -> float | None:
    """Spark REST times look like ``2026-01-01T00:00:00.123GMT``."""
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0
