"""Benchmark of the tits_spark engine: ingest, dashboard and lead_lag.

One run:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

builds its inputs from ``--seed`` (``gen.py``, no Spark), starts a
SparkSession at fixed cores and shuffle partitions, builds the
workload's state and runs warm-up operations (``setup_s``), then runs the
workload's fixed operation sequence in a closed loop until the
workload's minimum number of operations ran and ``--seconds`` have
passed, checks the outputs against oracles, and prints a metric table and,
as the last line, one JSON object::

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the engine modules are wrapped in
spans and the metrics are the per-layer metrics, and the span tree is
written to ``.perfbench_traces/<workload>-seed<n>.json`` in the checkout.

Repeat mode runs the benchmark in fresh processes, one per seed, and
prints each metric's median, quartiles and spread; with ``--trace 1`` it
also makes traced runs and reports the tracing overhead:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --repeat 5

The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import stats  # noqa: E402

#: where traced runs write their span trees
TRACE_DIR = os.path.join(harness.ROOT, ".perfbench_traces")


def _benchmark() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _require_engine() -> None:
    """The engine must come from this checkout, not from anywhere else."""
    sys.path.insert(0, harness.ROOT)
    import tits_spark

    where = os.path.dirname(os.path.abspath(tits_spark.__file__))
    if where != os.path.join(harness.ROOT, "tits_spark"):
        raise RuntimeError(f"tits_spark imported from {where}, not from the checkout")


def _layer_values(tracer, names) -> dict[str, float]:
    """``<span>.<counter>`` metrics: per-call means over the named spans."""
    from spans import COUNTERS

    out: dict[str, float] = {}
    for name in names:
        span, _, counter = name.rpartition(".")
        if counter in COUNTERS or counter == "python_bytes_sent":
            out[name] = tracer.totals(span)[1][counter]
    return out


def run_once(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    from workloads import WORKLOADS

    run = harness.RunDir(f"{workload}-{seed}")
    spark = tree = None
    try:
        harness.pin_environment(run)
        _require_engine()
        wl = WORKLOADS[workload](run, seed)
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t

        t_setup = time.perf_counter()
        spark = harness.start_spark(run)
        session_s = time.perf_counter() - t_setup
        tree = harness.ProcessTree(harness.jvm_process(spark).pid).start()
        tracer = None
        if traced:
            from spans import Tracer

            tracer = Tracer(spark, tree, harness.CORES)
            tracer.install()
        wl.bind(spark, tracer)
        t_warm = time.perf_counter()
        wl.setup()
        setup_end = time.perf_counter()
        setup_s = setup_end - t_setup

        if tracer:
            tracer.active = True
        latencies, work, failed = [], 0, set()
        steal0 = harness.host_cpu_ticks()
        t0 = time.perf_counter()
        for i, op in enumerate(wl.ops):
            if i >= wl.min_ops and time.perf_counter() - t0 >= seconds:
                break
            t_op = time.perf_counter()
            try:
                units, latency = wl.run_op(i, op)
                work += units
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                traceback.print_exc()
                failed.add(i)
                latency = time.perf_counter() - t_op
            latencies.append(latency)
        elapsed = time.perf_counter() - t0
        steal = [b - a for a, b in zip(steal0, harness.host_cpu_ticks())]
        if tracer:
            tracer.active = False
        peak_mb = tree.peak_kb / 1024.0
        peak_split = tree.peak_split
        attempted = len(latencies)

        try:
            failed |= wl.gate()
        except Exception:  # noqa: BLE001 — a gate that cannot run fails every op
            traceback.print_exc()
            failed |= set(range(attempted))

        lat_ms = [x * 1000.0 for x in latencies]
        e2e = {
            "setup_s": (setup_s, "s"),
            "work_per_s": (work / elapsed, "1/s"),
            "op_p50_ms": (stats.percentile(lat_ms, 50), "ms"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        diag = {
            "ops": attempted,
            "failed_frac": len(failed) / attempted,
            # fewer than ten samples lie above it at these op counts, so
            # it is printed here and is not a BENCHMARK.json metric
            "op_p90_ms": round(stats.percentile(lat_ms, 90), 3),
            "op_ms": [round(x, 1) for x in lat_ms],
            "work": work,
            "timed_s": round(elapsed, 3),
            # a run slowed by other tenants of the host shows it here
            "steal_pct": round(100.0 * steal[0] / max(steal[1], 1), 2),
            "gen_s": round(gen_s, 3),
            "session_s": round(session_s, 3),
            "warmup_s": round(setup_end - t_warm, 3),
            "peak_rss_jvm_py_mb_nproc": peak_split,
            "cores": harness.CORES,
            "shuffle_partitions": harness.SHUFFLE_PARTITIONS,
            "nproc": os.cpu_count(),
            "digests": wl.digests,
        }
        if not traced:
            metrics = e2e
        else:
            tracer.collect()
            os.makedirs(TRACE_DIR, exist_ok=True)
            diag["span_tree"] = os.path.join(TRACE_DIR, f"{workload}-seed{seed}.json")
            tracer.dump(diag["span_tree"])
            spec = _benchmark()
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            layer = {name: 0.0 for name in units}
            layer.update(_layer_values(tracer, units))
            layer.update({
                "session.start_ms": session_s * 1000.0,
                "setup.warmup_ms": (setup_end - t_warm) * 1000.0,
                "trace.work_per_s": work / elapsed,
                "trace.ops": float(attempted),
                "spark.failed_tasks": tracer.failed_tasks(),
                **wl.layer_metrics(tracer),
            })
            metrics = {k: (layer[k], units[k]) for k in units}
        return {
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "diagnostics": diag,
        }
    finally:
        if tree is not None:
            tree.stop()
        if spark is not None:
            harness.stop_spark(spark)
        run.remove()


def print_result(res: dict, workload: str) -> None:
    diag = res.pop("diagnostics")
    n = res["attempted"]
    print(f"# workload {workload}: {n} ops, failed_frac {diag['failed_frac']:.4f} "
          f"({res['failed']}/{res['attempted']})")
    for k, v in diag.items():
        print(f"#   {k}: {v}")
    for name, m in res["metrics"].items():
        note = f" (n={n})" if name.startswith("op_p") else ""
        print(f"{name:48s} {m['value']:>16.4f} {m['unit']}{note}")
    print(json.dumps(res), flush=True)


def repeat(args) -> int:
    """Run the benchmark once per seed in fresh processes and summarise."""
    modes = [0, 1] if args.trace else [0]
    values: dict[tuple[int, str], list[float]] = {}
    units: dict[str, str] = {}
    failures = 0
    for mode in modes:
        for seed in range(args.seed, args.seed + args.repeat):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(mode)]
            out = subprocess.run(cmd, capture_output=True, text=True, check=False)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                sys.stderr.write(out.stderr[-4000:])
                print(f"# seed {seed} trace {mode}: exit {out.returncode}")
                failures += 1
                continue
            res = json.loads(lines[-1])
            failures += res["failed"] > 0
            for k, m in res["metrics"].items():
                values.setdefault((mode, k), []).append(m["value"])
                units[k] = m["unit"]
            print(f"# seed {seed} trace {mode}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()
                if mode == 0 or k.startswith("trace.")), flush=True)
    summary = {}
    print(f"{'metric':48s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for (mode, k), xs in sorted(values.items()):
        s = stats.spread(xs)
        summary[k] = s
        print(f"{k:48s} {s['n']:3d} {s['median']:12.4f} {s['q1']:12.4f} "
              f"{s['q3']:12.4f} {s['spread']:8.4f} {units[k]}")
    if args.trace and "work_per_s" in summary and "trace.work_per_s" in summary:
        overhead = 1.0 - summary["trace.work_per_s"]["median"] / summary["work_per_s"]["median"]
        summary["trace_overhead"] = overhead
        print(f"tracing overhead: traced work_per_s is {overhead:.1%} below untraced")
    print(json.dumps({"workload": args.workload, "failures": failures, "summary": summary}))
    return 0 if failures == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard", "lead_lag"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="length of the timed phase (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run this many seeds (seed, seed+1, ...) in fresh processes "
                         "and print median, quartiles and spread of each metric")
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = float(_benchmark()["run_seconds"])
    if args.repeat:
        return repeat(args)
    res = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    print_result(res, args.workload)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — any failure before a result is an error exit
        traceback.print_exc()
        sys.exit(1)
