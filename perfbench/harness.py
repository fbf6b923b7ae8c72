"""Run directory, Spark session and process-tree accounting.

Everything a run writes lives under ``<checkout>/.perfbench_runs/<run>/``
and is removed when the run ends: shuffle and spill files, the warehouse,
temp files of the driver, the JVM and the Python workers, and the
workload's tables. No state survives from one run to the next.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: fixed parallelism, so runs on any host of this size are comparable
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
#: how often the process tree's RSS is sampled
SAMPLE_PERIOD_S = 0.1

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class RunDir:
    """A fresh per-run scratch directory inside the checkout."""

    def __init__(self, tag: str):
        self.path = os.path.join(
            ROOT, ".perfbench_runs", f"{tag}-{os.getpid()}-{time.time_ns()}"
        )
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def pin_environment(run: RunDir) -> None:
    """Point every temp and spill location into the run directory and
    drop the engine's deploy-time override knobs, so that only the
    settings below apply. Must run before pyspark starts the JVM."""
    tmp = run.sub("tmp")
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_<user> files from the launcher and driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # glibc otherwise gives the JVM's many threads their own malloc
    # arenas, and peak RSS drifts by up to a GB from run to run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = tmp


def start_spark(run: RunDir):
    """Start the engine session at fixed cores / shuffle partitions."""
    from tits_spark.session import get_spark

    tmp = run.sub("tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": run.sub("local"),
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed heap size: no run-to-run drift in heap sizing
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(
        "perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    """The Popen of the gateway JVM that pyspark launched."""
    return spark.sparkContext._gateway.proc


def stop_spark(spark) -> None:
    """Stop the session, wait for the JVM to exit, then end and wait for
    any Python worker that outlived it."""
    proc = jvm_process(spark)
    workers = python_descendants(proc.pid)
    try:
        spark.stop()
    finally:
        spark.sparkContext._gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _alive_python(p)]
        for pid in workers:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _alive_python(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z" and _comm(pid).startswith("python")


# ------------------------------------------------------------ /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_descendants(root: int) -> list[int]:
    """All live descendants of ``root`` (not ``root`` itself) whose
    command name starts with ``python``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return [p for p in out if _comm(p).startswith("python")]


def cpu_ms(pid: int, with_children: bool = False) -> float:
    """User+system CPU of ``pid``; with ``with_children`` also the CPU of
    its children that have exited and been reaped."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks * 1000.0 / _CLK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host's vCPUs so far, from
    /proc/stat: time the hypervisor gave the vCPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def rss_kb(pid: int) -> int:
    fields = _stat_fields(pid)
    return int(fields[21]) * _PAGE_KB if fields is not None else 0


class ProcessTree:
    """The JVM and the Python workers it forks, sampled in a background
    thread: the high-water RSS of the whole tree, and a cached list of
    worker pids for cheap CPU snapshots."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers: list[int] = []
        self.peak_kb = 0
        #: (JVM MB, Python-worker MB, Python processes) at the peak
        self.peak_split = (0.0, 0.0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> ProcessTree:
        self._sample()
        self._thread.start()
        return self

    def _sample(self) -> None:
        # Python workers only: a child the JVM forks to exec a shell
        # command briefly shows the JVM's whole RSS
        self.workers = python_descendants(self.jvm_pid)
        jvm = rss_kb(self.jvm_pid)
        py = sum(rss_kb(p) for p in self.workers)
        if jvm + py > self.peak_kb:
            self.peak_kb = jvm + py
            self.peak_split = (round(jvm / 1024, 1), round(py / 1024, 1), len(self.workers))

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self._sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU ms, Python-worker CPU ms) so far. Workers include the
        daemon, whose reaped children count through its child times."""
        py = sum(cpu_ms(p, with_children=True) for p in list(self.workers))
        return cpu_ms(self.jvm_pid), py
