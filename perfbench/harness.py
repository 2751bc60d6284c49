"""Run isolation, Spark session lifecycle and the statistics the
workloads share.

Every run gets a fresh work directory under ``<checkout>/.perfbench_tmp``
that holds its queues, generated inputs, Spark local dirs, the ANN index
root (``SPARK_GRAFT_INDEX_DIR``) and Python/JVM temp files; it is removed
when the run ends, after every process the run started has exited.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# timed rounds per run at least, in every workload: the run's figures
# are medians over its rounds (``median_round``), and with fewer than
# three one odd round would move them
MIN_ROUNDS = 3
# the nominal length of a round: a warm round of either workload took
# 7-19 s on a 4-core host
ROUND_S = 10


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cores() -> int:
    """Task slots of the run's ``local[N]`` session: half the cores, so
    that the driver's Python process, the Python workers and the JVM's
    own collector and compiler threads have cores beside the tasks."""
    return max(1, cpu_count() // 2)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """The ``q`` quantile (0 < q < 1), reported only when at least ten
    samples lie beyond it; otherwise the tail is not measured and the
    call fails loudly instead of reporting a maximum."""
    n = len(xs)
    if n * (1.0 - q) < 10:
        raise ValueError(f"{n} samples cannot support a p{q * 100:g}")
    return float(statistics.quantiles(xs, n=1000, method="inclusive")[
        int(round(q * 1000)) - 1])


def p50_or_zero(xs) -> float:
    return median(xs) if xs else 0.0


def timed_rounds(seconds: int) -> int:
    """Timed rounds of a run of ``--seconds``: as many nominal rounds as
    fit, and at least ``MIN_ROUNDS``. The count depends on nothing the
    host does, so every run with the same ``--seconds`` does the same
    work: the first rounds of a run cost more CPU than the later ones
    (caches, the JVM's compiler), and a count that followed the host's
    speed would move the median with it."""
    return max(MIN_ROUNDS, round(seconds / ROUND_S))


def median_round(rounds: list[list[float]]) -> float:
    """The time of one round from rounds that do the same work, given
    each as the times of its steps in order: the sum, over the steps,
    of each step's median over the rounds. A stall that hits one step of
    one round is left out, where a median of whole rounds would take in
    every stall of the middle round."""
    return sum(median(step) for step in zip(*rounds))


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------

def _status_kib(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | str = "self") -> float:
    """High-water resident set of ``pid`` in MiB."""
    return _status_kib(pid, "VmHWM") / 1024.0


def jvm_retained_mb(spark) -> dict[str, float]:
    """The driver JVM's memory after full collections: live heap,
    non-heap in use (metaspace, code cache) and direct buffers, in MiB.
    Unlike the JVM's resident set, these do not depend on when the
    collector chose to grow the heap.

    One collection is not enough: it lets Spark's context cleaner and
    the Py4J gateway release what the dead objects held (shuffles,
    broadcasts, objects Python has dropped), which the next collections
    reclaim. Python and the JVM are collected in turn until the live heap
    holds still over three collections half a second apart."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    mib = 1024.0 * 1024.0
    heap: list[float] = []
    while len(heap) < 12:
        gc.collect()
        jvm.java.lang.System.gc()
        heap.append(mem.getHeapMemoryUsage().getUsed() / mib)
        if len(heap) >= 3 and max(heap[-3:]) - min(heap[-3:]) < 1.0:
            break
        time.sleep(0.5)
    pools = mf.getPlatformMXBeans(jvm.java.lang.Class.forName(
        "java.lang.management.BufferPoolMXBean"))
    return {
        "heap": heap[-1],
        "non_heap": mem.getNonHeapMemoryUsage().getUsed() / mib,
        "buffers": sum(p.getMemoryUsed() for p in pools) / mib,
        "collections": len(heap),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


# thread names (truncated to 15 characters) of the JVM's JIT compilers
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_ns(pid: int) -> int:
    """CPU time so far of the JIT compiler threads of process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(_JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                total += int(fh.read().split()[0])
        except (OSError, ValueError, IndexError):
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started, the JVM and the Python workers included: each
    live process's own time plus that of the children it has reaped,
    less the time of the JVM's JIT compiler threads. Compilation is the
    JVM's work, not the program's, and how much of it falls into a round
    follows when the compiler gets to it: with it, the second timed
    round of a run cost 18.9-21.0 CPU-seconds over four runs."""
    ticks, jit_ns = 0, 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
        jit_ns += _jit_cpu_ns(pid)
    return ticks / _TICK - jit_ns / 1e9


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    pids = list(pids)
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if pids:
            time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in pids:
        while _alive(p) and time.monotonic() < deadline + 10:
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------

class Run:
    """One benchmark run: its work directory, environment and Spark."""

    def __init__(self, seed: int, seconds: int, trace):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)
        # everything that honours TMPDIR (tempfile, the Spark gateway's
        # connection file, Python workers, operator scratch queues)
        # lands inside the run directory
        tempfile.tempdir = self.tmp
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_GRAFT_INDEX_DIR"] = self.path("index")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        self.spark = None
        self.jvm_pid: int | None = None
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- Spark ------------------------------------------------------------
    def start_spark(self) -> float:
        """Start the run's session and return its set-up time: one cold
        ``get_spark`` call on ``spark_cores()`` task slots, with the
        run's local, warehouse and JVM temp dirs. It launches the run's
        JVM and is timed with nothing else running. A second cold start
        would cost each Spark run about 9 s more, which a full
        measurement of the benchmark has no room for (README.md, Cost of
        one run)."""
        from quebic_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                    f"-Dderby.system.home={self.tmp} "
                    # the JVM starts its JIT compiler threads at launch
                    # and keeps them until it exits, so tree_cpu_s can
                    # leave all their time out
                    "-XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        setup_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        return setup_s

    def jobs_in_group(self, group: str) -> int:
        """Spark jobs tagged with ``group``, read from the status
        tracker after the listener bus has delivered every event."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def memory_mb(self) -> float:
        """Peak RSS of this process plus, with Spark, the JVM's retained
        memory (``jvm_retained_mb``); the workloads read it when their
        timed work ends, before their checks."""
        python = peak_rss_mb()
        self.info["python_peak_rss_mb"] = round(python, 1)
        if self.spark is None:
            return python
        jvm = jvm_retained_mb(self.spark)
        self.info["jvm_retained_mb"] = {k: round(v, 1)
                                        for k, v in jvm.items()}
        self.info["jvm_peak_rss_mb"] = round(peak_rss_mb(self.jvm_pid), 1)
        return python + jvm["heap"] + jvm["non_heap"] + jvm["buffers"]

    # -- teardown ---------------------------------------------------------
    def close(self) -> None:
        """Stop Spark and its JVM, wait for every process this run
        started, then remove the run directory."""
        procs = descendants()
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                proc = getattr(SparkContext._gateway, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        wait_gone(procs)
        shutil.rmtree(self.dir, ignore_errors=True)


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
