"""Shared pieces: engine settings, Spark start, RSS sampling, Spark job
accounting, percentiles and order-insensitive result comparison."""

from __future__ import annotations

import datetime as dt
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Engine-process settings. Pinned rather than derived from the host so
# that numbers from different machines stay comparable; the package's
# 48g driver default does not fit a 15 GB host. The heap starts at G1's
# default size and the cap leaves room above what the workloads keep
# live (about 250 MB after a full GC in dashboard), so G1 decides how far
# the heap grows and resident memory shows it.
CPUS = "4"
DRIVER_MEM = "1g"

SPARK_CONF = {
    # the package's G1 setting; temp files stay in the checkout
    "spark.driver.extraJavaOptions": (
        f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"),
    # the status store keeps every job/stage of a run for the counters
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100",
}


def fixtures(scale: str) -> str:
    """The repository's fixture tables at ``scale`` (``sf0.1``, ``sf0.01``):
    the directory beside the smoke-test scale ``__spark_entry__`` names."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), scale)


def engine_env(workload: str) -> None:
    """Pin the engine settings in this process's environment before the
    JVM starts; Spark's Python workers inherit them, PYTHONPATH included,
    so the package imports in workers whatever the working directory."""
    local = os.path.join(WORK, workload, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_spark(app: str):
    """get_spark() plus the first job; returns (spark, seconds)."""
    from iceberg_metadata_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=SPARK_CONF)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop Spark, if running, and wait until the JVM and every other
    child process of this process has exited. Safe to call twice."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_children()


def wait_children(timeout: float = 30.0) -> None:
    """Wait for every descendant process to end; terminate stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        pids = _descendants(os.getpid())
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


# -- statistics ----------------------------------------------------------------

def median(values) -> float:
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    """90th percentile, interpolated between neighbouring samples."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def mean(values) -> float:
    return sum(values) / len(values) if values else 0.0


# -- memory --------------------------------------------------------------------

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


def _descendants(root_pid: int) -> list[int]:
    kids, out, stack = _children(), [], [root_pid]
    while stack:
        for child in kids.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def tree_pss_mb(root_pid: int, exclude: set[int] = frozenset()) -> float:
    """Proportional set size of ``root_pid`` and all its descendants, in
    MB. Unlike summed RSS, pages shared between processes (forked Python
    workers, a JVM forking a helper) count once."""
    kids = _children()
    total_kb, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(kids.get(pid, []))
    return total_kb / 1024


def heap_used_mb(spark) -> float:
    """Driver heap in use right after a full GC, in MB: what the JVM
    keeps live, whatever the heap's current size."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


class RssSampler:
    """Background sampler of the engine process tree's peak resident
    memory (as PSS). Processes listed in ``exclude`` (the load generator)
    are left out."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> float:
        now = tree_pss_mb(os.getpid(), self.exclude)
        self.peak = max(self.peak, now)
        return now

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak


# -- Spark job accounting ------------------------------------------------------

class JobCounter:
    """Counts Spark jobs, stages and tasks between two marks.

    Job ids are sequential within a SparkContext, so a tiny job run under
    a known job group marks a position; everything between two marks ran
    in between. Stage and task counts come from ``statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def mark(self) -> int:
        self._n += 1
        group = f"perfbench-mark-{self._n}"
        self.sc.setJobGroup(group, "perfbench mark")
        self.sc.parallelize([0], 1).count()
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return max(ids)

    def between(self, start: int, end: int) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for job_id in range(start + 1, end):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


# -- result comparison ---------------------------------------------------------

REL_TOL = 1e-6


def _cell(v):
    """Engine-neutral cell: numbers as float, temporals as ISO text, and
    numeric text (HS2 renders decimals as strings) as float."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return v
    return str(v)


def _canonical(rows) -> list[tuple]:
    out = [tuple(_cell(v) for v in r) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x) if not isinstance(x, float)
                                  else f"{x:.6e}") for x in t))
    return out


def same_rows(a, b, rel_tol: float = REL_TOL) -> bool:
    """Order-insensitive equality with a relative tolerance on floats
    (sums of doubles depend on summation order in both engines)."""
    ca, cb = _canonical(a), _canonical(b)
    if len(ca) != len(cb):
        return False
    for ra, rb in zip(ca, cb):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
