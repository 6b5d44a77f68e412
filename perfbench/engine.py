"""Starting, measuring and stopping the engine's Spark session.

The session comes from the engine's own ``session.get_spark`` on
``local[N]`` with N = the CPUs this process may run on.  Every file
Spark, the JVM and Python workers write goes under the run's work
directory.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import time
from contextlib import nullcontext
from dataclasses import dataclass

from spans import Tracer


@dataclass
class Outcome:
    """What one workload run measured and found."""

    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    errors: list[str]  # correctness-gate findings; empty when correct
    detail: dict


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, tracer: Tracer | None = None):
    """``session.get_spark`` on ``local[N]``, all scratch under ``work``.
    Returns the session and the seconds the call took.  A ``tracer``
    must start with :class:`NullJobs`; it is switched to the session's
    job groups once the session exists."""
    from aws_cdk_pipelines_datalake_etl_spark import session

    n = cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own JVM
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    with tracer.span("session.get_spark") if tracer else nullcontext():
        spark = session.get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            warehouse_dir=os.path.join(work, "warehouse"),
            extra_conf=conf,
        )
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    if tracer:
        tracer.jobs = SparkJobs(spark)
    return spark, took


class NullJobs:
    """Job backend for a tracer before any SparkContext exists."""

    def set_group(self, group):
        pass

    def jobs_in_group(self, group):
        return []


class SparkJobs:
    """Job groups of the calling thread's SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def set_group(self, group):
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def jobs_in_group(self, group):
        return list(self.sc.statusTracker().getJobIdsForGroup(group))


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw, getattr(gw, "proc", None)


def peak_rss_mib() -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    _, proc = _jvm_proc()
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class HostCounters:
    """Host and process counters over a timed region, to tell a slow
    engine from a slow host: CPU time stolen by the hypervisor, the CPU
    time the JVM and this process used, and the JVM's garbage-collection
    and JIT-compilation time."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.start = self._read()

    def _read(self) -> dict[str, float]:
        with open("/proc/stat") as f:
            cpu = [int(v) for v in f.readline().split()[1:]]
        gc = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        _, proc = _jvm_proc()
        with open(f"/proc/{proc.pid}/stat") as f:
            utime, stime = f.read().rsplit(")", 1)[1].split()[11:13]
        me = os.times()
        return {
            "jvm_cpu_s": (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK"),
            "python_cpu_s": me.user + me.system,
            "steal_s": cpu[7] / os.sysconf("SC_CLK_TCK"),
            "cpu_total_s": sum(cpu) / os.sysconf("SC_CLK_TCK"),
            "gc_s": gc / 1000.0,
            "jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        }

    def delta(self) -> dict[str, float]:
        end = self._read()
        d = {k: end[k] - self.start[k] for k in end}
        d["steal_share"] = d.pop("steal_s") / d.pop("cpu_total_s")
        return d


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for
    every one of them to exit."""
    gw, proc = _jvm_proc()
    workers = _descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(workers, timeout=30)


def host_record(spark) -> dict:
    """Where a run's numbers come from; compare only equal records."""
    sc = spark.sparkContext
    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }
