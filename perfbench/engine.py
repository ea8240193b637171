"""Spark engine plumbing for the benchmark: session start with steady
settings, engine counters read from Spark's own status store, peak RSS of
the process tree, and a shutdown that waits for the JVM to exit."""

from __future__ import annotations

import os
import subprocess
import tempfile
import threading

from spans import covered

# StageData counters summed per operation; times are in ms except CPU (ns)
_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                 "shuffleWriteBytes", "inputBytes", "inputRecords", "outputBytes")


def start_session(work: str):
    """``local[nproc]`` with shuffle partitions = nproc, no console progress
    bar, and every scratch file (shuffle, temp, warehouse) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"  # the inputs are small; keep the heap bounded
    # the JVMs' scratch files (native-library extraction, perf data) stay in work
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    tempfile.tempdir = tmp
    from diive_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))  # nproc
    spark = get_spark(parallelism=cpus, shuffle_partitions=cpus, app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class EngineCounters:
    """Diff Spark's status store around an operation.

    ``mark()`` drains the listener bus and returns the newest stage and job
    ids; ``since(mark, t0, t1)`` drains it again and sums the counters of the
    stages and jobs created after the mark.  ``t0``/``t1`` are
    ``time.time()`` stamps of the operation, used for ``idle_frac``: the
    share of its wall time in which no stage was running (driver-side fixed
    cost).  Marks are plain values, so diffs may nest."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stage_list(self):
        return self._sc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList())

    def _job_list(self):
        return self._sc.statusStore().jobsList(self._jvm.java.util.ArrayList())

    @staticmethod
    def _newer(lst, newer_than: int, key) -> list:
        """Entries of a newest-first status-store list with id > newer_than."""
        out = []
        for i in range(lst.size()):
            item = lst.apply(i)
            if key(item) <= newer_than:
                break
            out.append(item)
        return out

    def mark(self) -> tuple[int, int]:
        self._drain()
        stages, jobs = self._stage_list(), self._job_list()
        return (stages.apply(0).stageId() if stages.size() else -1,
                jobs.apply(0).jobId() if jobs.size() else -1)

    def since(self, mark: tuple[int, int], t0: float, t1: float) -> dict:
        self._drain()
        out = {"stages": 0, **{f: 0 for f in _STAGE_FIELDS}}
        active = []
        for s in self._newer(self._stage_list(), mark[0], lambda s: s.stageId()):
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for f in _STAGE_FIELDS:
                out[f] += int(getattr(s, f)())
            sub, comp = s.submissionTime(), s.completionTime()
            if sub.isDefined() and comp.isDefined():
                active.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        return {
            "jobs": len(self._newer(self._job_list(), mark[1], lambda j: j.jobId())),
            "stages": out["stages"], "tasks": out["numTasks"],
            "executor_run_s": out["executorRunTime"] / 1e3,
            "executor_cpu_s": out["executorCpuTime"] / 1e9,
            "gc_s": out["jvmGcTime"] / 1e3,
            "shuffle_write_bytes": out["shuffleWriteBytes"],
            "input_bytes": out["inputBytes"], "input_records": out["inputRecords"],
            "output_bytes": out["outputBytes"],
            "idle_frac": max(0.0, 1.0 - covered(t0, t1, active) / max(t1 - t0, 1e-9)),
        }


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                pid = int(name)
                for line in f:
                    if line.startswith("PPid:"):
                        parent[pid] = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        rss[pid] = int(line.split()[1])
        except OSError:
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return sum(rss.get(p, 0) for p in tree)


class PeakRSS:
    """Samples the benchmark's process tree (python + JVM + Python workers)
    every ``interval`` seconds on a daemon thread; ``stop()`` returns the
    peak in MB."""

    def __init__(self, interval: float = 0.25):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self._interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0
