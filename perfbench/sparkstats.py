"""Readers for figures the benchmark takes from outside the program: Spark's
own status stores (jobs, stages, SQL executions) and the process tree's
resident memory. Nothing here runs inside the code under test."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


class SparkStats:
    """Job and stage figures from ``SparkContext.statusStore()``.

    Work is attributed by job-id range: ``mark()`` returns the newest job id
    once the listener bus has delivered every event, so the jobs of a span
    are those after the mark taken before it and up to the mark taken after.
    Ranges also catch jobs submitted from the program's own threads, which
    do not inherit the caller's job group."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._store = self._sc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)

    def _seq(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def mark(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def gc_s(self) -> float:
        """Garbage-collection time of the JVM so far. In local mode the
        driver JVM runs the tasks too, so a difference across a span is the
        span's collection time at millisecond resolution."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def totals(self, lo: int, hi: int) -> dict:
        """Sums over the stages of jobs ``lo < id <= hi`` (times in seconds)."""
        stage_ids: set[int] = set()
        for j in range(lo + 1, hi + 1):
            stage_ids.update(int(s) for s in self._seq(self._store.job(j).stageIds()))
        t = dict(jobs=max(hi - lo, 0), stages=0, exec_s=0.0, cpu_s=0.0, gc_s=0.0,
                 shuffle_write_bytes=0, spill_bytes=0, peak_mem_bytes=0)
        for sid in stage_ids:
            for s in self._seq(self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles)):
                if s.status().toString() == "SKIPPED":
                    continue
                t["stages"] += 1
                t["exec_s"] += s.executorRunTime() / 1e3
                t["cpu_s"] += s.executorCpuTime() / 1e9
                t["gc_s"] += s.jvmGcTime() / 1e3
                t["shuffle_write_bytes"] += s.shuffleWriteBytes()
                t["spill_bytes"] += s.diskBytesSpilled()
                t["peak_mem_bytes"] = max(t["peak_mem_bytes"], s.peakExecutionMemory())
        return t

    def executions(self, lo: int, hi: int) -> list[dict]:
        """SQL executions whose jobs fall in ``lo < id <= hi``: the output
        path they wrote (None for a read or collect), wall seconds, and
        their job-id range."""
        out = []
        sql = self._spark._jsparkSession.sharedState().statusStore()
        for e in self._seq(sql.executionsList()):
            ids = [int(i) for i in e.jobs().keys().mkString(",").split(",") if i]
            if not ids or min(ids) <= lo or max(ids) > hi:
                continue
            plan = e.physicalPlanDescription()
            path = None
            if "InsertIntoHadoopFsRelationCommand" in plan:
                i = plan.find("Arguments: file:")
                path = plan[i + len("Arguments: file:"):].split(",", 1)[0] if i >= 0 else ""
            done = e.completionTime()
            wall = (done.get().getTime() - e.submissionTime()) / 1e3 if done.isDefined() else 0.0
            out.append(dict(path=path, wall_s=wall, lo=min(ids) - 1, hi=max(ids), id=e.executionId()))
        return sorted(out, key=lambda x: x["id"])


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process tree (driver JVM and
    Python workers included) every ``interval`` seconds; ``peak_mb`` is the
    highest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
