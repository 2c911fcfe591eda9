"""Read-only probes of the process tree, the host and Spark's status stores.

Everything here reads state the kernel and Spark already keep:
``/proc/<pid>/stat`` and ``/proc/<pid>/status`` for CPU time and RSS,
``/proc/stat`` and ``/proc/loadavg`` for the host, and the in-process
status stores (jobs, stages, SQL executions, storage) of a live
SparkSession. Nothing here changes what the program computes.
"""

from __future__ import annotations

import json
import os

TICK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name, so that
    ``fields[0]`` is the state and ``fields[1]`` the parent pid."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2 :].split()


def proc_cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds; 0 if
    it has gone."""
    try:
        f = _stat_fields(pid)
    except (FileNotFoundError, ProcessLookupError, ValueError):
        return 0.0
    return sum(int(x) for x in f[11:15]) / TICK


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, ValueError):
        return False


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, found through the parent pids in
    /proc (the kernel here has no /proc/<pid>/task/*/children)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                parent[int(name)] = int(_stat_fields(int(name))[1])
            except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
                pass
    kids: dict[int, list[int]] = {}
    for child, par in parent.items():
        kids.setdefault(par, []).append(child)
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class TreeCpu:
    """CPU-seconds of the benchmark process, the JVM and every live JVM
    descendant (Spark's Python daemon and workers). A worker that exited
    and was reaped is counted through its parent's cutime/cstime."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def read(self) -> dict[str, float]:
        workers = sum(proc_cpu_s(p) for p in descendants(self.jvm_pid))
        driver = proc_cpu_s(os.getpid())
        jvm = proc_cpu_s(self.jvm_pid)
        return {
            "driver": driver,
            "jvm": jvm,
            "pyworker": workers,
            "total": driver + jvm + workers,
        }


def reset_peak_rss(pid: int) -> None:
    """Reset VmHWM of ``pid`` to its current RSS (clear_refs value 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def host_cpu_s() -> dict[str, float]:
    """Cumulative CPU time of the whole host, in seconds: ``busy`` (user,
    nice, system, irq, softirq; every process, not only the benchmark's)
    and ``steal`` (time the hypervisor ran something else)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / TICK, "steal": v[7] / TICK}


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class SparkStatus:
    """Job, stage, SQL-execution and storage records of one live session,
    read from its status stores. Call :meth:`drain` first: the stores are
    filled by the asynchronous listener bus."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._sc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def last_sql_exec_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Job records with ``lo < jobId <= hi``; times in epoch ms."""
        raw = json.loads(str(self._json.writeValueAsString(self._store.jobsList(None))))
        got = [j for j in raw if lo < j["jobId"] <= hi]
        if len(got) != hi - lo:
            raise RuntimeError(
                f"status store holds {len(got)} of jobs {lo + 1}..{hi}; raise spark.ui.retainedJobs"
            )
        return got

    def stages(self, stage_ids: set[int]) -> list[dict]:
        st = self._store
        raw = st.stageList(
            None,
            getattr(st, "stageList$default$2")(),
            getattr(st, "stageList$default$3")(),
            getattr(st, "stageList$default$4")(),
            getattr(st, "stageList$default$5")(),
        )
        return [s for s in json.loads(str(self._json.writeValueAsString(raw))) if s["stageId"] in stage_ids]

    def jvm_gc_s(self) -> float:
        """Cumulative collection time of every JVM garbage collector. In
        local mode the driver and the executors share this JVM."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1e3

    def jit_s(self) -> float:
        """Cumulative time the JVM's JIT compilers spent compiling, from
        its CompilationMXBean (summed over compiler threads)."""
        bean = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return int(bean.getTotalCompilationTime()) / 1e3

    def storage_mb(self) -> float:
        """Memory plus disk held by cached and checkpointed RDD blocks."""
        infos = self._sc.getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / MB
