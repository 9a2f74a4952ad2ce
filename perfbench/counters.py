"""Counters read from outside the engine package.

Every run reads CPU time from ``/proc``: of the whole process tree
(``tree_cpu_s``, less the JIT compiler in ``CpuClock``) and the host's
steal (``steal_s``).  Traced runs only read:

* jobs / stages / tasks of one job group, through ``statusTracker``;
* per-stage task metrics (run and CPU time, shuffle and spill bytes) from
  the JVM status store (``AppStatusStore.lastStageAttempt``), which Spark
  keeps with ``spark.ui.enabled=false``;
* node counts of a DataFrame's executed physical plan.

The status store is filled by the listener bus asynchronously, so every
read first waits for the bus to drain.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError

PYTHON_NODES = re.compile(
    r"\b(?:MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|"
    r"BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|AggregateInPandas|"
    r"WindowInPandas|ArrowWindowPython|PythonDataSourceScan)"
)


@dataclass
class ExecCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: ExecCounts) -> ExecCounts:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


@dataclass
class PlanCounts:
    exchange: int
    smj: int
    bhj: int
    python: int
    chars: int


def plan_counts(plan: str) -> PlanCounts:
    """Count operator nodes in a physical plan's tree string."""
    return PlanCounts(
        exchange=len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan)),
        smj=len(re.findall(r"\bSortMergeJoin\b", plan)),
        bhj=len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        python=len(PYTHON_NODES.findall(plan)),
        chars=len(plan),
    )


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def group(self, group_id: str) -> ExecCounts:
        """Jobs, stages that ran, their tasks and task metrics for every
        job started under ``setJobGroup(group_id)``."""
        self.drain()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = ExecCounts()
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group_id):
            out.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.run_ms += sd.executorRunTime()
                out.cpu_ms += sd.executorCpuTime() / 1e6
                out.shuffle_read_bytes += sd.shuffleReadBytes()
                out.shuffle_write_bytes += sd.shuffleWriteBytes()
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    @staticmethod
    def plan(df) -> PlanCounts:
        return plan_counts(df._jdf.queryExecution().executedPlan().toString())


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the driver's Python, the JVM it launched, and Spark's
    Python workers, counting the workers that already exited through
    their parent's reaped-children total.  Unlike wall time, this leaves
    out the time the host takes the vCPUs away."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        f = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * _TICK_S


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuClock:
    """CPU seconds of the process tree (``tree_cpu_s``) less those of the
    JVM's JIT compiler threads.  How much the JIT compiles while an
    operation runs depends on what its queue still holds from earlier
    operations: in the steady passes of ``pipeline_heavy`` the C2
    threads used from 0 to 12 CPU-seconds of about 40.  The JVM must run
    with ``-XX:-UseDynamicNumberOfCompilerThreads``, so that its compiler
    threads live as long as it does."""

    def __init__(self, jvm_pid: int) -> None:
        self._jit = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            path = f"/proc/{jvm_pid}/task/{tid}/stat"
            with open(path) as fh:
                stat = fh.read()
            if stat[stat.index("(") + 1:stat.rindex(")")] in JIT_THREADS:
                self._jit.append(path)
        if not self._jit:
            raise RuntimeError(f"no JIT compiler thread in JVM {jvm_pid}")

    def jit_s(self) -> float:
        total = 0
        for path in self._jit:
            with open(path) as fh:
                stat = fh.read()
            f = stat[stat.rindex(")") + 2:].split()
            total += int(f[11]) + int(f[12])
        return total * _TICK_S

    def __call__(self) -> float:
        return tree_cpu_s() - self.jit_s()


def steal_s() -> float:
    """vCPU seconds the host has taken from this machine since boot, over
    all CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) * _TICK_S


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus this Python process's ``ru_maxrss``."""
    import resource

    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0
