"""Read-only probes: Spark's status store, codegen and JVM counters, /proc.

Nothing here changes the session or the package. Every count comes from
a public status API (``AppStatusStore``, ``SQLAppStatusStore``,
``SparkStatusTracker``), Spark's ``CodegenMetrics`` source, the JVM's
management beans, or ``/proc``.

Status-store counts are harvested per *span*: each span runs under its own
job group, and a harvest reads the jobs of that group only. The store keeps
a bounded number of jobs and stages (``spark.ui.retainedJobs`` /
``retainedStages``, 1000 by default) and evicts the oldest, so differencing
list sizes goes wrong once a run outlives the retention. A span's own jobs
are the newest in the store when it is harvested, so they are complete as
long as a single span stays below the retention.
"""

from __future__ import annotations

import itertools
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


class StatusProbe:
    """Job-group spans over one SparkContext, harvested from its status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._skew_q = gw.new_array(gw.jvm.double, 2)
        self._skew_q[0], self._skew_q[1] = 0.5, 1.0
        self._all_status = gw.jvm.java.util.ArrayList()
        self._ids = itertools.count()

    def begin(self, label: str) -> str:
        """Open a span: later jobs from this thread carry its job group.
        The span sets no job description, so SQL executions keep their call
        site ("csv at ...") as description."""
        group = f"perfbench-{next(self._ids)}-{label}"
        self.sc.setJobGroup(group, None)
        return group

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def harvest(self, groups: list[str], skew: bool = False) -> dict:
        """Totals over the jobs of ``groups``: jobs, stages that ran, tasks,
        failed tasks, executor run/CPU time, shuffle, spill, input and
        output bytes, and (``skew``) the worst max/median task time."""
        self.drain()
        job_ids = [j for g in groups for j in self.jobs(g)]
        stage_ids: set[int] = set()
        for j in job_ids:
            seq = self.store.job(j).stageIds()
            stage_ids.update(seq.apply(k) for k in range(seq.size()))
        out = dict(jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0,
                   run_ms=0, cpu_ns=0, shuffle_read=0, shuffle_write=0,
                   spill=0, input_bytes=0, output_bytes=0, task_skew=1.0)
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(
                sid, False, self._all_status, False, self._no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ns"] += st.executorCpuTime()
                out["shuffle_read"] += (st.shuffleRemoteBytesRead()
                                        + st.shuffleLocalBytesRead())
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                # skew only where it can cost time: several tasks, >= 100 ms
                if skew and st.numTasks() > 1 and st.executorRunTime() >= 100:
                    summary = self.store.taskSummary(sid, st.attemptId(), self._skew_q)
                    if summary.isDefined():
                        rt = summary.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            out["task_skew"] = max(out["task_skew"], mx / med)
        return out

    def last_execution_id(self) -> int:
        """Id of the newest SQL execution in the store (-1 if none)."""
        self.drain()
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(n - 1, 1).apply(0).executionId()

    def write_executions(self, after_id: int) -> list[tuple[str, float]]:
        """(format, seconds) of every file-write SQL execution newer than
        ``after_id``. A write's description is its call site, e.g.
        "csv at ..." or "parquet at ..."."""
        for _ in range(50):
            self.drain()
            n = self.sql_store.executionsCount()
            # newest last; widen the window until it reaches past after_id
            width = 64
            while True:
                seq = self.sql_store.executionsList(max(0, n - width), min(n, width))
                execs = [seq.apply(k) for k in range(seq.size())]
                if width >= n or (execs and execs[0].executionId() <= after_id):
                    break
                width *= 2
            execs = [e for e in execs if e.executionId() > after_id]
            # the store finalizes an execution after its last job ends
            if all(e.completionTime().isDefined() for e in execs):
                break
            time.sleep(0.02)
        out = []
        for e in execs:
            fmt = e.description().split(" ", 1)[0]
            if fmt in ("csv", "parquet") and e.completionTime().isDefined():
                secs = (e.completionTime().get().getTime() - e.submissionTime()) / 1e3
                out.append((fmt, secs))
        return out


class JvmProbe:
    """Cumulative codegen, JIT and GC counters of the Spark JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> dict:
        hist = self._codegen.METRIC_COMPILATION_TIME()
        return dict(
            codegen_compiles=hist.getCount(),
            # mean of the histogram's bounded sample of compile times (ms)
            codegen_mean_ms=hist.getSnapshot().getMean(),
            jit_ms=self._jit.getTotalCompilationTime(),
            gc_ms=sum(g.getCollectionTime() for g in self._gcs),
        )


def delta(after: dict, before: dict) -> dict:
    """Counter increments from ``before`` to ``after``; the codegen mean is
    a level, not a counter, and keeps its ``after`` value."""
    out = {k: after[k] - before[k] for k in after}
    out["codegen_mean_ms"] = after["codegen_mean_ms"]
    return out


# --- /proc -----------------------------------------------------------------

def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, utime+stime+cutime+cstime in ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def cpu_seconds(tree: list[int] | None = None) -> float:
    """CPU seconds used so far by this process, the Spark JVM and the
    Python workers (children reaped by a parent count through cutime)."""
    total = 0
    for pid in tree or process_tree():
        st = _stat(pid)
        if st:
            total += st[1]
    return total / _CLK


def peak_rss_mb(tree: list[int] | None = None) -> float:
    """Sum over the process tree of each process's peak resident set."""
    total_kb = 0
    for pid in tree or process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            pass
    return total_kb / 1024


def steal_seconds() -> float:
    """Host-wide CPU time stolen from this guest so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


def host_snapshot() -> dict:
    return dict(
        loadavg=os.getloadavg(),
        nproc=len(os.sched_getaffinity(0)),
        spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
        steal_s=steal_seconds(),
    )
