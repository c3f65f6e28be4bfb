"""Engine-side counters read from Spark's own sources: the status store
(jobs, stages, tasks, executor time, shuffle, spill, peak execution
memory), ``QueryExecution.tracker()`` phases through a query-execution
listener, the JVM heap, and /proc for the JVM's Python workers."""

from __future__ import annotations

import os
import time

MB = 1024 * 1024
CATALYST_PHASES = ("parsing", "analysis", "optimization", "planning")


class CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: sums the
    analysis/optimization/planning phase time of every finished query."""

    def __init__(self) -> None:
        self.ms = 0.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        self.ms += _phase_ms(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.ms += _phase_ms(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phase_ms(qe) -> float:
    phases = qe.tracker().phases()
    total = 0.0
    for p in CATALYST_PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


class SparkStats:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.catalyst = None

    def listen_catalyst(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self.catalyst = CatalystListener()
        self.spark._jsparkSession.listenerManager().register(self.catalyst)

    def drain(self) -> None:
        """Block until every posted listener event has been delivered."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, job0: int, job1: int) -> dict:
        """Stage/task totals over the jobs with ids in [job0, job1). Call
        ``drain`` first."""
        out = {"stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "peak_exec_mem_mb": 0.0}
        seen = set()
        for j in range(job0, job1):
            ids = self.store.job(j).stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["peak_exec_mem_mb"] = max(
                    out["peak_exec_mem_mb"], st.peakExecutionMemory() / MB
                )
        return out

    def live_heap_mb(self) -> float:
        """JVM heap in use right after two forced full collections. The
        first collection lets the ContextCleaner drop the blocks of
        unreachable RDDs and broadcasts; the wait gives it time to."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        time.sleep(0.5)
        jvm.System.gc()
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / MB


def _proc_tree() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), comm)
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of every Python
    process below this driver's JVM: the pyspark daemon and its workers."""
    tree = _proc_tree()
    me = os.getpid()
    jvms = [p for p, (pp, comm) in tree.items() if pp == me and comm == "java"]
    below, frontier = [], list(jvms)
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in tree.items() if pp == parent]
        below += kids
        frontier += kids
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in below:
        if not tree[p][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                raw = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # utime stime cutime cstime are stat fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / ticks
