"""Measurement from outside the program: one job group per call, Spark's
own job/stage/task counts for it, py4j calls made from Python, RSS of
the process tree, and an event log that can be switched on for part of
a session."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from py4j.protocol import MEMORY_COMMAND_NAME


@dataclass
class Call:
    """One timed call into the program."""

    label: str
    group: str
    wall_s: float
    cpu_s: float  # process-tree CPU time less JIT compilation
    build_s: float
    jobs: int
    stages: int
    tasks: int
    py4j_calls: int


class Probe:
    """Runs calls under their own job group and counts their work.

    Counts come from ``SparkContext.statusTracker`` after the call
    returns, outside the timed region.  ``count_py4j`` wraps the
    gateway client's ``send_command`` so every Python→JVM call made
    while a call runs is counted; it is part of tracing and stays off in
    timed passes."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._seq = 0
        self._py4j = 0
        self._client = None

    def count_py4j(self, on: bool) -> None:
        if on and self._client is None:
            self._client = self.sc._gateway._gateway_client
            send = self._client.send_command

            def counted(command, *args, **kwargs):
                # skip the deletes py4j sends when Python garbage-collects
                # a JVM object proxy: they follow the collector, not the plan
                if not command.startswith(MEMORY_COMMAND_NAME):
                    self._py4j += 1
                return send(command, *args, **kwargs)

            self._client.send_command = counted
        elif not on and self._client is not None:
            del self._client.send_command  # back to the class method
            self._client = None

    def call(self, label: str, build, run=None) -> tuple[object, Call]:
        """Time ``build()`` then ``run(built)`` as one call.

        ``build`` is the plan-construction half (a query function);
        ``run`` the action.  Without ``run`` the whole call is ``build``.
        """
        self._seq += 1
        group = f"pb{self._seq:05d}-{label}"
        self.sc.setJobGroup(group, label)
        py4j0 = self._py4j
        cpu0 = cpu_snapshot()
        t0 = time.perf_counter()
        try:
            out = build()
            t1 = time.perf_counter()
            if run is not None:
                out = run(out)
            t2 = time.perf_counter()
        finally:
            cpu = cpu_between(cpu0, cpu_snapshot())
            py4j = self._py4j - py4j0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs, stages, tasks = self.counts(group)
        return out, Call(label, group, t2 - t0, cpu,
                         t1 - t0 if run is not None else 0.0,
                         jobs, stages, tasks, py4j)

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages that ran a task, tasks completed) of a group."""
        # the status store is fed asynchronously by the listener bus: a
        # count read before it drains can miss the call's last events
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return len(jobs), stages, tasks

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


class EventLog:
    """An uncompressed event log for part of a live session.

    Attaches Spark's own ``EventLoggingListener`` to the running
    context, so a run can time some passes untraced and then trace
    others without restarting the session.  The session must have been
    built with ``spark.eventLog.compress=false``."""

    def __init__(self, spark, log_dir: str) -> None:
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId,
            jvm.scala.Option.empty(),
            jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"),
            jsc.conf(),
            self.sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def close(self) -> None:
        """Detach and flush; the log is complete once this returns."""
        if self._listener is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.listenerBus().removeListener(self._listener)
        self._listener.stop()
        self._listener = None


def process_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(field: str = "VmHWM") -> dict[str, float]:
    """``field`` (VmHWM: peak RSS, VmRSS: current) summed over this
    process and its descendants, by process name: this process
    (``python3``), the JVM it launched (``java``) and the JVM's Python
    workers (also ``python3``, counted under ``workers``)."""
    kids = process_children()
    me = os.getpid()
    todo, out = [me], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                kb = next((int(x.split()[1]) for x in f if x.startswith(field + ":")), 0)
        except OSError:
            continue
        kind = "python" if pid == me else ("jvm" if name == "java" else "workers")
        out[kind] = out.get(kind, 0.0) + kb / 1024.0
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        return sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[fields])


def cpu_snapshot() -> tuple[int, dict[str, int]]:
    """CPU clock ticks of this process and its descendants (user +
    system, reaped children included), and the ticks of each JIT
    compiler thread among them."""
    kids = process_children()
    todo, total, jit = [os.getpid()], 0, {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += _ticks(f"/proc/{pid}/stat", slice(11, 15))  # utime..cstime
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            task = f"/proc/{pid}/task/{tid}"
            try:
                with open(f"{task}/comm") as f:
                    if "CompilerThre" not in f.read():  # HotSpot C1/C2 threads
                        continue
                jit[f"{pid}/{tid}"] = _ticks(f"{task}/stat", slice(11, 13))
            except OSError:
                continue
    return total, jit


def cpu_between(before: tuple[int, dict[str, int]], after: tuple[int, dict[str, int]]) -> float:
    """CPU seconds the process tree spent between two snapshots, less
    the JIT compiler's.  Compilation is warm-up that fades as the JVM
    runs, and it swings between runs by more than the work itself; a
    compiler thread that exits between the snapshots keeps its share."""
    jit = sum(t - before[1].get(k, 0) for k, t in after[1].items())
    return (after[0] - before[0] - jit) / _TICK


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the machine: steal is time this virtual
    machine was ready to run but its host ran someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])
