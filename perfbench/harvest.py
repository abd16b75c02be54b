"""Outside-in harvesters: Spark's status store, the streaming listener
bus and the resident memory of the process tree.  None of them needs a
change to the program under test.
"""

from __future__ import annotations

import os
import re
import signal
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric names as Spark's physical operators register them
BROADCAST_METRICS = ("time to build", "time to broadcast")
PYTHON_RUN_METRIC = "time to run Python workers"
PYTHON_SENT_METRIC = "data sent to Python workers"

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value in seconds, bytes or a plain count.
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value of the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return number * _UNITS[unit] if unit else number


@dataclass
class SparkWork:
    """What Spark ran during one operation, each job and SQL execution
    stamped with its submission time (seconds since the epoch)."""

    jobs: list[float] = field(default_factory=list)
    execs: list[tuple[float, float]] = field(default_factory=list)  # (submitted, duration)
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    broadcast_s: float = 0.0
    python_exec_s: float = 0.0
    python_bytes_sent: float = 0.0


class StatusStore:
    """Differ over Spark's status stores.  ``mark`` reads the next job,
    stage and execution ids before an operation; ``collect`` reads every
    job, stage and SQL execution created since.  Ids are dense and
    increasing, so nothing between the two reads is missed, provided
    the session retains them (see ``RETAIN_CONFS``)."""

    RETAIN_CONFS = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gateway = sc._gateway
        self.app = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0

    def _stages(self):
        return self.app.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            self.gateway.new_array(self.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )

    def mark(self) -> tuple[int, int, int]:
        stages = self._stages()
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        self.next_job = self._scan_jobs(self.next_job, [])
        return self.next_job, top_stage, int(self.sql.executionsCount())

    def _scan_jobs(self, job_id: int, submitted: list[float]) -> int:
        """Walk the dense job ids from ``job_id``; returns the next free
        id and appends each job's submission time."""
        from py4j.protocol import Py4JJavaError

        while True:
            try:
                job = self.app.job(job_id)
            except Py4JJavaError:
                return job_id
            sub = job.submissionTime()
            if sub.isDefined():
                submitted.append(sub.get().getTime() / 1000.0)
            job_id += 1

    def collect(self, mark: tuple[int, int, int]) -> SparkWork:
        next_job, top_stage, next_exec = mark
        work = SparkWork()
        self.next_job = self._scan_jobs(next_job, work.jobs)
        stages = self._stages()  # newest first
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= top_stage:
                break
            work.task_run_s += st.executorRunTime() / 1000.0
            work.task_cpu_s += st.executorCpuTime() / 1e9
            work.gc_s += st.jvmGcTime() / 1000.0
            work.shuffle_write_bytes += st.shuffleWriteBytes()
            work.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        exec_id = next_exec
        while True:
            found = self.sql.execution(exec_id)
            if not found.isDefined():
                break
            ex = found.get()
            submitted = ex.submissionTime() / 1000.0
            done = ex.completionTime()
            duration = done.get().getTime() / 1000.0 - submitted if done.isDefined() else 0.0
            work.execs.append((submitted, duration))
            self._exec_metrics(exec_id, ex, work)
            exec_id += 1
        return work

    def _exec_metrics(self, exec_id: int, ex, work: SparkWork) -> None:
        values = self.sql.executionMetrics(exec_id)
        metrics = ex.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            name = m.name()
            if name not in BROADCAST_METRICS and name not in (PYTHON_RUN_METRIC, PYTHON_SENT_METRIC):
                continue
            v = values.get(m.accumulatorId())
            if not v.isDefined():
                continue
            value = parse_metric(v.get())
            if name in BROADCAST_METRICS:
                work.broadcast_s += value
            elif name == PYTHON_RUN_METRIC:
                work.python_exec_s += value
            else:
                work.python_bytes_sent += value


class ProgressListener:
    """Collects ``StreamingQueryProgress.durationMs`` of every
    micro-batch.  Built lazily: the listener base class needs a live
    session."""

    PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit")

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.terminated = 0
        self.terminated_cv = threading.Condition(self.lock)

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.progress.append(
                        {k: float(p.durationMs.get(k, 0)) / 1000.0 for k in outer.PHASES}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated += 1
                    outer.terminated_cv.notify_all()

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def reset(self) -> int:
        """Forget progress from earlier (untraced) queries; returns the
        termination count to pass to :meth:`drain`."""
        with self.lock:
            self.progress = []
            return self.terminated

    def drain(self, terminated_before: int, timeout: float = 10.0) -> list[dict]:
        """Wait until the bus delivered the query's termination (events
        arrive asynchronously), then hand over and clear the progress."""
        with self.lock:
            self.terminated_cv.wait_for(lambda: self.terminated > terminated_before, timeout)
            out, self.progress = self.progress, []
            return out

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``:
    steal is time the hypervisor ran someone else on our vCPUs."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


class Clock:
    """Wall and process-tree CPU seconds elapsed since construction."""

    def __init__(self):
        self.cpu0 = TREE_CPU.seconds()
        self.wall0 = time.perf_counter()

    def read(self) -> tuple[float, float]:
        """Wall seconds until now, and CPU seconds until the tree is
        idle again: what the work left running (JIT compilation, GC,
        threads it started) counts too, and not towards the next
        measurement."""
        wall = time.perf_counter() - self.wall0
        return wall, settle() - self.cpu0


SETTLE_WAITS: list[float] = []  # seconds each settle() waited


def settle(window: float = 0.1, idle_cores: float = 0.25, limit: float = 3.0) -> float:
    """Wait until the process tree uses less than ``idle_cores`` over
    ``window`` seconds, or ``limit`` seconds pass; returns ``TREE_CPU``."""
    start = time.perf_counter()
    last = TREE_CPU.seconds()
    while True:
        time.sleep(window)
        now = TREE_CPU.seconds()
        waited = time.perf_counter() - start
        if now - last < idle_cores * window or waited > limit:
            SETTLE_WAITS.append(waited)
            return now
        last = now


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        try:
            out.extend(int(c) for c in task.read_text().split())
        except OSError:
            pass
    return out


def _tree(root: int):
    """``(pid, parent pid)`` of ``root`` and its descendants: the driver
    Python, the Spark JVM, pyspark's daemon and the Python workers it
    forks.  A child of the JVM still running the JVM's executable is a
    fork on its way to launch a command; it shares the JVM's memory
    until it execs, so it is left out."""
    todo = [(root, None, None)]
    while todo:
        pid, ppid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
        except OSError:
            exe = None  # gone, or a zombie whose parent has not reaped it
        if exe is not None and exe == parent_exe and os.path.basename(exe) == "java":
            continue
        yield pid, ppid
        todo.extend((child, pid, exe) for child in _children(pid))


_SIGCHLD_MASK = 1 << (signal.SIGCHLD - 1)


def _ignores_sigchld(pid: int) -> bool:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("SigIgn:"):
                return bool(int(line.split()[1], 16) & _SIGCHLD_MASK)
    except OSError:
        pass
    return False


class TreeCpu:
    """User plus system CPU seconds of the process tree: each live
    process's own time plus the time of the children it reaped.  The
    kernel reaps the children of a process that ignores SIGCHLD, as
    pyspark's daemon does for its workers, and their time then reaches
    no parent; so each such child's last sample is kept once it is gone.
    Sampled often (see ``RssSampler``), the total never goes down.  Time
    the host steals from the vCPUs is not in it, unlike wall time, and
    neither is the time of the root's threads passed to ``exclude``: the
    benchmark's own samplers."""

    def __init__(self, root: int):
        self.root = root
        self._lock = threading.Lock()
        self._autoreaped: dict[tuple[int, int], int] = {}  # (pid, start) -> ticks
        self._gone = 0
        self._excluded: dict[int, int] = {}  # thread id -> ticks last read

    def exclude(self, tid: int) -> None:
        with self._lock:
            self._excluded[tid] = 0

    def seconds(self) -> float:
        with self._lock:
            total, autoreaped, ignoring = 0, {}, {}
            for pid, ppid in _tree(self.root):
                try:
                    fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
                total += ticks
                if ppid is not None:
                    if ppid not in ignoring:
                        ignoring[ppid] = _ignores_sigchld(ppid)
                    if ignoring[ppid]:
                        autoreaped[(pid, int(fields[19]))] = ticks
            self._gone += sum(t for k, t in self._autoreaped.items() if k not in autoreaped)
            self._autoreaped = autoreaped
            for tid in self._excluded:  # an ended thread keeps its last reading
                try:
                    fields = Path(f"/proc/{self.root}/task/{tid}/stat").read_text().rsplit(")", 1)[1].split()
                    self._excluded[tid] = int(fields[11]) + int(fields[12])
                except OSError:
                    pass
            return (total + self._gone - sum(self._excluded.values())) / os.sysconf("SC_CLK_TCK")


TREE_CPU = TreeCpu(os.getpid())


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree, counted as proportional set
    size so pages shared between processes count once."""
    total = 0
    for pid, _ in _tree(root):
        try:
            for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
                if line.startswith("Pss:"):
                    total += int(line.split()[1]) * 1024
                    break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps
    the peak; samples its CPU time too, so that ``TREE_CPU`` sees each
    Python worker before it ends.  Reading a large JVM's memory map costs
    tens of milliseconds, so the thread's own time is left out of
    ``TREE_CPU``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        TREE_CPU.exclude(threading.get_native_id())
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            TREE_CPU.seconds()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)
