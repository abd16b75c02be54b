"""Outside-in tracing of ``aqueducts_spark`` by rebinding the names its
callers look up.

Each traced call becomes a :class:`metrics.Span` tagged with its layer
and the operation it belongs to.  Spans stay in memory and are written
when the benchmark ends.  After each traced operation the tracer reads
what Spark, the streaming listener bus and the Delta log recorded in
the meantime and turns it all into the per-layer metrics.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import threading
import time
from pathlib import Path
from typing import Any, Callable, Optional

from deltalog import read_log
from harvest import Clock, ProgressListener, SparkWork, StatusStore
from metrics import Span, self_times, sibling_overlap, union_length

# (layer, function name, modules whose attribute of that name callers
# resolve at call time).  The first module defines the function.
WRAPPED = [
    ("config", "load_pipeline_str", [
        "aqueducts_spark.config.loader", "aqueducts_spark", "aqueducts_spark.executor.server"]),
    ("sources", "register_sources", [
        "aqueducts_spark.sources.register", "aqueducts_spark.sources", "aqueducts_spark.pipeline"]),
    ("stages", "build_stage_df", ["aqueducts_spark.stages"]),
    ("stages", "process_stage", ["aqueducts_spark.stages", "aqueducts_spark.pipeline"]),
    ("operators", "run_operator", ["aqueducts_spark.operators.registry"]),
    ("pipeline", "run_pipeline", [
        "aqueducts_spark.pipeline", "aqueducts_spark", "aqueducts_spark.executor.server"]),
    ("destinations", "prepare_destination", [
        "aqueducts_spark.destinations.write", "aqueducts_spark.destinations", "aqueducts_spark.pipeline"]),
    ("destinations", "write_to_destination", [
        "aqueducts_spark.destinations.write", "aqueducts_spark.destinations", "aqueducts_spark.pipeline"]),
    ("executor", "submit_pipeline", ["aqueducts_spark.executor.client"]),
]
DELTA_METHODS = {"upsert": "commit", "append": "commit", "read": "read", "changes": "read"}

# every per-layer metric the traced run reports, in print order
PER_LAYER = [
    "config.load_s",
    "sources.register_s", "sources.jobs",
    "stages.build_s", "stages.materialize_s", "stages.eager_sql_execs",
    "operators.build_s", "operators.eager_sql_execs", "operators.eager_exec_s",
    "pipeline.self_s", "pipeline.cached_stages", "pipeline.group_overlap",
    "destinations.write_s", "destinations.files_written", "destinations.bytes_written",
    "delta.commit_s", "delta.read_s", "delta.files_added", "delta.files_removed",
    "delta.live_files", "delta.bytes_added", "delta.log_actions_replayed", "delta.checkpoints",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.batches",
    "executor.submit_to_first_event_s", "executor.overhead_s", "executor.messages",
    "spark.sql_execs", "spark.jobs", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.broadcast_s",
    "spark.python_exec_s", "spark.python_bytes_sent",
    "trace.untraced_s", "trace.overhead_s",
]


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if "bytes" in metric:
        return "B"
    if metric == "pipeline.group_overlap":
        return "ratio"
    return "count"


class Tracer:
    """Spans for traced operations.  ``enabled`` installs the wrappers;
    ``active`` (toggled per operation) decides whether a call records,
    so one run can time traced and untraced operations alike."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self.op_id = -1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root_stack: list[int] = []  # the operation's own thread
        self._restore: list[tuple[Any, str, Any]] = []
        self.ops: list[dict[str, float]] = []  # per traced operation
        self.commits: list[dict[str, int]] = []
        self._exec_msgs = 0
        self._first_event: Optional[float] = None
        self._cached = 0
        self._last_traced = False
        # per traced operation: sum of self times minus wall time, and the
        # part of it parallel spans explain (see _layer_metrics)
        self.self_excess: list[tuple[float, float]] = []
        self.status: Optional[StatusStore] = None
        self.listener: Optional[ProgressListener] = None

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, layer: str, name: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a thread hop the program made without telling us: hang
            # it under whatever the operation's own thread is inside
            parent = getattr(self._local, "inherited", None)
            if parent is None and self._root_stack:
                parent = self._root_stack[-1]
        with self._lock:
            span = Span(len(self.spans), name, layer, time.time(), 0.0, parent, self.op_id)
            self.spans.append(span)
        stack.append(span.id)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()

    def _wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            if name == "process_stage":
                stage = args[1] if len(args) > 1 else kwargs["stage"]
                if kwargs.get("cache") or stage.eager:
                    tracer._cached += 1
            span = tracer._open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return traced

    def _propagating(self, original: Callable) -> Callable:
        """Wrap the pipeline's thread-pool hand-off so that stages run in
        a parallel group hang under the span that submitted them."""
        tracer = self

        @functools.wraps(original)
        def propagate(spark, fn):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            inner = original(spark, fn)

            def run(*a, **kw):
                tracer._local.inherited = parent
                try:
                    return inner(*a, **kw)
                finally:
                    tracer._local.inherited = None

            return run

        return propagate

    def install(self, spark) -> None:
        if not self.enabled:
            return
        for layer, name, modules in WRAPPED:
            original = getattr(importlib.import_module(modules[0]), name)
            wrapped = self._wrap(layer, name, original)
            for mod_name in modules:
                mod = importlib.import_module(mod_name)
                self._restore.append((mod, name, getattr(mod, name)))
                setattr(mod, name, wrapped)
        from aqueducts_spark.delta.protocol import DeltaProtocolTable

        for method, kind in DELTA_METHODS.items():
            original = getattr(DeltaProtocolTable, method)
            self._restore.append((DeltaProtocolTable, method, original))
            setattr(DeltaProtocolTable, method, self._wrap("delta", f"{kind}.{method}", original))
        pipeline = importlib.import_module("aqueducts_spark.pipeline")
        self._restore.append((pipeline, "_propagate_job_group", pipeline._propagate_job_group))
        pipeline._propagate_job_group = self._propagating(pipeline._propagate_job_group)
        self.status = StatusStore(spark)
        self.listener = ProgressListener(spark)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._restore):
            setattr(owner, name, original)
        self._restore.clear()
        if self.listener is not None:
            self.listener.close()

    # ------------------------------------------------------ operations
    def on_executor_message(self, msg: dict) -> None:
        if not self.active:
            return
        self._exec_msgs += 1
        if self._first_event is None and msg.get("type") == "progress_update":
            self._first_event = time.time()

    def run_operation(
        self, fn: Callable[[], Any], trace: bool, delta_table: Optional[Path] = None
    ) -> tuple[float, float]:
        """Run one operation; returns its wall time and the CPU time of
        the process tree, in seconds.  With ``trace`` the operation is
        recorded and harvested."""
        self._last_traced = self.enabled and trace
        if not self._last_traced:
            clock = Clock()
            fn()
            return clock.read()
        self.op_id += 1
        self._exec_msgs, self._first_event, self._cached = 0, None, 0
        mark = self.status.mark()
        terminated = self.listener.reset()
        self.active = True
        root = self._open("op", "operation")
        self._root_stack = self._stack()
        clock = Clock()
        try:
            fn()
        finally:
            self._close(root)
            self._root_stack = []
            self.active = False
            elapsed, cpu = clock.read()
        work = self.status.collect(mark)
        streamed = self.listener.drain(terminated, timeout=10.0) if delta_table else []
        self.ops.append(self._layer_metrics(root, work, streamed, delta_table))
        return elapsed, cpu

    def add_destination_output(self, files: int, size: int) -> None:
        """Files and bytes the last traced operation left under its
        destination (the workload lists them)."""
        if self._last_traced:
            self.ops[-1]["destinations.files_written"] = files
            self.ops[-1]["destinations.bytes_written"] = size

    def _layer_metrics(self, root: Span, work: SparkWork, streamed: list[dict], delta_table) -> dict:
        spans = [s for s in self.spans if s.op == root.op]
        own = self_times(spans)
        # Without parallel spans the self times sum to the wall time; with
        # them, they exceed it by the time siblings ran at once.  Any other
        # excess is a span outside its parent: hung under the wrong one.
        excess = sum(own.values()) - root.duration
        overlap = sibling_overlap(spans)
        if abs(excess - overlap) > 1e-6:
            raise AssertionError(
                f"self times exceed the operation's wall time by {excess} s, "
                f"of which parallel spans explain {overlap} s")
        self.self_excess.append((excess, overlap))

        def self_of(*names: str) -> float:
            return sum(own[s.id] for s in spans if s.name in names)

        def layer_self(layer: str) -> float:
            return sum(own[s.id] for s in spans if s.layer == layer)

        depth = {}
        for s in spans:
            depth[s.id] = 0 if s.parent is None else depth.get(s.parent, 0) + 1

        def innermost(t: float) -> Span:
            inside = [s for s in spans if s.start <= t < s.end]
            return max(inside, key=lambda s: (depth[s.id], s.start)) if inside else root

        job_owner = [innermost(t) for t in work.jobs]
        exec_owner = [(innermost(t), d) for t, d in work.execs]
        stage_spans = [s for s in spans if s.name == "process_stage" or (
            s.name == "build_stage_df" and self.spans[s.parent].name != "process_stage")]
        durations = sum(s.duration for s in stage_spans)
        covered = union_length([(s.start, s.end) for s in stage_spans])
        submits = [s for s in spans if s.name == "submit_pipeline"]
        served = [s for s in spans if s.name == "run_pipeline" and s.parent is not None
                  and self.spans[s.parent].name == "submit_pipeline"]
        m = {
            "config.load_s": layer_self("config"),
            "sources.register_s": layer_self("sources"),
            "sources.jobs": sum(1 for o in job_owner if o.layer == "sources"),
            "stages.build_s": self_of("build_stage_df"),
            "stages.materialize_s": self_of("process_stage"),
            "stages.eager_sql_execs": sum(1 for o, _ in exec_owner if o.layer == "stages"),
            "operators.build_s": layer_self("operators"),
            "operators.eager_sql_execs": sum(1 for o, _ in exec_owner if o.layer == "operators"),
            "operators.eager_exec_s": sum(d for o, d in exec_owner if o.layer == "operators"),
            "pipeline.self_s": layer_self("pipeline"),
            "pipeline.cached_stages": self._cached,
            "pipeline.group_overlap": durations / covered if covered > 0 else 1.0,
            "destinations.write_s": layer_self("destinations"),
            "destinations.files_written": 0,
            "destinations.bytes_written": 0,
            "delta.commit_s": sum(own[s.id] for s in spans if s.name.startswith("commit.")),
            "delta.read_s": sum(own[s.id] for s in spans if s.name.startswith("read.")),
            "streaming.trigger_s": sum(p["triggerExecution"] for p in streamed),
            "streaming.add_batch_s": sum(p["addBatch"] for p in streamed),
            "streaming.planning_s": sum(p["queryPlanning"] for p in streamed),
            "streaming.wal_commit_s": sum(p["walCommit"] for p in streamed),
            "streaming.batches": len(streamed),
            "executor.submit_to_first_event_s": (
                self._first_event - submits[0].start if submits and self._first_event else 0.0),
            "executor.overhead_s": sum(s.duration for s in submits) - sum(s.duration for s in served),
            "executor.messages": self._exec_msgs,
            "spark.sql_execs": len(work.execs),
            "spark.jobs": len(work.jobs),
            "spark.task_run_s": work.task_run_s,
            "spark.task_cpu_s": work.task_cpu_s,
            "spark.gc_s": work.gc_s,
            "spark.shuffle_write_bytes": work.shuffle_write_bytes,
            "spark.spill_bytes": work.spill_bytes,
            "spark.broadcast_s": work.broadcast_s,
            "spark.python_exec_s": work.python_exec_s,
            "spark.python_bytes_sent": work.python_bytes_sent,
            "trace.untraced_s": own[root.id],
            "op_s": root.duration,
        }
        for key in ("files_added", "files_removed", "live_files", "bytes_added",
                    "log_actions_replayed", "checkpoints"):
            m[f"delta.{key}"] = 0
        if delta_table is not None:
            log = read_log(delta_table / "_delta_log")
            last = log.commits[-1]
            commit = {
                "version": last.version,
                "files_added": last.files_added,
                "files_removed": last.files_removed,
                "live_files": len(log.live),
                "prev_live_files": log.live_counts.get(last.version - 1, 0),
                "bytes_added": last.bytes_added,
                "log_actions_replayed": log.actions_to_replay(),
                "checkpoints": len(log.checkpoints),
            }
            self.commits.append(commit)
            for key in ("files_added", "files_removed", "live_files", "bytes_added",
                        "log_actions_replayed", "checkpoints"):
                m[f"delta.{key}"] = commit[key]
        return m

    # --------------------------------------------------------- results
    def per_layer(self, overhead_s: float) -> dict[str, float]:
        """Mean per traced operation of every per-layer metric, plus the
        given tracing overhead."""
        if not self.ops:
            raise RuntimeError("no traced operation")
        out = {k: statistics.fmean(op[k] for op in self.ops) for k in PER_LAYER if k != "trace.overhead_s"}
        out["trace.overhead_s"] = overhead_s
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            "spans": [s.__dict__ for s in self.spans],
            "ops": self.ops,
            "commits": self.commits,
            "self_excess": self.self_excess,
        }, indent=1))
