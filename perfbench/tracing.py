"""Tracing for the benchmark's traced run (`--trace 1`).

Spans are recorded from the benchmark's own files: the engine's code is
not edited.  `install_wrappers` replaces each traced engine function with
a wrapper that opens a span around the call, in EVERY module namespace
that holds the function (api.py and scoring.py import their helpers by
name, so patching only the defining module would miss those calls).
`greedy_select` looks the `iv_*` functions up in module globals when it
runs, so the rebound names cover it too.

Each span sets a Spark job group while it is open (and restores the
parent's group when it ends), so the event log attributes every job,
stage and task to the innermost span that launched it.  Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (module, function, span name): the calls into each layer
TRACED_CALLS = [
    ("inferdb_spark.session", "get_spark", "session.get_spark"),
    ("inferdb_spark.catalog", "load_table", "catalog.load_table"),
    ("inferdb_spark.api", "fit_index_pipeline", "api.fit_index_pipeline"),
    ("inferdb_spark.operators.binning", "fit_supervised_bins", "binning.fit_supervised_bins"),
    ("inferdb_spark.operators.binning", "apply_bins", "binning.apply_bins"),
    ("inferdb_spark.operators.binning", "key_expr", "binning.key_expr"),
    ("inferdb_spark.operators.iv", "greedy_select", "iv.greedy_select"),
    ("inferdb_spark.operators.iv", "iv_classification", "iv.evaluate"),
    ("inferdb_spark.operators.iv", "iv_multiclass", "iv.evaluate"),
    ("inferdb_spark.operators.iv", "iv_regression", "iv.evaluate"),
    ("inferdb_spark.operators.index", "build_index", "index.build_index"),
    ("inferdb_spark.operators.index", "save_index", "index.save_index"),
    ("inferdb_spark.operators.scoring", "index_score", "scoring.index_score"),
    ("inferdb_spark.operators.metrics", "binary_classification_report", "metrics.report"),
    ("inferdb_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("inferdb_spark.operators.dedup", "simhash_sql", "dedup.simhash_sql"),
    ("inferdb_spark.operators.similarity", "cosine_topk", "similarity.cosine_topk"),
]

IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Span recorder.  Disabled, `span` costs one attribute test."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    notes: dict[str, float] = field(default_factory=dict)
    op: str = "setup"
    _stack: list[int] = field(default_factory=list)
    _sc: object = None

    def attach(self, spark_context) -> None:
        if self.enabled:
            self._sc = spark_context
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is not None:
            group = IDLE_GROUP if span_id is None else f"span-{span_id}"
            self._sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = Span(sid, name, self._stack[-1] if self._stack else None, self.op, time.perf_counter())
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def note(self, name: str, value: float) -> None:
        """A per-run value measured by the workload (counts, shares)."""
        if self.enabled:
            self.notes[name] = float(value)


def _wrap(tracer: Tracer, fn, span_name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return traced


def install_wrappers(tracer: Tracer) -> None:
    """Rebind every TRACED_CALLS function, for the rest of the process, in
    every loaded engine module that holds it (the benchmark's own code
    calls them through their modules)."""
    for module_name, attr, span_name in TRACED_CALLS:
        original = getattr(importlib.import_module(module_name), attr)
        wrapped = _wrap(tracer, original, span_name)
        for name, module in list(sys.modules.items()):
            if module is None or not name.startswith("inferdb_spark"):
                continue
            for key, value in list(vars(module).items()):
                if value is original:
                    setattr(module, key, wrapped)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class EventLog:
    job_group: dict[int, str] = field(default_factory=dict)
    job_execution: dict[int, int] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stages_run: set[int] = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)  # per task: stage, run, gc, delay, shuffle, failed
    plans: dict[int, dict] = field(default_factory=dict)  # execution id -> final plan tree
    driver_accums: dict[int, dict[int, float]] = field(default_factory=dict)

    @classmethod
    def read(cls, directory: str) -> "EventLog":
        """Parse every event file under `directory` (Spark 4 writes a
        rolling `eventlog_v2_<app>/events_<n>_<app>` layout)."""
        files = []
        for parent, _, names in os.walk(directory):
            for fn in names:
                if fn.startswith("events_"):
                    files.append((int(fn.split("_")[1]), os.path.join(parent, fn)))
        log = cls()
        for _, path in sorted(files):
            with open(path) as f:
                for line in f:
                    log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = e["Job ID"]
            props = e.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id", "")
            if props.get("spark.sql.execution.id") is not None:
                self.job_execution[job] = int(props["spark.sql.execution.id"])
            for sid in e.get("Stage IDs", []):
                self.stage_job.setdefault(sid, job)
        elif kind == "SparkListenerStageCompleted":
            self.stages_run.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            duration = info["Finish Time"] - info["Launch Time"]
            getting = info["Finish Time"] - info["Getting Result Time"] if info.get("Getting Result Time") else 0
            run = m.get("Executor Run Time", 0)
            delay = duration - run - m.get("Executor Deserialize Time", 0) - m.get("Result Serialization Time", 0) - getting
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "run_ms": run,
                    "gc_ms": m.get("JVM GC Time", 0),
                    "delay_ms": max(0, delay),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "failed": bool(info.get("Failed")) or (e.get("Task End Reason") or {}).get("Reason") != "Success",
                }
            )
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            acc = self.driver_accums.setdefault(e["executionId"], {})
            for aid, value in e["accumUpdates"]:
                acc[aid] = acc.get(aid, 0) + value


def _plan_nodes(plan: dict):
    """The nodes one execution runs: a cached relation's own build plan,
    shown under its InMemoryTableScan, is not re-run and is skipped."""
    yield plan
    if plan.get("nodeName") != "InMemoryTableScan":
        for child in plan.get("children", []):
            yield from _plan_nodes(child)


def plan_counts(log: EventLog, execution: int) -> dict[str, float]:
    """Broadcast joins, exchanges and rows broadcast in one SQL execution's
    final plan."""
    counts = {"broadcast_joins": 0.0, "exchanges": 0.0, "broadcast_build_rows": 0.0}
    accums = log.driver_accums.get(execution, {})
    for node in _plan_nodes(log.plans.get(execution, {})):
        name = node.get("nodeName", "")
        if name in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
            counts["broadcast_joins"] += 1
        if name in ("Exchange", "BroadcastExchange"):
            counts["exchanges"] += 1
        if name == "BroadcastExchange":
            for metric in node.get("metrics", []):
                if metric["name"] == "number of output rows":
                    counts["broadcast_build_rows"] += accums.get(metric["accumulatorId"], 0)
    return counts


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

# metric -> (span names, how, factor, unit), per operation: "total" sums
# the spans' durations, "self" their self time, "count" counts them
SPAN_METRICS = {
    "session.start_s": (("session.get_spark",), "total", 1.0, "s"),
    "catalog.load_s": (("catalog.load",), "total", 1.0, "s"),
    "binning.fit_s": (("binning.fit_supervised_bins",), "total", 1.0, "s"),
    "iv.select_s": (("iv.greedy_select",), "total", 1.0, "s"),
    "iv.evaluations": (("iv.evaluate",), "count", 1.0, "count"),
    "index.build_s": (("index.build_index", "index.cache"), "total", 1.0, "s"),
    "binning.apply_ms": (("binning.apply_bins",), "total", 1e3, "ms"),
    "scoring.plan_ms": (("scoring.index_score",), "self", 1e3, "ms"),
    "ingest.create_ms": (("ingest.create",), "total", 1e3, "ms"),
    "scoring.exec_ms": (("scoring.exec",), "total", 1e3, "ms"),
    "dedup.minhash_s": (("dedup.minhash",), "total", 1.0, "s"),
    "dedup.simhash_s": (("dedup.simhash",), "total", 1.0, "s"),
    "similarity.topk_s": (("similarity.topk",), "total", 1.0, "s"),
}
# metric -> (span names whose subtree's jobs count, what, unit)
JOB_COUNTS = {
    "binning.fit_jobs": (("binning.fit_supervised_bins",), "jobs", "count"),
    "iv.jobs": (("iv.greedy_select",), "jobs", "count"),
    "index.build_jobs": (("index.build_index", "index.cache"), "jobs", "count"),
    "dedup.minhash_jobs": (("dedup.minhash",), "jobs", "count"),
    "scoring.jobs_per_call": (("scoring.exec",), "jobs", "count"),
    "scoring.stages_per_call": (("scoring.exec",), "stages", "count"),
    "scoring.tasks_per_call": (("scoring.exec",), "tasks", "count"),
    "scoring.executor_run_ms": (("scoring.exec",), "run_ms", "ms"),
    "scoring.gc_ms": (("scoring.exec",), "gc_ms", "ms"),
    "scoring.broadcast_joins": (("scoring.exec",), "broadcast_joins", "count"),
    "scoring.exchanges": (("scoring.exec",), "exchanges", "count"),
    "scoring.broadcast_build_rows": (("scoring.exec",), "broadcast_build_rows", "count"),
    "spark.executor_run_ms": (None, "run_ms", "ms"),
    "spark.gc_ms": (None, "gc_ms", "ms"),
    "spark.shuffle_write_bytes": (None, "shuffle_bytes", "bytes"),
    "spark.tasks": (None, "tasks", "count"),
    "spark.task_failures": (None, "failures", "count"),
    "spark.scheduler_delay_ms": (None, "delay_ms", "ms"),
}
# metric -> unit: values the workload notes itself
NOTED = {
    "iv.kept_share": "share",
    "index.kv_rows": "count",
    "index.prefix_rows": "count",
    "index.saved_bytes": "bytes",
    "scoring.exact_hit_share": "share",
    "dedup.minhash_pairs": "count",
    "metrics.fit_f1": "share",
}


def _work(log: EventLog, jobs: set[int]) -> dict[str, float]:
    stages = {s for s, j in log.stage_job.items() if j in jobs and s in log.stages_run}
    tasks = [t for t in log.tasks if log.stage_job.get(t["stage"]) in jobs]
    work = {
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "tasks": float(len(tasks)),
        "failures": float(sum(t["failed"] for t in tasks)),
    }
    for k in ("run_ms", "gc_ms", "delay_ms", "shuffle_bytes"):
        work[k] = float(sum(t[k] for t in tasks))
    for execution in sorted({log.job_execution[j] for j in jobs if j in log.job_execution}):
        for k, v in plan_counts(log, execution).items():
            work[k] = work.get(k, 0.0) + v
    return work


def _per_op(values: dict[str, float], timed_ops: list[str]) -> float:
    """Median over timed operations when the layer works inside them;
    otherwise the layer's set-up total (e.g. the pinned index build)."""
    if any(op in values for op in timed_ops):
        return statistics.median(values.get(op, 0.0) for op in timed_ops)
    return values.get("setup", 0.0)


def _child_time(spans: list[Span]) -> dict[int, float]:
    """Span id -> summed duration of its direct children."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.duration
    return child_time


def layer_metrics(tracer: Tracer, log: EventLog, timed_ops: list[str]) -> dict[str, dict]:
    spans = tracer.spans
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.id)

    def subtree(sid: int):
        yield sid
        for c in children[sid]:
            yield from subtree(c)

    group_span = {f"span-{s.id}": s.id for s in spans}
    span_jobs: dict[int, set[int]] = defaultdict(set)
    for job, group in log.job_group.items():
        if group in group_span:
            span_jobs[group_span[group]].add(job)

    work_cache: dict[frozenset, dict[str, float]] = {}

    def work(jobs: set[int]) -> dict[str, float]:
        key = frozenset(jobs)
        if key not in work_cache:
            work_cache[key] = _work(log, jobs)
        return work_cache[key]

    child_time = _child_time(spans)
    out: dict[str, dict] = {}
    for metric, (names, how, factor, unit) in SPAN_METRICS.items():
        per_op: dict[str, float] = defaultdict(float)
        for s in spans:
            if s.name in names:
                amount = {"total": s.duration, "self": s.duration - child_time[s.id], "count": 1.0}[how]
                per_op[s.op] += amount * factor
        out[metric] = {"value": _per_op(per_op, timed_ops), "unit": unit}

    for metric, (names, what, unit) in JOB_COUNTS.items():
        # names None: every job of the operation (its root spans' subtrees)
        roots = [s for s in spans if (s.parent is None if names is None else s.name in names)]
        per_op_jobs: dict[str, set[int]] = defaultdict(set)
        for s in roots:
            for sid in subtree(s.id):
                per_op_jobs[s.op] |= span_jobs[sid]
        per_op = {op: work(jobs)[what] for op, jobs in per_op_jobs.items()}
        out[metric] = {"value": _per_op(per_op, timed_ops), "unit": unit}

    for metric, unit in NOTED.items():
        out[metric] = {"value": tracer.notes.get(metric, 0.0), "unit": unit}
    return out


def self_times(tracer: Tracer, timed_ops: list[str]) -> dict[str, float]:
    """Each layer's self time in seconds: span durations minus the part of
    each interval its child spans cover, median over timed operations."""
    child_time = _child_time(tracer.spans)
    per_layer: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        per_layer[s.layer][s.op] += s.duration - child_time[s.id]
    return {layer: _per_op(by_op, timed_ops) for layer, by_op in sorted(per_layer.items())}
