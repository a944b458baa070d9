"""Spans around the benchmark's calls into each layer, and Spark's own
job, stage and task metrics attributed to them.

A span records its name, start, end, parent and the id of the op
execution it belongs to, plus the Spark job ids that started inside its
window: each span runs under a job group of its own, and on exit
``sparkContext.statusTracker()`` lists the group's jobs.
Spans stay in memory; ``write_record`` stores them once, at exit. Task
metrics come from the Spark event log, which the traced run turns on
through the benchmark's own Spark conf directory.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: spans at the layer boundary, named after the package's modules
LAYER_SPANS = (
    "plans.build",
    "ml.split",
    "ml.fit",
    "ml.transform",
    "ml.evaluate",
    "plans.plan",
    "operators.execute",
    "sources.write",
)
#: the layer spans that make up the build layer (``Query.fn`` and ml.*)
BUILD_SPANS = ("plans.build", "ml.split", "ml.fit", "ml.transform", "ml.evaluate")
#: the local property ``statusTracker().getJobIdsForGroup`` selects on
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op_exec: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans. With a SparkContext, each span runs its Spark jobs
    under a job group of its own and records their ids on exit."""

    def __init__(self, spark_context=None):
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op_exec = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        op_exec = parent.op_exec if parent else None
        if name == "op":
            op_exec = self._next_op_exec
            self._next_op_exec += 1
        s = Span(len(self.spans), name, parent.sid if parent else None, op_exec,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, _group(s))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                s.jobs = sorted(self._sc.statusTracker().getJobIdsForGroup(_group(s)))
                self._sc.setLocalProperty(JOB_GROUP, _group(parent) if parent else None)


def _group(s: Span) -> str:
    return f"perfbench-span-{s.sid}"


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: records nothing."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.end - s.start
    return {s.sid: (s.end - s.start) - child_time[s.sid] for s in spans}


def subtree(spans: list[Span], root: int) -> list[Span]:
    """The span ``root`` and all its descendants."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out, todo = [], [s for s in spans if s.sid == root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s.sid])
    return out


# --------------------------------------------------------------- event log


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_b: float = 0.0
    spill_b: float = 0.0
    scan_rows: float = 0.0
    scan_b: float = 0.0
    scan_tasks: int = 0
    output_b: float = 0.0


@dataclass
class EventLog:
    """What the benchmark reads from one Spark event log."""

    #: job id → its stage ids
    job_stages: dict[int, list[int]]
    #: stage id → task metric totals
    stages: dict[int, StageTotals]


#: the file scan node's SQL metrics that count and size its scans. The
#: tasks' input metrics are not used: "Bytes Read" counts only reads
#: through Hadoop's per-thread FileSystem statistics, which miss the
#: parquet reader's column-chunk reads (9,502 bytes for a 300,000-row
#: task), and "Records Read" also counts reads of cached blocks
FILES_READ = "size of files read"
ROWS_OUT = "number of output rows"


def read_event_log(path: str) -> EventLog:
    """Job, stage, task and file-scan metrics from one event log.

    File scans are read from the scan node's SQL metrics. The node posts
    the size of the files it selects once, from the driver, when its plan
    first executes inside an SQL execution; its tasks add to its
    output-row count every time the plan executes, in an SQL execution or
    an RDD job. A stage's scan bytes are that size times the rows the
    node produced in the stage ÷ the rows of its first stage, so a
    repeated scan of one plan counts each time. Reads of cached or
    checkpointed blocks are not file scans and count in neither."""
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    job_stages: dict[int, list[int]] = {}
    scan_nodes: dict[int, int] = {}  # output-rows accumulator → files-size accumulator
    posted: dict[int, float] = {}  # accumulator → value posted from the driver
    task_rows: list[tuple[int, dict[int, float]]] = []  # (stage, output-rows acc → rows)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                job_stages[ev["Job ID"]] = list(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages[ev["Stage ID"]], ev)
                accs = (ev.get("Task Info") or {}).get("Accumulables", ())
                task_rows.append((ev["Stage ID"], {
                    a["ID"]: float(a["Update"]) for a in accs if a.get("Name") == ROWS_OUT
                }))
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _find_scans(ev["sparkPlanInfo"], scan_nodes)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                posted.update(ev["accumUpdates"])  # each value is the total so far
    stage_rows: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for sid, rows in task_rows:
        for acc, n in rows.items():
            if acc in scan_nodes:
                stage_rows[sid][acc] += n
    first_rows: dict[int, float] = {}  # acc → rows of the first stage that ran the node
    for sid in sorted(stage_rows):
        for acc, n in stage_rows[sid].items():
            first_rows.setdefault(acc, n)
    for sid, rows in task_rows:
        st = stages[sid]
        for acc, n in rows.items():
            if acc not in scan_nodes or not n:
                continue
            st.scan_rows += n
            size = posted.get(scan_nodes[acc], 0.0)
            st.scan_b += n * size / first_rows[acc]
        if any(rows.get(acc) for acc in scan_nodes):
            st.scan_tasks += 1
    return EventLog(job_stages, dict(stages))


def _find_scans(plan: dict, scan_nodes: dict[int, int]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", ())}
    if FILES_READ in metrics and ROWS_OUT in metrics:
        scan_nodes[metrics[ROWS_OUT]] = metrics[FILES_READ]
    for child in plan.get("children", ()):
        _find_scans(child, scan_nodes)


def _add_task(st: StageTotals, ev: dict) -> None:
    st.stages = 1
    st.tasks += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        st.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    st.spill_b += m.get("Disk Bytes Spilled", 0)
    st.output_b += m.get("Output Metrics", {}).get("Bytes Written", 0)


def stage_totals(jobs, log: EventLog) -> StageTotals:
    """Sum the stages of ``jobs``, each stage once."""
    tot = StageTotals()
    counted: set[int] = set()
    for j in jobs:
        for sid in log.job_stages.get(j, ()):
            if sid in counted or sid not in log.stages:
                continue
            counted.add(sid)
            st = log.stages[sid]
            for k in vars(tot):
                setattr(tot, k, getattr(tot, k) + getattr(st, k))
    return tot


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


def write_record(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=vars)
        fh.write("\n")
