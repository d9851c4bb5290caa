"""Spans recorded around calls into the engine's layers, and the Spark
event-log reader that attaches jobs, stages and task metrics to them.

Spans live in memory for the whole run and are written out once at the
end. Every op is a root span; its children are the layer calls the
benchmark made (``queries.build``, ``catalyst.plan``, ``exec.collect``,
``io.write`` ...). Spark jobs found in the event log become children of
the layer span whose interval holds their submission time.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    children: list[Span] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "duration_s": self.duration,
            "self_s": self_time(self),
            **({"attrs": self.attrs} if self.attrs else {}),
            **({"children": [c.to_json() for c in self.children]} if self.children else {}),
        }


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span) -> float:
    """The span's duration minus the part of its interval that its
    children cover (children may overlap each other or spill past it)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in span.children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - covered(clipped)


class Tracer:
    """Records nested spans; disabled, it records nothing and costs one
    branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), attrs=attrs)
        (self._stack[-1].children if self._stack else self.roots).append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


# -- Spark event log ---------------------------------------------------------

#: SQL-metric display names of Python plan nodes (ArrowAggregatePython,
#: MapInPandas, ...) -> per-layer metric suffix
PYTHON_METRICS = {
    "time to run Python workers": "py_time_ms",
    "data sent to Python workers": "py_sent_bytes",
    "number of output rows": "py_rows_out",
    "time to initialize Python workers": "py_init_ms",
}
_PYTHON_NODE_MARK = "time to run Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stages: set = field(default_factory=set)
    metrics: dict = field(default_factory=lambda: defaultdict(float))


def load_event_log(path: str) -> list[dict]:
    """Events of an uncompressed, non-rolling Spark event log file."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _python_accumulators(events: list[dict]) -> dict[int, tuple[str, str]]:
    """accumulator id -> (per-layer suffix, metric type) for every SQL
    metric of a Python plan node in any (initial or adaptive) plan."""
    found: dict[int, tuple[str, str]] = {}

    def walk(node: dict) -> None:
        names = {m["name"] for m in node.get("metrics", ())}
        if _PYTHON_NODE_MARK in names:
            for m in node["metrics"]:
                if m["name"] in PYTHON_METRICS:
                    found[m["accumulatorId"]] = (PYTHON_METRICS[m["name"]], m["metricType"])
        for child in node.get("children", ()):
            walk(child)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return found


def summarize_jobs(events: list[dict]) -> dict[int, Job]:
    """Per job: group, submit/end time, stages run, and task metrics summed
    over its tasks (times in ms, sizes in bytes), Python-node SQL metrics
    included."""
    py_acc = _python_accumulators(events)
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = Job(
                e["Job ID"],
                e.get("Properties", {}).get("spark.jobGroup.id"),
                e["Submission Time"] / 1000.0,
            )
            jobs[job.job_id] = job
            for sid in e["Stage IDs"]:
                # a stage reused by a later job is skipped there: its
                # tasks ran under the first job that listed it
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs[stage_job[e["Stage ID"]]]
            job.stages.add(e["Stage ID"])
            m = job.metrics
            m["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            m["task_run_ms"] += tm.get("Executor Run Time", 0)
            m["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["task_gc_ms"] += tm.get("JVM GC Time", 0)
            read = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_bytes"] += read.get("Local Bytes Read", 0) + read.get(
                "Remote Bytes Read", 0
            )
            m["fetch_wait_ms"] += read.get("Fetch Wait Time", 0)
            m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            for acc in e["Task Info"].get("Accumulables", ()):
                hit = py_acc.get(acc["ID"])
                if hit is not None and "Update" in acc:
                    suffix, mtype = hit
                    value = float(acc["Update"])
                    m[suffix] += value / 1e6 if mtype == "nsTiming" else value
    for job in jobs.values():
        job.metrics["stages"] = len(job.stages)
    return jobs


# -- the per-op record ------------------------------------------------------

#: Per-layer metrics printed by a traced run: per-pass totals (one run of
#: every op), averaged over the timed passes, plus run-level readings.
PER_PASS = (
    "queries.build_s", "queries.build_jobs",
    "catalyst.parsing_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.plan_s",
    "exec.collect_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.fetch_wait_ms", "exec.result_rows", "exec.result_tail_ms",
    *(
        f"{layer}.{suffix}"
        for layer in ("aggregates", "operators", "io")
        for suffix in PYTHON_METRICS.values()
    ),
    "io.write_s", "io.read_s", "io.bytes_written",
    "dialect.rewrite_ms", "repl.run_sql_s",
    "jvm.gc_ms", "jvm.gc_count",
)


def unit_of(metric: str) -> str:
    for suffix, unit in (
        ("ops_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "B"),
        ("bytes_written", "B"), ("_mb", "MB"), ("_ratio", "ratio"),
    ):
        if metric.endswith(suffix):
            return unit
    return "count"


def _attach_jobs(root: Span, jobs: list[Job]) -> None:
    """Each job becomes a child of the layer span whose interval holds its
    submission, or of the op itself when none does."""
    layers = [c for c in root.children if c.name != "spark.job"]
    for job in jobs:
        target = next((c for c in layers if c.start <= job.submit <= c.end), root)
        target.children.append(
            Span("spark.job", job.submit, job.end, attrs={
                "job_id": job.job_id, **{k: v for k, v in job.metrics.items()},
            })
        )


def _largest_gap(root: Span) -> tuple[float, str]:
    """Longest stretch of the op not covered by a layer span, named by the
    spans around it."""
    best = (0.0, "")
    covered_to, after = root.start, "op start"
    for c in sorted(root.children, key=lambda c: c.start):
        if c.start - covered_to > best[0]:
            best = (c.start - covered_to, f"between {after} and {c.name}")
        if c.end > covered_to:
            covered_to, after = c.end, c.name
    if root.end - covered_to > best[0]:
        best = (root.end - covered_to, f"after {after}")
    return best


def op_layers(root: Span, gc: dict) -> dict[str, float]:
    """Per-layer metrics of one op from its spans and attached jobs."""
    out: dict[str, float] = defaultdict(float)
    py_layer = root.attrs.get("py_layer", "operators")
    for child in root.children:
        if child.name == "spark.job":
            continue
        out[f"{child.name}_s"] += child.duration
        for key, value in child.attrs.items():
            if key.endswith("_ms"):
                out[f"catalyst.{key}"] += value
        if child.name == "exec.collect":
            out["exec.result_rows"] += child.attrs.get("rows", 0)
            ends = [j.end for j in child.children if j.name == "spark.job"]
            if ends:
                out["exec.result_tail_ms"] += (child.end - max(ends)) * 1000
        if child.name == "io.write":
            out["io.bytes_written"] += child.attrs.get("bytes", 0)
        if child.name == "queries.build":
            out["queries.build_jobs"] += len(child.children)
    jobs = [j for c in [root, *root.children] for j in c.children if j.name == "spark.job"]
    for job in jobs:
        out["exec.jobs"] += 1
        for key, value in job.attrs.items():
            if key == "job_id":
                continue
            layer = py_layer if key.startswith("py_") else "exec"
            out[f"{layer}.{key}"] += value
    out["dialect.rewrite_ms"] = out.pop("dialect.rewrite_s", 0.0) * 1000
    out["jvm.gc_ms"] = gc.get("gc_ms", 0)
    out["jvm.gc_count"] = gc.get("gc_count", 0)
    return dict(out)


def build_record(
    workload: str, roots: list[Span], per_op: list[dict], events: list[dict], n_pass: int
) -> dict:
    """The traced run's record: every op's spans (jobs attached), its
    per-layer metrics, whether the layer spans account for its wall time
    within 15%, and per-pass totals of PER_PASS."""
    by_group: dict[str, list[Job]] = defaultdict(list)
    for job in summarize_jobs(events).values():
        by_group[job.group].append(job)
    gc_by_id = {e["id"]: e for e in per_op}
    records = []
    totals: dict[str, float] = defaultdict(float)
    for root in roots:
        op_id = root.attrs["id"]
        _attach_jobs(root, by_group.get(op_id, []))
        layers = op_layers(root, gc_by_id.get(op_id, {}))
        spans = [c for c in root.children if c.name != "spark.job"]
        share = covered([(c.start, c.end) for c in spans]) / root.duration
        gap_s, gap_where = _largest_gap(
            Span(root.name, root.start, root.end, children=spans)
        )
        records.append({
            "id": op_id,
            "op": root.attrs["op"],
            "wall_s": root.duration,
            "accounted_share": share,
            "within_15pct": share >= 0.85,
            "largest_gap": {"s": gap_s, "where": gap_where},
            "layers": layers,
            "spans": root.to_json(),
        })
        for name in PER_PASS:
            totals[name] += layers.get(name, 0.0)
    return {
        "workload": workload,
        "passes": n_pass,
        "ops": records,
        "per_pass": {name: totals[name] / n_pass for name in PER_PASS},
    }
