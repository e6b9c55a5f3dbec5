"""Tracing for the benchmark's traced run.

Spans are recorded here, in the benchmark, around each call into a layer's
public function; the package itself is not instrumented. Each span sets
the Spark job group to its id, so Spark's event log (enabled for the traced
session and written to the benchmark's data directory) ties every job,
stage, task and SQL metric to the innermost span open when the job ran.
``EventLog`` reads that file back and sums what happened under a span.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

import pdf_parser_benchmark_spark.plans.pipeline as pipeline_mod
import pdf_parser_benchmark_spark.sources.checkpoint as ckpt_mod

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Spans in memory: id, name, parent, start, end (epoch seconds)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _open(self, name: str, lazy: bool) -> dict:
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "lazy": lazy,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        now = time.time()
        # a lazy span (a layer that returns an unevaluated plan) stays open
        # until its caller's span ends, since the caller forces the plan
        while self._stack and self._stack[-1] is not rec:
            self._stack.pop()["end"] = now
        self._stack.pop()
        rec["end"] = now
        self.sc.setLocalProperty(_GROUP, self._stack[-1]["id"] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        rec = self._open(name, lazy=False)
        try:
            yield rec
        finally:
            self._close(rec)

    def wrap(self, fn, name: str, lazy: bool = False):
        def traced(*args, **kwargs):
            if lazy:
                self._open(name, lazy=True)
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def under(self, name: str) -> set[str]:
        """Ids of the spans called ``name`` and of all spans inside them."""
        ids = {s["id"] for s in self.named(name)}
        for s in self.spans:  # spans are recorded parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def seconds(self, name: str, within: set[str] | None = None) -> float:
        """Summed duration of the spans called ``name`` (among ``within``)."""
        return sum(
            s["end"] - s["start"] for s in self.named(name)
            if within is None or s["id"] in within
        )


# (module, attribute, span name, lazy): the layer entry points run_pipeline
# calls. Patching the module attribute is what routes run_pipeline's calls
# through the tracer without editing the package.
LAYER_CALLS = (
    (pipeline_mod, "write_extracted", "sink.write_extracted", False),
    (ckpt_mod, "filter_resumable", "checkpoint.filter_resumable", False),
    (ckpt_mod, "mark_splits_complete", "checkpoint.mark_splits_complete", False),
    (pipeline_mod, "lineage_counters", "lineage.lineage_counters", True),
)


@contextmanager
def instrument(tracer: Tracer):
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _n, _l in LAYER_CALLS]
    try:
        for mod, attr, name, lazy in LAYER_CALLS:
            setattr(mod, attr, tracer.wrap(getattr(mod, attr), name, lazy))
        yield tracer
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class EventLog:
    """Jobs, stages, tasks and SQL metric updates of one Spark event log,
    indexed by job group (= span id)."""

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_time: dict[int, tuple[int, int]] = {}
        self.tasks: list[dict] = []
        self.metric_of: dict[int, tuple[str, str]] = {}  # acc id → (node, metric)
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.job_group[e["Job ID"]] = (e.get("Properties") or {}).get(_GROUP)
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_time[info["Stage ID"]] = (
                    info["Submission Time"], info["Completion Time"],
                )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "acc": {
                    a["ID"]: int(a["Update"])
                    for a in e["Task Info"].get("Accumulables", [])
                    if a.get("Metadata") == "sql" and "Update" in a
                },
            })
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._add_plan(e["sparkPlanInfo"])

    def _add_plan(self, node: dict) -> None:
        for m in node["metrics"]:
            self.metric_of[m["accumulatorId"]] = (node["simpleString"], m["name"])
        for child in node["children"]:
            self._add_plan(child)

    def _group_of_stage(self, stage: int) -> str | None:
        return self.job_group.get(self.stage_job.get(stage))

    def jobs(self, groups: set[str]) -> int:
        return sum(1 for g in self.job_group.values() if g in groups)

    def tasks_in(self, groups: set[str]) -> list[dict]:
        return [t for t in self.tasks if self._group_of_stage(t["stage"]) in groups]

    def node_metric(self, groups: set[str], node_prefix: str, metric: str) -> int:
        """Sum of a SQL metric over tasks under ``groups``, for plan nodes
        whose description starts with ``node_prefix``."""
        total = 0
        for t in self.tasks_in(groups):
            for acc, upd in t["acc"].items():
                node, name = self.metric_of.get(acc, ("", ""))
                if name == metric and node.startswith(node_prefix):
                    total += upd
        return total

    def node_tasks(self, groups: set[str], node_prefix: str) -> list[dict]:
        """Tasks under ``groups`` that ran a plan node starting with
        ``node_prefix`` (they reported one of its metrics)."""
        return [
            t for t in self.tasks_in(groups)
            if any(self.metric_of.get(a, ("",))[0].startswith(node_prefix) for a in t["acc"])
        ]

    def stage_seconds(self, stages: set[int]) -> float:
        return sum(
            (self.stage_time[s][1] - self.stage_time[s][0]) / 1000
            for s in stages if s in self.stage_time
        )


EXTRACT_NODE = "MapInPandas _extract_batches("
DECODE_NODE = "MapInPandas split("  # read_warc_pages' record splitter


def pipeline_metrics(log: EventLog, groups: set[str], wall_s: float, slots: int, passes: int) -> dict:
    """plans.pipeline metrics under ``groups``, per pass."""
    tasks = log.tasks_in(groups)
    extract = log.node_tasks(groups, EXTRACT_NODE)
    task_s = [t["run_ms"] / 1000 for t in extract] or [0.0]
    run_s = sum(t["run_ms"] for t in tasks) / 1000
    return {
        "pipeline.jobs": log.jobs(groups) / passes,
        "pipeline.extract_tasks": len(extract) / passes,
        "pipeline.task_s.median": statistics.median(task_s),
        "pipeline.task_s.max": max(task_s),
        "pipeline.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / passes,
        "pipeline.gc_s": sum(t["gc_ms"] for t in tasks) / 1000 / passes,
        "pipeline.idle_core_s": (slots * wall_s - run_s) / passes,
        # SQL timing metrics of the extraction node, summed over its tasks (ms)
        "pipeline.python_run_s": log.node_metric(
            groups, EXTRACT_NODE, "time to run Python workers") / 1000 / passes,
        "pipeline.python_init_s": log.node_metric(
            groups, EXTRACT_NODE, "time to initialize Python workers") / 1000 / passes,
        "pipeline.python_bytes_sent": log.node_metric(
            groups, EXTRACT_NODE, "data sent to Python workers") / passes,
        "pipeline.python_bytes_received": log.node_metric(
            groups, EXTRACT_NODE, "data returned from Python workers") / passes,
    }
