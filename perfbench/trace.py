"""Span recorder: one span per call into a layer of ``pyspark_graph_spark``.

With tracing on, each span runs its Spark jobs under a job group of its own.
When the span ends the recorder drains the listener bus and sums Spark's
own per-stage accounting (``AppStatusStore.lastStageAttempt``) over the
stages of those jobs. The store keeps only the most recent ~1000 stages,
so metrics are read right after each span. Spans are kept in memory and
written out once at exit.

With tracing off a span only measures its wall time; no job group is set
and no Spark state is read.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# the layers the benchmark calls into, as named in the program's modules
LAYERS = (
    "session.get_spark",
    "graph.index",
    "graph.degrees",
    "operators.pagerank",
    "operators.connected_components",
    "operators.label_propagation",
    "operators.triangle_count",
    "operators.similarity",
)

# summed per span from the stage data
STAGE_FIELDS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "fetch_wait_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)

# per layer, as reported with --trace 1
LAYER_METRICS = {
    "calls": "count",
    "time_s": "s",
    "p50_ms": "ms",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "fetch_wait_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "busy_frac": "ratio",
}

_MB = 1024.0 * 1024.0


class SpanRecorder:
    def __init__(self, enabled: bool, cores: int) -> None:
        self.enabled = enabled
        self.cores = cores
        self.spans: list[dict] = []
        self.sc = None  # the SparkContext, once a session exists

    @contextmanager
    def span(self, layer: str, **attrs):
        """Time the body as one call into ``layer``; yields the span dict."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {"layer": layer, "index": len(self.spans), **attrs}
        group = f"perfbench-{rec['index']}"
        traced = self.enabled and self.sc is not None
        if traced:
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["time_s"] = time.perf_counter() - t0
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._stage_totals(group))
            self.spans.append(rec)

    def _stage_totals(self, group: str) -> dict:
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    d = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — evicted from the store
                    out["missing_stages"] = out.get("missing_stages", 0) + 1
                    continue
                if d.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["failed_tasks"] += d.numFailedTasks()
                out["executor_run_s"] += d.executorRunTime() / 1000.0
                out["fetch_wait_s"] += d.shuffleFetchWaitTime() / 1000.0
                out["shuffle_read_mb"] += d.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += d.shuffleWriteBytes() / _MB
                out["spill_mb"] += d.diskBytesSpilled() / _MB
        return out

    def layer_metrics(self) -> dict:
        """``<layer>.<metric>`` for every layer; zeros where a layer never ran.

        Warm-up spans are left out. ``time_s`` is the total over calls,
        ``busy_frac`` is executor time over (``time_s`` x cores), every
        other counter is the per-call median.
        """
        out = {}
        for layer in LAYERS:
            spans = [
                s
                for s in self.spans
                if s["layer"] == layer and not s.get("warm_up")
            ]
            vals = dict.fromkeys(LAYER_METRICS, 0.0)
            vals["calls"] = len(spans)
            if spans:
                total = sum(s["time_s"] for s in spans)
                vals["time_s"] = total
                vals["p50_ms"] = 1000.0 * statistics.median(
                    s["time_s"] for s in spans
                )
                for f in STAGE_FIELDS:
                    vals[f] = statistics.median(s.get(f, 0.0) for s in spans)
                run_s = sum(s.get("executor_run_s", 0.0) for s in spans)
                vals["busy_frac"] = run_s / (total * self.cores) if total else 0.0
            for name, unit in LAYER_METRICS.items():
                out[f"{layer}.{name}"] = {"value": vals[name], "unit": unit}
        return out

    def write(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            json.dump({"context": context, "spans": self.spans}, f, indent=1)
