"""Layer tracing for the traced benchmark run.

Every call the benchmark makes into a layer of ``networkx_graph_spark`` runs
inside a Spark job group named ``<layer>:<workload>:<op>`` and is recorded
as a span (start, end, parent span, phase). Two program entry points that
the benchmark cannot call directly are wrapped for the length of the traced
run: ``SuperstepRunner.run`` (the ``plans.supersteps`` layer, reached from
inside every iterative kernel and the SSSP operator) and
``SparkDiGraph.node_id`` (the ``graph`` layer, reached from inside the SSSP
operator). The wrappers only set the job group; arguments and results pass
through unchanged.

After the measured passes the driver's status store is read once: every
job carries its group, submission and completion time and stage ids, and
every stage its executor and shuffle metrics. Jobs are joined to spans by
group and time; a span's numbers cover its own jobs and those of the spans
nested inside it (inclusive, like its wall time).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

# Layers whose calls run Spark jobs, and the per-call numbers each reports.
JOB_LAYERS = (
    "sources",
    "graph",
    "kernels.pagerank",
    "kernels.components",
    "kernels.lpa",
    "kernels.triangles",
    "operators.sssp",
    "plans.supersteps",
)
JOB_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "driver_gap_s": "s",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "shuffle_read_records": "count",
    "spill_bytes": "B",
    "output_bytes": "B",
    "gc_s": "s",
}
# Numbers that are not sums over a layer's jobs; the workloads and the
# runner fill them in.
EXTRA_METRICS = {
    "session.wall_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "plans.supersteps.supersteps": "count",
    "plans.supersteps.superstep_s_p50": "s",
    "plans.supersteps.superstep_s_p90": "s",
    "plans.supersteps.checkpoint_bytes": "B",
    "plans.supersteps.resume_overhead_s": "s",
    "operators.sssp.jobs_per_query": "count",
    "operators.sssp.shuffle_records_per_reached": "records/vertex",
    "kernels.pagerank.shuffle_bytes_per_edge_iter": "B/edge-iter",
    "host.steal_pct": "%",
    "host.loadavg_1m": "load",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    out = {
        f"{layer}.{m}": unit for layer in JOB_LAYERS for m, unit in JOB_METRICS.items()
    }
    out.update(EXTRA_METRICS)
    return out


@dataclass
class Span:
    layer: str
    op: str
    group: str
    phase: str
    parent: Optional[int]
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)


class NullTracer:
    """Untraced runs: calls go straight through."""

    phase = ""

    def call(self, layer: str, op: str, fn: Callable, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextmanager
    def patched(self):
        yield


class Tracer:
    """Records spans around layer calls and joins them to Spark jobs."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.phase = ""
        # SuperstepResult.metrics of every runner loop, by phase
        self.superstep_walls: dict[str, list[float]] = {}

    # ------------------------------------------------------------- recording
    def call(self, layer: str, op: str, fn: Callable, *args, **kwargs):
        group = f"{layer}:{self.workload}:{op}"
        sc = self.sc
        prev = (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
        )
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        span = Span(layer, op, group, self.phase, parent, time.time())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", group)
        try:
            return fn(*args, **kwargs)
        finally:
            span.t1 = time.time()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])

    @contextmanager
    def patched(self):
        """Route the two nested program entry points through ``call``."""
        from networkx_graph_spark.graph import SparkDiGraph
        from networkx_graph_spark.plans.supersteps import SuperstepRunner

        tracer = self
        run, node_id = SuperstepRunner.run, SparkDiGraph.node_id

        def traced_run(runner, name, *args, **kwargs):
            res = tracer.call("plans.supersteps", name, run, runner, name, *args, **kwargs)
            tracer.superstep_walls.setdefault(tracer.phase, []).extend(
                m["wall_sec"] for m in res.metrics
            )
            return res

        def traced_node_id(graph, name):
            return tracer.call("graph", "node_id", node_id, graph, name)

        SuperstepRunner.run = traced_run
        SparkDiGraph.node_id = traced_node_id
        try:
            yield
        finally:
            SuperstepRunner.run = run
            SparkDiGraph.node_id = node_id

    # ------------------------------------------------------------ collection
    def collect(self) -> None:
        """Read every job and stage from the status store and attach each
        job, with its summed stage metrics, to the span that submitted it."""
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__(
                "MODULE$"
            )
        )
        store = jsc.statusStore()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stage_sum: dict[int, dict] = {}
        for s in stages:
            if s["status"] == "SKIPPED":
                continue
            acc = stage_sum.setdefault(s["stageId"], dict.fromkeys(_STAGE_FIELDS, 0))
            for k in _STAGE_FIELDS:
                acc[k] += s[k] or 0
        by_group: dict[str, list[Span]] = {}
        for sp in self.spans:
            by_group.setdefault(sp.group, []).append(sp)
        counted: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sub = (j.get("submissionTime") or 0) / 1000.0
            end = (j.get("completionTime") or 0) / 1000.0 or sub
            owner = None
            for sp in by_group.get(j.get("jobGroup") or "", ()):
                # status-store times have millisecond resolution
                if sp.t0 - 0.002 <= sub <= sp.t1 + 0.002:
                    owner = sp
            if owner is None:
                continue
            rec = {"start": sub, "end": end, **dict.fromkeys(_STAGE_FIELDS, 0)}
            for sid in j["stageIds"]:
                if sid in counted or sid not in stage_sum:
                    continue
                counted.add(sid)
                for k, v in stage_sum[sid].items():
                    rec[k] += v
            owner.jobs.append(rec)

    def _inclusive_jobs(self, idx: int) -> list[dict]:
        sp = self.spans[idx]
        out = list(sp.jobs)
        for c in sp.children:
            out.extend(self._inclusive_jobs(c))
        return out

    def span_numbers(self, idx: int) -> dict[str, float]:
        """The JOB_METRICS of one span, inclusive of its nested spans."""
        sp = self.spans[idx]
        jobs = self._inclusive_jobs(idx)
        wall = sp.t1 - sp.t0
        busy = _union_length([(j["start"], j["end"]) for j in jobs], sp.t0, sp.t1)
        tot = {k: sum(j[k] for j in jobs) for k in _STAGE_FIELDS}
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "tasks": tot["numCompleteTasks"],
            "executor_run_s": tot["executorRunTime"] / 1e3,
            "executor_cpu_s": tot["executorCpuTime"] / 1e9,
            "driver_gap_s": max(0.0, wall - busy),
            "shuffle_read_bytes": tot["shuffleReadBytes"],
            "shuffle_write_bytes": tot["shuffleWriteBytes"],
            "shuffle_read_records": tot["shuffleReadRecords"],
            "spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
            "output_bytes": tot["outputBytes"],
            "gc_s": tot["jvmGcTime"] / 1e3,
        }

    def layer_table(self, setup_phases: list[str], pass_phases: list[str]) -> dict[str, float]:
        """Per-layer numbers for one set-up plus one measured pass: each
        phase's spans are summed per layer, then the median is taken over
        the set-up phases and over the pass phases, and the two added."""

        def per_phase(phase: str) -> dict[str, dict[str, float]]:
            acc: dict[str, dict[str, float]] = {}
            for i, sp in enumerate(self.spans):
                # nested spans of the same layer are already inside their
                # parent's inclusive numbers
                if sp.phase != phase or self._has_ancestor_layer(i, sp.layer):
                    continue
                dst = acc.setdefault(sp.layer, dict.fromkeys(JOB_METRICS, 0.0))
                for k, v in self.span_numbers(i).items():
                    dst[k] += v
            return acc

        out = {f"{layer}.{m}": 0.0 for layer in JOB_LAYERS for m in JOB_METRICS}
        for phases in (setup_phases, pass_phases):
            tables = [per_phase(p) for p in phases]
            for layer in JOB_LAYERS:
                for m in JOB_METRICS:
                    vals = [t.get(layer, {}).get(m, 0.0) for t in tables]
                    if vals:
                        out[f"{layer}.{m}"] += statistics.median(vals)
        return out

    def _has_ancestor_layer(self, idx: int, layer: str) -> bool:
        p = self.spans[idx].parent
        while p is not None:
            if self.spans[p].layer == layer:
                return True
            p = self.spans[p].parent
        return False

    def spans_json(self) -> list[dict]:
        return [
            {
                "id": i,
                "layer": sp.layer,
                "op": sp.op,
                "group": sp.group,
                "phase": sp.phase,
                "parent": sp.parent,
                "start": sp.t0,
                "end": sp.t1,
                **self.span_numbers(i),
            }
            for i, sp in enumerate(self.spans)
        ]


_STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "shuffleReadRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "outputBytes",
    "jvmGcTime",
)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
