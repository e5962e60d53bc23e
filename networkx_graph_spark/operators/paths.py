"""All-paths enumeration (DFS with cutoff) as iterative path-expansion joins.

Reference kernels: ``__all_paths`` single-origin
(/root/reference/src/main.cpp:1633-1706) and source→target
(:1708-1758); wrappers ``all_paths_from`` (:695-717), ``all_paths_to``
(:719-759, reverse + mirror offsets), ``all_paths`` (:761-832).

Spark shape: the frontier is a DataFrame of partial paths
``(nodes ARRAY<BIGINT>, length DOUBLE)``; each round joins the path tails
against ``edges_w``, applies the reference's terminal rules exactly
(cutoff truncation / sink / dead-end / cycle-block / target-hit) and fans
out. ``array_contains`` gives the simple-path cycle check. Rounds are
bounded by the cutoff (every expansion adds one interior node of length
≥ the minimum node length). Enumeration is exponential by nature —
cutoff pruning plus per-round localCheckpoints keep it bounded; this is a
bounded-neighborhood operator, not a whole-graph sweep.

Terminal-rule semantics (single-origin, /root/reference/src/main.cpp:1656-1690):

- entering a row with >1 nodes: ``new_length = length + len(tail)``; if it
  exceeds the cutoff the path is emitted truncated
  ``(dist=cutoff, end_offset=cutoff-length)``; else length absorbs tail;
- a tail that is a sink or has no successors emits
  ``(dist=length, end_offset=len(tail))``;
- a tail whose successors are all already on the path (cycle-blocked)
  emits the same way;
- otherwise fan out to every unvisited successor.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import SparkDiGraph
from ..plans.supersteps import SuperstepRunner
from ..rounding import clip
from ..session import local_df
from .sssp import PathResult

_DONE_SCHEMA = "nodes array<bigint>, dist double, end_offset double"


def _enumerate_paths(
    graph: SparkDiGraph,
    source_id: int,
    cutoff: float,
    reverse: bool = False,
    sink_ids: Optional[set[int]] = None,
    target_id: Optional[int] = None,
    max_iter: int = 10_000,
) -> DataFrame:
    """Run the expansion loop; returns done paths
    (nodes, dist, end_offset) — end_offset is NULL for target-mode."""
    spark = graph.spark
    edges_w = graph.edges_w_rev if reverse else graph.edges_w
    sink_ids = sink_ids or set()
    target_mode = target_id is not None
    if cutoff < 0:
        # root entry guard `length > cutoff` (/root/reference/src/main.cpp:1715)
        return local_df(spark, [], _DONE_SCHEMA)

    # single flagged state (one Spark job per round — the active-row count
    # rides the runner's checkpoint as an Observation metric): active rows
    # carry (nodes, length); finished rows carry (nodes, dist, end_offset)
    def _as_state(active_df, done_df):
        a = active_df.select(
            "nodes", "length",
            F.lit(None).cast("double").alias("dist"),
            F.lit(None).cast("double").alias("end_offset"),
            F.lit(True).alias("_active"),
        )
        d = done_df.select(
            "nodes", F.lit(None).cast("double").alias("length"),
            "dist", "end_offset", F.lit(False).alias("_active"),
        )
        return a.unionByName(d)

    init = _as_state(
        local_df(spark, [([source_id], 0.0)], "nodes array<bigint>, length double"),
        local_df(spark, [], _DONE_SCHEMA),
    )
    lengths = graph.vertices.select(
        F.col("id").alias("tail"), F.col("length").alias("tail_len")
    )

    def step(state: DataFrame, i: int, prev):
        active = state.filter(F.col("_active")).select("nodes", "length")
        done = state.filter(~F.col("_active")).select("nodes", "dist", "end_offset")
        rows = active.withColumn("tail", F.element_at("nodes", -1)).join(
            lengths, "tail"
        )
        multi = F.size("nodes") > 1
        if target_mode:
            # target-hit emits with pre-entry length, BEFORE the length
            # absorb (/root/reference/src/main.cpp:1718-1723)
            hit = rows.filter(multi & (F.col("tail") == target_id)).select(
                "nodes", F.col("length").alias("dist"),
                F.lit(None).cast("double").alias("end_offset"),
            )
            done = done.unionByName(hit)
            rows = rows.filter(~(multi & (F.col("tail") == target_id)))
            # over-cutoff entries are dropped silently (:1724-1727)
            rows = rows.filter(
                ~multi | (F.col("length") + F.col("tail_len") <= cutoff)
            )
        else:
            trunc = rows.filter(
                multi & (F.col("length") + F.col("tail_len") > cutoff)
            ).select(
                "nodes",
                F.lit(float(cutoff)).alias("dist"),
                (F.lit(float(cutoff)) - F.col("length")).alias("end_offset"),
            )
            done = done.unionByName(trunc)
            rows = rows.filter(
                ~multi | (F.col("length") + F.col("tail_len") <= cutoff)
            )
        rows = rows.withColumn(
            "length", F.when(multi, F.col("length") + F.col("tail_len")).otherwise(F.col("length"))
        )
        if target_mode:
            # a size-1 row whose tail == target never expands (:1730-1732)
            rows = rows.filter(F.col("tail") != target_id)
        # sink barrier: sinks never expand
        is_sink = F.col("tail").isin(list(sink_ids)) if sink_ids else F.lit(False)
        cand = rows.join(
            edges_w.select(F.col("src").alias("tail"), "dst"), "tail", "left"
        )
        per = cand.groupBy("nodes", "length", "tail", "tail_len").agg(
            F.count("dst").alias("n_succ"),
            F.array_sort(
                F.collect_list(
                    F.when(~F.array_contains("nodes", F.col("dst")), F.col("dst"))
                )
            ).alias("cands"),
        )
        terminal_cond = is_sink | (F.col("n_succ") == 0) | (F.size("cands") == 0)
        if target_mode:
            # non-target dead ends emit nothing (:1733-1739)
            new_done = None
        else:
            new_done = per.filter(terminal_cond).select(
                "nodes",
                F.col("length").alias("dist"),
                F.col("tail_len").alias("end_offset"),
            )
        if new_done is not None:
            done = done.unionByName(new_done)
        new_active = (
            per.filter(~terminal_cond)
            .select(F.explode("cands").alias("nxt"), "nodes", "length")
            .select(
                F.concat("nodes", F.array("nxt")).alias("nodes"), "length"
            )
        )
        return _as_state(new_active, done), {
            "n": F.coalesce(F.sum(F.col("_active").cast("long")), F.lit(0))
        }

    state = SuperstepRunner(spark).run(
        "all_paths", init, step, max_iter=max_iter, converged_key="n"
    ).state
    return state.filter(~F.col("_active")).select("nodes", "dist", "end_offset")


def _to_results(
    graph: SparkDiGraph,
    done: DataFrame,
    delta: float,
    start_offset: Optional[float],
) -> list[PathResult]:
    nm = graph.names_map
    out = []
    for r in done.collect():
        out.append(
            PathResult(
                r["dist"] + delta,
                [nm[i] for i in r["nodes"]],
                start_offset,
                r["end_offset"],
            ).round(graph.scale).with_graph(graph)
        )
    out.sort(key=lambda p: (p.dist, p.nodes))
    return out


def all_paths_from(
    graph: SparkDiGraph,
    source: str,
    cutoff: float,
    offset: Optional[float] = None,
    sinks: Optional[Sequence[str]] = None,
) -> list[PathResult]:
    """(/root/reference/src/main.cpp:695-717, kernel :1633-1706).
    Sorted by dist (ties canonicalized by node list — reference tie order
    is unordered_set iteration order)."""
    if cutoff < 0:
        return []
    sid = graph.node_id(source)
    if sid is None or sid not in graph.lengths_map:
        return []
    length = graph.lengths_map[sid]
    delta = 0.0
    start_offset = None
    if offset is not None:
        start_offset = clip(0.0, offset, length)
        delta = length - start_offset
        if cutoff <= delta:
            return [
                PathResult(cutoff, [source], start_offset, start_offset + cutoff)
                .round(graph.scale)
                .with_graph(graph)
            ]
        cutoff -= delta
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    done = _enumerate_paths(graph, sid, cutoff, sink_ids=sink_ids)
    return _to_results(graph, done, delta, start_offset)


def all_paths_to(
    graph: SparkDiGraph,
    target: str,
    cutoff: float,
    offset: Optional[float] = None,
    sinks: Optional[Sequence[str]] = None,
) -> list[PathResult]:
    """Reverse enumeration + node-list reversal + offset mirroring
    (/root/reference/src/main.cpp:719-759)."""
    if cutoff < 0:
        return []
    tid = graph.node_id(target)
    if tid is None or tid not in graph.lengths_map:
        return []
    lm = graph.lengths_map
    length = lm[tid]
    delta = 0.0
    rev_offset = None
    raw_offset = None
    if offset is not None:
        raw_offset = clip(0.0, offset, length)
        rev_offset = length - raw_offset
        delta = length - rev_offset
        if cutoff <= delta:
            # single-node truncated path in *reverse* space, then mirrored
            p = PathResult(cutoff, [target], rev_offset, rev_offset + cutoff)
            return [_mirror(graph, p).with_graph(graph)]
        cutoff -= delta
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    done = _enumerate_paths(graph, tid, cutoff, reverse=True, sink_ids=sink_ids)
    out = [
        _mirror(graph, p).with_graph(graph)
        for p in _to_results_raw(graph, done, delta, rev_offset)
    ]
    for p in out:
        p.round(graph.scale)
    out.sort(key=lambda p: (p.dist, p.nodes))
    return out


def _to_results_raw(graph, done, delta, start_offset) -> list[PathResult]:
    nm = graph.names_map
    out = []
    for r in done.collect():
        out.append(
            PathResult(
                r["dist"] + delta,
                [nm[i] for i in r["nodes"]],
                start_offset,
                r["end_offset"],
            )
        )
    return out


def _mirror(graph: SparkDiGraph, p: PathResult) -> PathResult:
    """Reverse node list, mirror offsets length−off, swap start/end
    (/root/reference/src/main.cpp:743-752)."""
    lm = graph.lengths_map
    so, eo = p.start_offset, p.end_offset
    if so is not None:
        so = lm[graph.node_id(p.nodes[0])] - so
    if eo is not None:
        eo = lm[graph.node_id(p.nodes[-1])] - eo
    p.nodes = list(reversed(p.nodes))
    p.start_offset, p.end_offset = eo, so
    return p


def all_paths(
    graph: SparkDiGraph,
    source: str,
    target: str,
    cutoff: float,
    source_offset: Optional[float] = None,
    target_offset: Optional[float] = None,
    sinks: Optional[Sequence[str]] = None,
) -> list[PathResult]:
    """All simple source→target paths within cutoff
    (/root/reference/src/main.cpp:761-832, kernel :1708-1758)."""
    if cutoff < 0:
        return []
    sid, tid = graph.node_id(source), graph.node_id(target)
    lm = graph.lengths_map
    if sid is None or tid is None or sid not in lm or tid not in lm:
        return []
    if source_offset is not None:
        source_offset = clip(0.0, source_offset, lm[sid])
    if target_offset is not None:
        target_offset = clip(0.0, target_offset, lm[tid])
    if sid == tid:
        if source_offset is None or target_offset is None:
            return []
        dist = target_offset - source_offset
        if dist > cutoff or dist <= 0:
            return []
        return [
            PathResult(dist, [source], source_offset, target_offset)
            .round(graph.scale)
            .with_graph(graph)
        ]
    delta = 0.0
    if source_offset is not None:
        delta += lm[sid] - source_offset
    if target_offset is not None:
        delta += target_offset
    inner_cutoff = cutoff - delta
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    done = _enumerate_paths(
        graph, sid, inner_cutoff, sink_ids=sink_ids, target_id=tid
    )
    nm = graph.names_map
    out = []
    for r in done.collect():
        out.append(
            PathResult(
                r["dist"] + delta,
                [nm[i] for i in r["nodes"]],
                source_offset,
                target_offset,
            ).round(graph.scale).with_graph(graph)
        )
    out.sort(key=lambda p: (p.dist, p.nodes))
    return out
