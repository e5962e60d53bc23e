"""All-paths enumeration (DFS with cutoff) as iterative path-expansion joins.

Reference kernels: ``__all_paths`` single-origin
(/root/reference/src/main.cpp:1633-1706) and source→target
(:1708-1758); wrappers ``all_paths_from`` (:695-717), ``all_paths_to``
(:719-759, reverse + mirror offsets), ``all_paths`` (:761-832). The
binding enumerator ``__all_path_to_bindings__`` (:1760-1908) expands
paths the same way, so ``bindings.all_paths_to_bindings`` runs on this
module's loop too.

Spark shape: one loop, ``_enumerate_paths``, behind all four surfaces.
The state is a DataFrame of partial paths ``(nodes ARRAY<BIGINT>,
length DOUBLE)``; each superstep joins the path tails against
``edges_w``, applies the terminal rules below and fans out.
``array_contains`` gives the simple-path cycle check. Rounds are bounded
by the cutoff (every expansion adds one interior node of length ≥ the
minimum node length). Enumeration is exponential by nature — cutoff
pruning plus per-round localCheckpoints keep it bounded; this is a
bounded-neighborhood operator, not a whole-graph sweep.

Terminal rules. Entering a row with >1 nodes absorbs the tail's length:
``new_length = length + len(tail)``. The ``targets`` argument picks the
rule set:

- ``targets=None`` (single-origin, :1656-1690): if ``new_length`` exceeds
  the cutoff the path is emitted truncated
  ``(dist=cutoff, end_offset=cutoff-length)``; a tail that is a sink, has
  no successors, or whose successors are all already on the path
  (cycle-blocked) emits ``(dist=length, end_offset=len(tail))``;
  otherwise the path fans out to every unvisited successor.
- ``targets`` a node set (``{target}`` for ``all_paths``, :1718-1739; the
  binding nodes for ``all_paths_to_bindings``, :1849): a non-root
  tail in ``targets`` emits the path at its length *before* the absorb
  and stops there; over-cutoff, sink and dead-end rows emit nothing.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import functions as F

from ..graph import SparkDiGraph
from ..plans.supersteps import SuperstepRunner, _free_checkpoint
from ..rounding import clip
from ..session import local_df
from .sssp import PathResult, _literal_in

_STATE = "nodes array<bigint>, length double, end_offset double, _active boolean"


def _enumerate_paths(
    graph: SparkDiGraph,
    source_id: int,
    cutoff: float,
    reverse: bool = False,
    sink_ids: Optional[set[int]] = None,
    targets: Optional[set[int]] = None,
    seed_length: float = 0.0,
) -> list[tuple[list[int], float, Optional[float]]]:
    """Run the expansion loop from ``[source_id]`` at ``seed_length``;
    returns the emitted paths as ``(node ids, dist, end_offset)``
    (end_offset is None under ``targets``). The converged state is freed
    before returning."""
    if cutoff < 0:
        # root entry guard `length > cutoff` (/root/reference/src/main.cpp:1715)
        return []
    spark = graph.spark
    edges_w = graph.edges_w_rev if reverse else graph.edges_w
    succ = edges_w.select(F.col("src").alias("tail"), "dst")
    lengths = graph.vertices.select(
        F.col("id").alias("tail"), F.col("length").alias("tail_len")
    )
    # one flagged state (one Spark job per round — the active-row count
    # rides the runner's checkpoint as an Observation metric): active rows
    # carry (nodes, length); emitted rows carry (nodes, dist, end_offset)
    # with dist in ``length``
    active, length = F.col("_active"), F.col("length")
    multi = F.size("nodes") > 1
    over = multi & (length + F.col("tail_len") > cutoff)
    hit = (multi & _literal_in("tail", targets)) if targets else F.lit(False)
    is_sink = _literal_in("tail", sink_ids or ())

    no_offset = F.lit(None).cast("double")

    def emit(df, dist, end_offset):
        return df.select(
            "nodes", dist.alias("length"), end_offset.alias("end_offset"),
            F.lit(False).alias("_active"),
        )

    def step(state, i: int, prev):
        rows = state.filter(active).withColumn("tail", F.element_at("nodes", -1)).join(
            lengths, "tail"
        )
        if targets is None:
            out = emit(rows.filter(over), F.lit(float(cutoff)), F.lit(float(cutoff)) - length)
        else:
            # a hit keeps its length from BEFORE the absorb
            out = emit(rows.filter(hit), length, no_offset)
            rows = rows.filter(~hit)
        rows = rows.filter(~over).withColumn(
            "length", F.when(multi, length + F.col("tail_len")).otherwise(length)
        )
        per = rows.join(succ, "tail", "left").groupBy("nodes", "length", "tail", "tail_len").agg(
            F.array_sort(
                F.collect_list(F.when(~F.array_contains("nodes", F.col("dst")), F.col("dst")))
            ).alias("cands")
        )
        # sinks never expand; no unvisited successor is a dead end
        ends = is_sink | (F.size("cands") == 0)
        if targets is None:
            out = out.unionByName(emit(per.filter(ends), length, F.col("tail_len")))
        grown = per.filter(~ends).select(F.explode("cands").alias("nxt"), "nodes", "length")
        new_state = (
            state.filter(~active)
            .unionByName(out)
            .unionByName(
                grown.select(
                    F.concat("nodes", F.array("nxt")).alias("nodes"), "length",
                    no_offset.alias("end_offset"), F.lit(True).alias("_active"),
                )
            )
        )
        return new_state, {"n": F.coalesce(F.sum(active.cast("long")), F.lit(0))}

    # the seed round's plan is the runner's init: its checkpoint is the
    # round's one job (the seed itself is driver data, nothing to truncate)
    seed = local_df(spark, [([source_id], float(seed_length), None, True)], _STATE)
    state = SuperstepRunner(spark).run(
        "all_paths", step(seed, 0, None)[0], step, max_iter=10_000, converged_key="n"
    ).state
    done = [
        (list(r["nodes"]), r["length"], r["end_offset"])
        for r in state.filter(~active).select("nodes", "length", "end_offset").collect()
    ]
    _free_checkpoint(state)
    return done


def _to_results(
    graph: SparkDiGraph,
    rows: list[tuple[list[int], float, Optional[float]]],
    delta: float,
    start_offset: Optional[float],
    end_offset: Optional[float] = None,
    mirror: bool = False,
) -> list[PathResult]:
    """Enumerated rows as PathResults sorted by (dist, nodes): ``delta``
    is added to each dist, a given ``end_offset`` replaces each row's own,
    and ``mirror`` maps reverse-space paths back before rounding."""
    nm = graph.names_map
    out = []
    for nodes, dist, eo in rows:
        p = PathResult(
            dist + delta,
            [nm[i] for i in nodes],
            start_offset,
            eo if end_offset is None else end_offset,
        )
        if mirror:
            p = _mirror(graph, p)
        out.append(p.round(graph.scale).with_graph(graph))
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
    rows = _enumerate_paths(graph, sid, cutoff, sink_ids=sink_ids)
    return _to_results(graph, rows, delta, start_offset)


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
    rows = _enumerate_paths(graph, tid, cutoff, reverse=True, sink_ids=sink_ids)
    return _to_results(graph, rows, delta, rev_offset, mirror=True)


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
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    rows = _enumerate_paths(graph, sid, cutoff - delta, sink_ids=sink_ids, targets={tid})
    return _to_results(graph, rows, delta, source_offset, target_offset)
