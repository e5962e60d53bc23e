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
length DOUBLE, elen DOUBLE)``; each superstep joins the path tails
against ``edges_w``, applies the terminal rules below and fans out.
``array_contains`` gives the simple-path cycle check. Rounds are bounded
by the cutoff (every expansion adds one interior node of length ≥ the
minimum node length). Enumeration is exponential by nature — cutoff
pruning plus per-round localCheckpoints keep it bounded; this is a
bounded-neighborhood operator, not a whole-graph sweep.

Terminal rules. Entering a row with >1 nodes absorbs the tail's length:
``new_length = length + len(tail)``. Each rule set runs on its own
length column against its own cutoff, and a row lives while either does:

- single-origin (``ending_cutoff``, :1656-1690), ``elen`` from 0: if
  ``new_length`` exceeds the cutoff the path is emitted truncated
  ``(dist=cutoff, end_offset=cutoff-length)``; a tail that is a sink, has
  no successors, or whose successors are all already on the path
  (cycle-blocked) emits ``(dist=length, end_offset=len(tail))``;
  otherwise the path fans out to every unvisited successor.
- targets (``{node: stop cost}``: ``{target: 0}`` for ``all_paths``,
  :1718-1739; the binding nodes for ``all_paths_to_bindings``, :1849),
  ``length`` from ``seed_length``: a non-root tail in ``targets`` stops
  the rule set, and emits the path at its length *before* the absorb if
  that length plus the stop cost fits the cutoff; over-cutoff, sink and
  dead-end rows emit nothing.
- endings (both sets, ``with_endings``, :1910-1993): the single-origin
  paths that no kept target path prefixes. A kept hit stops the whole
  row, as it prefixes every path through it; a dropped one stops only
  the target rules. That is exact: a hit on ``b`` drops when
  ``length + c(b) > cutoff`` with ``c(b) ≤ len(b)``, so the row is over
  the cutoff at ``b`` and its single-origin path ends truncated there.
  With each set on its own length, the float sums and the rows are those
  of two separate enumerations even where they round apart.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import functions as F

from ..graph import SparkDiGraph
from ..plans.supersteps import SuperstepRunner, _free_checkpoint
from ..rounding import clip
from ..session import local_df
from .sssp import PathResult, _by_qid, _literal_in

_STATE = "nodes array<bigint>, length double, elen double, end_offset double, _active boolean"


def _enumerate_paths(
    graph: SparkDiGraph,
    source_id: int,
    reverse: bool = False,
    sink_ids: Optional[set[int]] = None,
    targets: Optional[Mapping[int, float]] = None,
    cutoff: float = 0.0,
    seed_length: float = 0.0,
    ending_cutoff: Optional[float] = None,
) -> list[tuple[list[int], float, Optional[float]]]:
    """Run the expansion loop from ``[source_id]``; returns the emitted
    paths as ``(node ids, dist, end_offset)``. The target rules run when
    ``targets`` (``{node: stop cost}``) is given and ``seed_length`` fits
    ``cutoff``; the single-origin rules run when ``ending_cutoff`` is
    given. Target paths carry end_offset None. The converged state is
    freed before returning."""
    if targets is not None and seed_length > cutoff:
        # root entry guard `length > cutoff` (/root/reference/src/main.cpp:1715)
        targets = None
    if targets is None and ending_cutoff is None:
        return []
    spark = graph.spark
    edges_w = graph.edges_w_rev if reverse else graph.edges_w
    succ = edges_w.select(F.col("src").alias("tail"), "dst")
    lengths = graph.vertices.select(
        F.col("id").alias("tail"), F.col("length").alias("tail_len")
    )
    # one flagged state (one Spark job per round — the active-row count
    # rides the runner's checkpoint as an Observation metric): active rows
    # carry each rule set's length, null once that rule set has stopped;
    # emitted rows carry (nodes, dist, end_offset) with dist in ``length``
    active, length, elen = F.col("_active"), F.col("length"), F.col("elen")
    tail_len = F.col("tail_len")
    multi = F.size("nodes") > 1
    no_offset = F.lit(None).cast("double")
    hit = kept = e_over = F.lit(False)
    if targets:
        hit = multi & length.isNotNull() & _literal_in("tail", targets)
        kept = hit & (length + _by_qid(targets, "tail") <= cutoff)
    if ending_cutoff is not None:
        ecut = F.lit(float(ending_cutoff))
        e_over = multi & (elen + tail_len > ecut)
    b_out = hit | (multi & (length + tail_len > cutoff))
    is_sink = _literal_in("tail", sink_ids or ())

    def absorb(col, out):
        # a non-root tail's length joins the path; null once the rule set stops
        return F.when(out, no_offset).otherwise(F.when(multi, col + tail_len).otherwise(col))

    def emit(df, dist, end_offset):
        return df.select(
            "nodes", dist.alias("length"), no_offset.alias("elen"),
            end_offset.alias("end_offset"), F.lit(False).alias("_active"),
        )

    def step(state, i: int, prev):
        rows = state.filter(active).withColumn("tail", F.element_at("nodes", -1)).join(
            lengths, "tail"
        )
        # a kept hit stops the row at its length from BEFORE the absorb;
        # it prefixes every ending through the row
        out = emit(rows.filter(kept), length, no_offset)
        rows = rows.filter(~kept)
        if ending_cutoff is not None:
            out = out.unionByName(emit(rows.filter(e_over), ecut, ecut - elen))
        rows = rows.withColumns(
            {"length": absorb(length, b_out), "elen": absorb(elen, e_over)}
        ).filter(length.isNotNull() | elen.isNotNull())
        keys = ["nodes", "length", "elen", "tail", "tail_len"]
        per = rows.join(succ, "tail", "left").groupBy(*keys).agg(
            F.array_sort(
                F.collect_list(F.when(~F.array_contains("nodes", F.col("dst")), F.col("dst")))
            ).alias("cands")
        )
        # sinks never expand; no unvisited successor is a dead end
        ends = is_sink | (F.size("cands") == 0)
        if ending_cutoff is not None:
            out = out.unionByName(emit(per.filter(ends & elen.isNotNull()), elen, tail_len))
        grown = per.filter(~ends).select(F.explode("cands").alias("nxt"), "nodes", "length", "elen")
        new_state = (
            state.filter(~active)
            .unionByName(out)
            .unionByName(
                grown.select(
                    F.concat("nodes", F.array("nxt")).alias("nodes"), "length", "elen",
                    no_offset.alias("end_offset"), F.lit(True).alias("_active"),
                )
            )
        )
        return new_state, {"n": F.coalesce(F.sum(active.cast("long")), F.lit(0))}

    # the seed round's plan is the runner's init: its checkpoint is the
    # round's one job (the seed itself is driver data, nothing to truncate)
    seed = ([source_id], None if targets is None else float(seed_length),
            None if ending_cutoff is None else 0.0, None, True)
    state = SuperstepRunner(spark).run(
        "all_paths", step(local_df(spark, [seed], _STATE), 0, None)[0], step,
        max_iter=10_000, converged_key="n",
    ).state
    done = [
        (list(r["nodes"]), r["length"], r["end_offset"])
        for r in state.filter(~active).select("nodes", "length", "end_offset").collect()
    ]
    _free_checkpoint(state)
    return done


def _origin(
    graph: SparkDiGraph, sid: int, cutoff: float, offset: Optional[float], reverse: bool
) -> tuple[float, Optional[float], Optional[float], list[PathResult]]:
    """``(delta, start offset, ending cutoff, single)`` of a single-origin
    enumeration from ``sid``, in reverse space for ``reverse`` (:743-752).
    A cutoff inside the source leaves one truncated path, ``single``."""
    if offset is None:
        return 0.0, None, cutoff, []
    length = graph.lengths_map[sid]
    so = clip(0.0, offset, length)
    if reverse:
        so = length - so
    delta = length - so
    if cutoff > delta:
        return delta, so, cutoff - delta, []
    p = PathResult(cutoff, [graph.names_map[sid]], so, so + cutoff)
    # the mirrored single path keeps its unrounded offsets
    p = _mirror(graph, p) if reverse else p.round(graph.scale)
    return delta, so, None, [p.with_graph(graph)]


def _to_results(
    graph: SparkDiGraph,
    rows: list[tuple[list[int], float, Optional[float]]],
    delta: float,
    start_offset: Optional[float],
    mirror: bool = False,
) -> list[PathResult]:
    """Enumerated rows as PathResults sorted by (dist, nodes): ``delta``
    is added to each dist, and ``mirror`` maps reverse-space paths back
    before rounding."""
    nm = graph.names_map
    out = []
    for nodes, dist, eo in rows:
        p = PathResult(dist + delta, [nm[i] for i in nodes], start_offset, eo)
        if mirror:
            p = _mirror(graph, p)
        out.append(p.round(graph.scale).with_graph(graph))
    out.sort(key=lambda p: (p.dist, p.nodes))
    return out


def _single_origin(
    graph: SparkDiGraph, source: str, cutoff: float, offset: Optional[float],
    sinks: Optional[Sequence[str]], reverse: bool,
) -> list[PathResult]:
    """``all_paths_from`` or, with ``reverse``, ``all_paths_to``: the
    single-origin rules from the source's offset, sorted by dist (ties
    canonicalized by node list — reference tie order is unordered_set
    iteration order)."""
    if cutoff < 0:
        return []
    sid = graph.node_id(source)
    if sid is None or sid not in graph.lengths_map:
        return []
    delta, so, ending_cutoff, single = _origin(graph, sid, cutoff, offset, reverse)
    if single:
        return single
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    rows = _enumerate_paths(graph, sid, reverse, sink_ids, ending_cutoff=ending_cutoff)
    return _to_results(graph, rows, delta, so, mirror=reverse)


def all_paths_from(
    graph: SparkDiGraph,
    source: str,
    cutoff: float,
    offset: Optional[float] = None,
    sinks: Optional[Sequence[str]] = None,
) -> list[PathResult]:
    """(reference ``main.cpp``:695-717, kernel :1633-1706)."""
    return _single_origin(graph, source, cutoff, offset, sinks, False)


def all_paths_to(
    graph: SparkDiGraph,
    target: str,
    cutoff: float,
    offset: Optional[float] = None,
    sinks: Optional[Sequence[str]] = None,
) -> list[PathResult]:
    """Reverse enumeration + node-list reversal + offset mirroring
    (/root/reference/src/main.cpp:719-759)."""
    return _single_origin(graph, target, cutoff, offset, sinks, True)


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
    rows = _enumerate_paths(
        graph, sid, sink_ids=sink_ids, targets={tid: 0.0}, cutoff=cutoff - delta
    )
    return _to_results(graph, [(n, d, target_offset) for n, d, _ in rows], delta, source_offset)
