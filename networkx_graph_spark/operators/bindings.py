"""Binding-target searches: nearest/all interval-anchored POIs within cutoff.

Reference: ``shortest_path_to_bindings`` wrapper
(/root/reference/src/main.cpp:834-880), kernel (:1476-1631);
``distance_to_bindings`` (:881-899); ``all_paths_to_bindings``
(:901-948), kernels (:1760-1908, :1910-1993).

Bindings are per-node sorted interval lists ``node -> [(lo, hi, payload)]``
(sorted by (lo, hi), /root/reference/src/main.cpp:446-461). Semantics
replicated exactly:

- same-node fast path (only when an offset is given): forward takes the
  FIRST interval with ``lo >= offset``; backward takes the LAST interval
  with ``hi <= offset`` (:1486-1522). If one matches, the result is that
  single-node path or nothing (no fallthrough to the graph search when the
  match exceeds the cutoff, :1518-1520).
- graph search: Dijkstra that stops at the first *popped* binding node
  (:1552-1582). Because Dijkstra pops in (dist, node) order and binding
  nodes never relax out, this equals a p2p batch of the bounded SSSP
  kernel: each query's targets are the binding-node set less its own
  source, ``node IN B AND node != src_of[qid]`` (a literal of |B| + |Q|
  values), the sinks and binding nodes are the barrier, and the first pop
  is ``argmin (dist, node)`` over the last record's target hits within
  the cutoff. Only then the total-cost check
  ``dist + binding_offset_cost <= cutoff`` applies (if the first binding
  node fails it, the answer is None, not the next node). The kernel's
  prune at the best target distance keeps rows at exactly that distance
  expanding, so the argmin and the winner's chain are unchanged by it.
- binding offset cost: forward ``c = clip(0, lo_first, len)`` costs ``c``;
  backward ``c = clip(0, hi_last, len)`` costs ``len - c`` (:1557-1581).
- forward paths read ``[source..u]``; backward paths read ``[u..source]``
  (already forward order) with start/end offsets swapped (:1617-1629).
- ``all_paths_to_bindings`` enumerates with the all-paths loop
  (``paths._enumerate_paths``): the binding nodes are its ``targets``, so
  a path stops at the first binding node past the source; the seed
  length is the source's offset cost (clipped offset, :1816). A hit pays
  its binding offset cost as its stop cost and is kept, with its length
  before that node, when the total fits the cutoff.
- ``with_endings`` (:1910-1993) adds the ``all_paths_from``/``all_paths_to``
  paths no kept binding path prefixes, with synthetic ``(off, off, None)``
  bindings at their far end. The same loop emits them (the endings rule
  in ``paths``); the driver keeps only the root cases.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import functions as F

from ..graph import SparkDiGraph
from ..plans.supersteps import _free_checkpoint
from ..rounding import clip
from ..session import local_df
from .paths import _enumerate_paths, _origin, _to_results
from .sssp import PathResult, _by_qid, _literal_in, _run_sssp, source_seeds, walk_chains

Binding = tuple[float, float, object]


def encode_bindings(
    graph: SparkDiGraph, bindings: dict[str, list[Binding]]
) -> dict[int, list[Binding]]:
    """node-str -> sorted interval lists, keyed by node id
    (/root/reference/src/main.cpp:446-461)."""
    out: dict[int, list[Binding]] = {}
    for node, lst in bindings.items():
        nid = graph.node_id(node)
        if nid is None:
            nid = graph.indexer.id(node) if graph.indexer else None
        if nid is None:
            continue
        out[nid] = sorted(
            [(float(lo), float(hi), payload) for lo, hi, payload in lst],
            key=lambda t: (t[0], t[1]),
        )
    return out


def _same_node(
    offset: float,
    blist: list[Binding],
    reverse: bool,
    cutoff: float,
    name: str,
) -> tuple[bool, Optional[PathResult]]:
    """(matched, path). matched=True means no fallthrough
    (/root/reference/src/main.cpp:1486-1522)."""
    if not reverse:
        for t in blist:
            if t[0] >= offset:
                p = PathResult(t[0] - offset, [name], offset, t[0])
                p.binding = (name, t)
                return True, (p if p.dist <= cutoff else None)
    else:
        for t in reversed(blist):
            if t[1] <= offset:
                p = PathResult(offset - t[1], [name], t[1], offset)
                p.binding = (name, t)
                return True, (p if p.dist <= cutoff else None)
    return False, None


def _binding_cost(
    lm: dict[int, float], b: dict[int, list[Binding]], u: int, reverse: bool
) -> tuple[float, Binding, float]:
    """(offset cost, winning interval, clipped binding offset) at node u
    (/root/reference/src/main.cpp:1557-1581)."""
    length = lm[u]
    t = b[u][0] if not reverse else b[u][-1]
    if not reverse:
        c = clip(0.0, t[0], length)
        return c, t, c
    c = clip(0.0, t[1], length)
    return length - c, t, c


def _shortest_many(
    graph: SparkDiGraph,
    queries: list[tuple[str, Optional[float]]],
    cutoff: float,
    b: dict[int, list[Binding]],
    sink_ids: set[int],
    reverse: bool,
) -> list[Optional[PathResult]]:
    """qid-batched binding search: ALL queries advance through ONE p2p
    batch of the bounded-SSSP kernel, the same shape as
    ``shortest_paths_pairs``. Each query's targets are the binding nodes
    other than its source; sinks and binding nodes are the shared barrier.
    The last record's target hits give each query's first pop, and the
    winners' chains are walked on the driver."""
    nm = graph.names_map
    lm = graph.lengths_map
    out: list[Optional[PathResult]] = [None] * len(queries)
    pend: list[tuple[int, int, float]] = []
    for qid, (source, offset) in enumerate(queries):
        sid = graph.node_id(source)
        if sid is None or sid not in lm:
            continue
        blist = b.get(sid)
        if offset is not None and blist:
            matched, p = _same_node(offset, blist, reverse, cutoff, nm[sid])
            if matched:
                out[qid] = (
                    p.round(graph.scale).with_graph(graph) if p is not None else None
                )
                continue
        if sid in sink_ids:
            continue
        init_offset = 0.0
        if offset is not None:
            # raw offset, no clip (/root/reference/src/main.cpp:1535-1538)
            init_offset = offset if reverse else lm[sid] - offset
        pend.append((qid, sid, float(init_offset)))
    if not pend:
        return out
    spark = graph.spark
    edges_w = graph.edges_w_rev if reverse else graph.edges_w
    seeds = source_seeds(edges_w, local_df(spark, pend, "qid long, sid long, ioff double"))
    binding_nodes = {n for n, lst in b.items() if lst}
    # The source's own binding is no target, and the barrier need not
    # exempt it (/root/reference/src/main.cpp:1540-1545): a re-reach of
    # the source has dist >= its seeds' offset, so what it would send
    # never beats a seed label. The target test is one binding-node set
    # and one source per query, not a (query, node) pair set.
    src_of = _by_qid({q: sid for q, sid, _ in pend})
    result = _run_sssp(
        spark, edges_w, seeds, float(cutoff), sink_ids | binding_nodes,
        is_target=_literal_in("node", binding_nodes) & (F.col("node") != src_of),
    )
    # Dijkstra's first pop (/root/reference/src/main.cpp:1552-1582) is
    # ``argmin (dist, node)`` over the reached binding nodes within the
    # cutoff (seeds are cutoff-exempt)
    winners: dict[int, tuple[float, int]] = {}
    for h in result.metrics[-1]["hits"]:
        m = (h["dist"], h["node"])
        if m[0] <= cutoff and (h["qid"] not in winners or m < winners[h["qid"]]):
            winners[h["qid"]] = m
    # total-cost check with NO fallthrough to the next candidate
    # (:1582 break); survivors' chains are walked on the driver from the
    # state's rows up to the winner's distance
    ends, meta = {}, {}
    for qid, sid, _ in pend:
        if qid not in winners:
            continue
        dist_u, u = winners[qid]
        cost, t, c = _binding_cost(lm, b, u, reverse)
        total = dist_u + cost
        if total > cutoff:
            continue
        ends[qid] = (sid, u, dist_u)
        meta[qid] = (u, total, t, c)
    if ends:
        chains = walk_chains(result.state, ends)
        for qid, (u, total, t, c) in meta.items():
            chain = chains[qid]  # [u .. sid]
            offset = queries[qid][1]
            if not reverse:
                nodes = [nm[i] for i in reversed(chain)]
                p = PathResult(total, nodes, offset, c)
            else:
                nodes = [nm[i] for i in chain]  # forward order [u..source]
                p = PathResult(total, nodes, c, offset)
            p.binding = (nm[u], t)
            out[qid] = p.round(graph.scale).with_graph(graph)
    _free_checkpoint(result.state)
    return out


def shortest_path_to_bindings_pairs(
    graph: SparkDiGraph,
    queries: list[tuple[str, Optional[float]]],
    cutoff: float,
    bindings: dict[int, list[Binding]],
    direction: int = 0,
    sinks: Optional[Sequence[str]] = None,
) -> list[tuple[Optional[PathResult], Optional[PathResult]]]:
    """Batched ``shortest_path_to_bindings``: one (source, offset) per
    query, shared cutoff/bindings/sinks. Returns one (backwards, forwards)
    pair per query — element-wise identical to calling the single-query
    API in a loop, but each direction runs ONE qid-parallel kernel."""
    n = len(queries)
    if cutoff < 0 or n == 0:
        return [(None, None)] * n
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    fwd = (
        _shortest_many(graph, queries, cutoff, bindings, sink_ids, False)
        if direction >= 0
        else [None] * n
    )
    bwd = (
        _shortest_many(graph, queries, cutoff, bindings, sink_ids, True)
        if direction <= 0
        else [None] * n
    )
    return list(zip(bwd, fwd))


def shortest_path_to_bindings(
    graph: SparkDiGraph,
    source: str,
    cutoff: float,
    bindings: dict[int, list[Binding]],
    offset: Optional[float] = None,
    direction: int = 0,
    sinks: Optional[Sequence[str]] = None,
) -> tuple[Optional[PathResult], Optional[PathResult]]:
    """-> (backwards, forwards) (/root/reference/src/main.cpp:834-880).
    Delegates to the qid-batched kernel with a single query — one code
    path for both the single and batched surfaces."""
    res = shortest_path_to_bindings_pairs(
        graph, [(source, offset)], cutoff, bindings, direction, sinks
    )
    return res[0] if res else (None, None)


def distance_to_bindings(
    graph: SparkDiGraph,
    source: str,
    cutoff: float,
    bindings: dict[int, list[Binding]],
    offset: Optional[float] = None,
    direction: int = 0,
    sinks: Optional[Sequence[str]] = None,
) -> tuple[Optional[float], Optional[float]]:
    bwd, fwd = shortest_path_to_bindings(
        graph, source, cutoff, bindings, offset, direction, sinks
    )
    return (bwd.dist if bwd else None, fwd.dist if fwd else None)


def all_paths_to_bindings(
    graph: SparkDiGraph,
    source: str,
    cutoff: float,
    bindings: dict[int, list[Binding]],
    offset: Optional[float] = None,
    direction: int = 0,
    sinks: Optional[Sequence[str]] = None,
    with_endings: bool = False,
) -> tuple[list[PathResult], list[PathResult]]:
    """-> (backwards, forwards) (/root/reference/src/main.cpp:901-948)."""
    if cutoff < 0:
        return [], []
    sid = graph.node_id(source)
    nm = graph.names_map
    lm = graph.lengths_map
    if sid is None or sid not in lm:
        return [], []
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}
    blist = bindings.get(sid)

    def one(reverse: bool) -> list[PathResult]:
        # __all_path_to_bindings__ (:1760-1908), with endings (:1910-1993)
        # binding nodes' stop costs (:1557-1581); nodes off the graph are never reached
        targets = {
            u: _binding_cost(lm, bindings, u, reverse)[0]
            for u, lst in bindings.items() if lst and u in lm
        }
        if offset is not None and blist:
            matched, p = _same_node(offset, blist, reverse, cutoff, nm[sid])
            if p is not None:
                # the single-node binding path prefixes every ending
                return [p.round(graph.scale).with_graph(graph)]
            if matched:
                targets = None
        if sid in sink_ids:
            targets = None
        seed, clipped = 0.0, offset
        if offset is not None:
            clipped = clip(0.0, offset, lm[sid])  # clipped HERE (:1816)
            seed = clipped if reverse else lm[sid] - clipped
        delta, so, ending_cutoff, endings = (
            _origin(graph, sid, cutoff, offset, reverse) if with_endings else (0.0, None, None, [])
        )
        rows = _enumerate_paths(graph, sid, reverse, sink_ids, targets, cutoff, seed, ending_cutoff)
        out = []
        for nodes, length, eo in rows:
            if eo is not None:
                continue
            tail = nodes[-1]
            cost, t, c = _binding_cost(lm, bindings, tail, reverse)
            if not reverse:
                p = PathResult(length + cost, [nm[i] for i in nodes], clipped, c)
            else:
                # reverse: reverse node list + swap offsets (:1898-1902)
                p = PathResult(length + cost, [nm[i] for i in reversed(nodes)], c, clipped)
            p.binding = (nm[tail], t)
            out.append(p.round(graph.scale).with_graph(graph))
        out.sort(key=lambda p: (p.dist, p.nodes))
        if ending_cutoff is not None:
            endings = _to_results(graph, [r for r in rows if r[2] is not None], delta, so, reverse)
        # endings carry a synthetic (off, off, None) binding at their far end
        for ep in endings:
            end, off = (ep.nodes[0], ep.start_offset) if reverse else (ep.nodes[-1], ep.end_offset)
            ep.binding = (end, (off, off, None))
        return out + endings

    fwd = one(False) if direction >= 0 else []
    bwd = one(True) if direction <= 0 else []
    return bwd, fwd
