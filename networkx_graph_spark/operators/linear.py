"""Path post-processing: linear referencing along node chains.

Mirrors the reference ``Path`` methods (SURVEY.md §2.7): ``Build``
(/root/reference/src/main.cpp:2360-2424), ``along`` + ``__path_along``
(:2638-2651, :2186-2215), ``slice`` (:2652-2696), ``offsets``
(:2570-2589), ``locate`` (:2590-2637), ``search_for_seqs`` + Sequences
(:112-139, :2553-2569).

These are pure per-path array computations on the driver: one Python
core (``_along_core``) implements ``__path_along``'s exact semantics for
``along`` and ``slice``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from ..graph import SparkDiGraph
from ..rounding import clip, round_half_up
from .sssp import PathResult


# ----------------------------------------------------------------- core
def _along_core(
    nodes: Sequence[int],
    lengths: Sequence[float],
    dist: float,
    start_offset: Optional[float],
    end_offset: Optional[float],
    offset: float,
) -> tuple[int, float]:
    """Exact __path_along (/root/reference/src/main.cpp:2186-2215)."""
    if offset <= 0:
        return 0, start_offset if start_offset is not None else lengths[0]
    if offset >= dist:
        return len(nodes) - 1, end_offset if end_offset is not None else 0.0
    if start_offset is not None:
        remain = max(0.0, lengths[0] - start_offset)
        if offset <= remain:
            return 0, start_offset + offset
        offset -= remain
    for i in range(1, len(nodes)):
        if offset <= lengths[i]:
            return i, offset
        offset -= lengths[i]
    return len(nodes) - 1, end_offset if end_offset is not None else 0.0


def build_path(
    graph: SparkDiGraph,
    nodes: Sequence[str],
    start_offset: Optional[float] = None,
    end_offset: Optional[float] = None,
    binding: Optional[tuple] = None,
) -> PathResult:
    """Path.Build (/root/reference/src/main.cpp:2360-2424)."""
    if not nodes:
        raise ValueError("not any nodes")
    lm = graph.lengths_map
    nids, lengths = [], []
    for node in nodes:
        nid = graph.node_id(node)
        if nid is None or nid not in lm:
            raise ValueError(f"missing node {node}")
        nids.append(nid)
        lengths.append(lm[nid])
    dist = sum(lengths[1:-1]) if len(lengths) > 1 else 0.0
    if len(nodes) == 1 and start_offset is not None and end_offset is not None:
        start_offset = clip(0.0, start_offset, lengths[0])
        end_offset = clip(0.0, end_offset, lengths[-1])
        dist = end_offset - start_offset
    else:
        if start_offset is not None:
            start_offset = clip(0.0, start_offset, lengths[0])
            dist += lengths[0] - start_offset
        if end_offset is not None:
            end_offset = clip(0.0, end_offset, lengths[-1])
            dist += end_offset
    p = PathResult(dist, list(nodes), start_offset, end_offset).round(graph.scale).with_graph(graph)
    if binding is not None:
        bnode = binding[0]
        if graph.node_id(bnode) is None:
            raise ValueError(f"invalid binding node {bnode}")
        p.binding = (bnode, binding[1])
    return p


def _ids_lengths(graph: SparkDiGraph, path: PathResult):
    lm = graph.lengths_map
    nids = [graph.node_id(n) for n in path.nodes]
    return nids, [lm[i] for i in nids]


def path_along(graph: SparkDiGraph, path: PathResult, offset: float) -> tuple[str, float]:
    """Path.along (/root/reference/src/main.cpp:2638-2651)."""
    nids, lengths = _ids_lengths(graph, path)
    idx, off = _along_core(
        nids, lengths, path.dist, path.start_offset, path.end_offset, offset
    )
    if graph.scale is not None:
        off = round_half_up(off, graph.scale)
    return path.nodes[idx], off


def path_slice(graph: SparkDiGraph, path: PathResult, start: float, end: float) -> PathResult:
    """Path.slice (/root/reference/src/main.cpp:2652-2696)."""
    nids, lengths = _ids_lengths(graph, path)
    idx0, off0 = _along_core(
        nids, lengths, path.dist, path.start_offset, path.end_offset, start
    )
    if end <= start:
        out_nodes, dist, off1 = [path.nodes[idx0]], 0.0, off0
    else:
        idx1, off1 = _along_core(
            nids, lengths, path.dist, path.start_offset, path.end_offset, end
        )
        if idx0 > idx1:
            out_nodes, dist, off1 = [path.nodes[idx0]], 0.0, off0
        elif idx0 == idx1:
            out_nodes, dist = [path.nodes[idx0]], off1 - off0
        else:
            out_nodes = [path.nodes[idx0]]
            dist = lengths[idx0] - off0
            for i in range(idx0 + 1, idx1):
                out_nodes.append(path.nodes[i])
                dist += lengths[i]
            out_nodes.append(path.nodes[idx1])
            dist += off1
    return PathResult(dist, out_nodes, off0, off1).round(graph.scale).with_graph(graph)


def path_offsets(graph: SparkDiGraph, path: PathResult) -> list[float]:
    """Path.offsets (/root/reference/src/main.cpp:2570-2589)."""
    if path.start_offset is None or path.end_offset is None:
        raise ValueError("path has no start/end offset")
    nids, lengths = _ids_lengths(graph, path)
    out = [-path.start_offset]
    acc = lengths[0] - path.start_offset
    for i in range(1, len(nids)):
        out.append(acc)
        acc += lengths[i]
    return out


def path_locate(
    graph: SparkDiGraph,
    path: PathResult,
    ref: tuple[str, float],
    eps: float = 1e-2,
) -> Optional[float]:
    """Path.locate (/root/reference/src/main.cpp:2590-2637)."""
    if path.start_offset is None or path.end_offset is None:
        raise ValueError("you must call `path.locate` on path with start/end offset")
    nid = graph.node_id(ref[0])
    if nid is None:
        return None
    nids, lengths = _ids_lengths(graph, path)
    off = ref[1]
    if nids[0] == nid:
        left, right = path.start_offset, lengths[0]
        if off < left - eps or off > right + eps:
            return None
        return clip(left, off, right) - left
    acc = lengths[0] - path.start_offset
    for i in range(1, len(nids)):
        length = lengths[i]
        if nids[i] != nid:
            acc += length
            continue
        if i == len(nids) - 1:
            length = path.end_offset
        if off < -eps or off > length + eps:
            return None
        return acc + clip(0.0, off, length)
    return None


def search_in(
    head2seqs: dict[int, list[list[int]]],
    nodes: Sequence[int],
    quick_return: bool = True,
) -> dict[int, list[list[int]]]:
    """Sequences.search_in (/root/reference/src/main.cpp:112-139):
    positions where a registered sequence appears as a contiguous
    subsequence of ``nodes``."""
    ret: dict[int, list[list[int]]] = {}
    n = len(nodes)
    for i in range(n):
        for c in head2seqs.get(nodes[i], []):
            if len(c) > n - i:
                continue
            if list(nodes[i : i + len(c)]) == list(c):
                ret.setdefault(i, []).append(list(c))
                if quick_return:
                    return ret
    return ret


def encode_sequences(
    graph: SparkDiGraph, sequences: Sequence[Sequence[str]]
) -> dict[int, list[list[int]]]:
    """Sequences encoding (/root/reference/src/main.cpp:462-479)."""
    head2seqs: dict[int, list[list[int]]] = {}
    for seq in sequences:
        if not seq:
            continue
        ids = [graph.node_id(s) for s in seq]
        head2seqs.setdefault(ids[0], []).append(ids)
    return head2seqs


def search_for_seqs(
    graph: SparkDiGraph,
    path: PathResult,
    head2seqs: dict[int, list[list[int]]],
    quick_return: bool = True,
) -> dict[int, list[PathResult]]:
    """Path.search_for_seqs (/root/reference/src/main.cpp:2553-2569)."""
    nids = [graph.node_id(n) for n in path.nodes]
    nm = graph.names_map
    out: dict[int, list[PathResult]] = {}
    for i, seqs in search_in(head2seqs, nids, quick_return).items():
        out[i] = [PathResult(0.0, [nm[x] for x in seq]).with_graph(graph) for seq in seqs]
    return out
