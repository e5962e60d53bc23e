"""Property-based kernel checks (hypothesis): random small graphs vs
exact pure-Python oracles. Complements the fixed-seed golden tests —
the generators explore graph shapes (self-loops, multi-edges collapsed,
disconnected parts, dangling sinks) the fixtures don't.

Weights are multiples of 0.5, so every path sum is exact in binary FP and
the lexicographic tie-break comparison is FP-order-independent.
"""

import pytest
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

NEG_INF = float("-inf")

edge_lists = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1,
    max_size=18,
).map(lambda es: sorted({(a, b) for a, b in es if a != b}))

weighted_edges = st.lists(
    st.tuples(
        st.integers(0, 6),
        st.integers(0, 6),
        st.integers(1, 8),  # weight = k * 0.5
    ),
    min_size=1,
    max_size=14,
).map(
    lambda es: sorted({(a, b): w for a, b, w in es if a != b}.items())
).map(lambda es: [(a, b, w * 0.5) for (a, b), w in es])


def _sssp_oracle(edges, source, cutoff):
    """Label-correcting fixpoint with the kernel's exact tie-break
    struct (dist, prev_dist, prev); seeds carry prev_dist=-inf."""
    best = {source: (0.0, NEG_INF, -1)}
    changed = True
    while changed:
        changed = False
        for a, b, w in edges:
            if a not in best:
                continue
            da = best[a][0]
            nd = da + w
            if nd > cutoff:
                continue
            cand = (nd, da, a)
            if b not in best or cand < best[b]:
                best[b] = cand
                changed = True
    return best


@pytest.mark.parametrize("hypothesis_bucket", [0])
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=weighted_edges, cutoff_k=st.integers(1, 20))
def test_sssp_matches_oracle(spark, edges, cutoff_k, hypothesis_bucket):
    from pyspark.sql import functions as F  # noqa: F401

    from networkx_graph_spark.operators.sssp import bounded_sssp
    from networkx_graph_spark.operators.sssp_csr import bounded_sssp_csr
    from networkx_graph_spark.session import kernel_conf

    assume(edges)  # self-loop stripping can empty the list
    cutoff = cutoff_k * 0.5
    source = edges[0][0]
    edf = spark.createDataFrame(edges, "src long, dst long, weight double")
    seeds = spark.createDataFrame(
        [(0, source, 0.0, -1, NEG_INF)],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    want = _sssp_oracle(edges, source, cutoff)
    # the plain kernel, then the block-centric one at one block and at
    # three range blocks of width 2, each at two shuffle-partition counts
    for parts in ("1", "3"):
        with kernel_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            for state in (
                bounded_sssp(spark, edf, seeds, cutoffs=cutoff),
                bounded_sssp_csr(spark, edf, seeds, cutoff, num_blocks=1, block_width=1),
                bounded_sssp_csr(spark, edf, seeds, cutoff, num_blocks=3, block_width=2),
            ):
                got = {
                    r["node"]: (r["dist"], r["prev_dist"], r["prev"]) for r in state.collect()
                }
                assert got == want, parts


def _zigzag_oracle(state_edges, seeds, cutoff):
    """Label-correcting fixpoint over the doubled-state edges with the
    kernel's (dist, g, prev) rule: g resets to 0 across a positive-weight
    flip, else grows by one; flips out of the seed states never fire."""
    best = {s: (0.0, 0, -1) for s in seeds}
    edges = [e for e in state_edges if not (e[3] and e[0] in seeds)]
    changed = True
    while changed:
        changed = False
        for a, b, w, flip in edges:
            if a not in best:
                continue
            da, ga, _ = best[a]
            nd = da + w
            if nd > cutoff:
                continue
            cand = (nd, 0 if flip and w > 0 else ga + 1, a)
            if b not in best or cand < best[b]:
                best[b] = cand
                changed = True
    return best


node_weighted_graphs = st.tuples(
    st.lists(st.integers(0, 6), min_size=2, max_size=6),  # length = k * 0.5
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=1, max_size=10),
).map(
    lambda t: (
        [(f"n{i}", k * 0.5) for i, k in enumerate(t[0])],
        sorted({(f"n{a}", f"n{b}") for a, b in t[1] if a != b and max(a, b) < len(t[0])}),
    )
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(graph=node_weighted_graphs, direction=st.sampled_from([-1, 0, 1]),
       cutoff_k=st.integers(0, 16))
def test_zigzag_matches_oracle(spark, graph, direction, cutoff_k):
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.zigzag import (
        build_state_edges,
        state_id,
        zigzag_sssp,
    )

    nodes, edges = graph
    assume(edges)
    g = SparkDiGraph.from_lists(spark, nodes, edges)
    sid = g.node_id(edges[0][0])
    seeds = [state_id(sid, d) for d in (1, -1) if d * direction >= 0]
    cutoff = cutoff_k * 0.5
    state_edges = [tuple(r) for r in build_state_edges(g).collect()]
    want = _zigzag_oracle(state_edges, seeds, cutoff)
    for use_csr in (False, True):
        got = {
            r["node"]: (r["dist"], r["g"], r["prev"])
            for r in zigzag_sssp(g, seeds, cutoff, use_csr=use_csr).collect()
        }
        assert got == want, use_csr
    g.unpersist()


def _pairs_oracle(length, edges, ids, source, target, cutoff, sinks=()):
    """One ``shortest_paths_pairs`` answer (no offsets) as ``(dist, nodes)``
    or None: a node-length fixpoint with the kernel's
    ``(dist, prev_dist, prev)`` tie-break -- relaxing out of ``a`` adds
    ``length[a]``, the source's successors are seeded at 0 with
    ``prev_dist = -inf``, a sink is reached but never relaxes out, and a
    sink source seeds nothing -- and the target's chain walked from the
    prev map. ``ids`` gives the node ids the kernel breaks ties on."""
    if source == target:
        return 0.0, [source]
    if source in sinks:
        return None
    best = {b: (0.0, NEG_INF, ids[source], source) for a, b in edges if a == source}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            if a not in best or a in sinks:
                continue
            da = best[a][0]
            nd = da + length[a]
            if nd > cutoff:
                continue
            cand = (nd, da, ids[a], a)
            if b not in best or cand < best[b]:
                best[b] = cand
                changed = True
    if target not in best:
        return None
    # the walk stops at the source, and before a node already on the
    # chain (zero-length nodes can tie into a predecessor cycle)
    chain = [target]
    while chain[-1] != source and best[chain[-1]][3] not in chain:
        chain.append(best[chain[-1]][3])
    return best[target][0], chain[::-1]


_LOOP = (
    [("n0", 1.0), ("n1", 0.0), ("n2", 0.5), ("n3", 1.0)],
    [("n0", "n1"), ("n1", "n2"), ("n2", "n0"), ("n2", "n3")],
)

_TIE = (
    [("n0", 1.0), ("n1", 0.0), ("n2", 0.0), ("n3", 0.0)],
    [("n0", "n3"), ("n1", "n2"), ("n2", "n1"), ("n3", "n2")],
)


# _LOOP: n0 -> n3 runs through the cycle back to its source (n0 gets a
# state row); n1 -> n3 at cutoff 0 is out of cutoff; n2 -> n1 crosses n0.
# _TIE: the zero-length n1 and n2 are each other's equal-cost
# predecessors, and the (dist, prev_dist, prev) rule picks n1 for n2 where
# the reference keeps its first setter n3 (a known divergence, see
# ROADMAP). Both walks end at the repeat, so n0 -> n2 answers [n1, n2].
# With sink_picks=[2], n2 is a sink: n1 -> n3 reaches it and stops, and
# n2 -> n0 has a sink source.
@example(graph=_LOOP, picks=[(0, 3, 8), (1, 3, 0), (2, 1, 6)], shared=False, sink_picks=[])
@example(graph=_LOOP, picks=[(0, 3, 6), (1, 3, 6), (2, 1, 6)], shared=True, sink_picks=[])
@example(graph=_TIE, picks=[(0, 2, 8), (3, 1, 8)], shared=True, sink_picks=[])
@example(graph=_LOOP, picks=[(1, 3, 8), (2, 0, 8), (0, 2, 4)], shared=False, sink_picks=[2])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    graph=node_weighted_graphs,
    picks=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(0, 16)),
        min_size=2,
        max_size=3,
    ),
    shared=st.booleans(),
    sink_picks=st.lists(st.integers(0, 5), max_size=2),
)
def test_pairs_match_oracle(spark, graph, picks, shared, sink_picks):
    """One ``shortest_paths_pairs`` batch against ``_pairs_oracle`` on
    node-weighted graphs whose lengths include 0: targets tie at exactly
    their distance and zero-length interiors occur. ``shared`` gives every
    pair the first pair's cutoff (the kernel's scalar cutoff); otherwise
    cutoffs mix (a per-qid cutoff map). Every pair shares the drawn sinks.
    Graph build and batch run at two shuffle-partition counts."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import shortest_paths_pairs
    from networkx_graph_spark.session import kernel_conf

    nodes, edges = graph
    assume(edges)
    length = dict(nodes)
    pairs = [
        (nodes[s % len(nodes)][0], nodes[t % len(nodes)][0], (picks[0][2] if shared else k) * 0.5)
        for s, t, k in picks
    ]
    sinks = sorted({nodes[i % len(nodes)][0] for i in sink_picks})
    for parts in ("1", "3"):
        with kernel_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            g = SparkDiGraph.from_lists(spark, nodes, edges)
            ids = {n: g.node_id(n) for n, _ in nodes}
            got = shortest_paths_pairs(g, pairs, sinks=sinks)
            for qid, (source, target, cutoff) in enumerate(pairs):
                want = _pairs_oracle(length, edges, ids, source, target, cutoff, sinks)
                p = got[qid]
                assert (None if p is None else (p.dist, p.nodes)) == want, (parts, pairs[qid])
            g.unpersist()


def _cc_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("algorithm", ["hashmin", "twophase", "blocked"])
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_cc_matches_union_find(spark, algorithm, edges):
    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.session import kernel_conf

    assume(edges)
    e = spark.createDataFrame(edges, "src long, dst long")
    want = _cc_oracle(edges)
    for parts in ("1", "3"):
        with kernel_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            got = {
                r["id"]: r["component"]
                for r in connected_components(e, algorithm=algorithm).state.collect()
            }
        # vertices with only self-loops were stripped by the edge list map;
        # both sides cover exactly the endpoint set
        assert got == want, parts


def _succ(edges, reverse):
    out = {}
    for a, b in edges:
        if reverse:
            a, b = b, a
        out.setdefault(a, []).append(b)
    return out


def _clip(v, hi):
    return min(max(v, 0.0), hi)


def _paths_from_oracle(length, edges, source, cutoff, offset, sinks, reverse=False):
    """``all_paths_from`` by recursive DFS of the single-origin rules in
    the paths.py docstring: entering a non-root tail absorbs its length or
    emits the path truncated at the cutoff; a sink, successor-less or
    cycle-blocked tail emits the path ending at its full length.
    ``reverse`` walks the edges backwards."""
    succ, out = _succ(edges, reverse), []
    so, delta = None, 0.0
    if offset is not None:
        so = _clip(offset, length[source])
        delta = length[source] - so
        if cutoff <= delta:
            return [(cutoff, [source], so, so + cutoff, None)]
        cutoff -= delta

    def dfs(path, dist):
        tail = path[-1]
        if len(path) > 1:
            if dist + length[tail] > cutoff:
                out.append((cutoff + delta, path, so, cutoff - dist, None))
                return
            dist += length[tail]
        nxt = [v for v in succ.get(tail, []) if v not in path]
        if tail in sinks or not nxt:
            out.append((dist + delta, path, so, length[tail], None))
            return
        for v in nxt:
            dfs(path + [v], dist)

    dfs([source], 0.0)
    return sorted(out, key=lambda p: (p[0], p[1]))


def _paths_to_oracle(length, edges, target, cutoff, offset, sinks):
    """``all_paths_to``: the single-origin DFS over reversed edges from
    the mirrored offset, each path mirrored back (node list reversed,
    offsets mirrored and swapped)."""
    rev = None if offset is None else length[target] - _clip(offset, length[target])
    out = [
        (
            dist,
            path[::-1],
            None if eo is None else length[path[-1]] - eo,
            None if so is None else length[path[0]] - so,
            None,
        )
        for dist, path, so, eo, _ in _paths_from_oracle(
            length, edges, target, cutoff, rev, sinks, reverse=True
        )
    ]
    return sorted(out, key=lambda p: (p[0], p[1]))


def _paths_to_target_oracle(length, edges, source, target, cutoff, so, to, sinks):
    """``all_paths`` by DFS of the target rule: a non-root tail equal to
    the target emits at the length before it; over-cutoff, sink and
    dead-end rows emit nothing."""
    succ, out = _succ(edges, False), []
    if so is not None:
        so = _clip(so, length[source])
    if to is not None:
        to = _clip(to, length[target])
    if source == target:
        if so is None or to is None or not 0 < to - so <= cutoff:
            return []
        return [(to - so, [source], so, to, None)]
    delta = (0.0 if so is None else length[source] - so) + (0.0 if to is None else to)
    inner = cutoff - delta

    def dfs(path, dist):
        tail = path[-1]
        if len(path) > 1:
            if tail == target:
                out.append((dist + delta, path, so, to, None))
                return
            if dist + length[tail] > inner:
                return
            dist += length[tail]
        if tail in sinks:
            return
        for v in succ.get(tail, []):
            if v not in path:
                dfs(path + [v], dist)

    if inner >= 0:
        dfs([source], 0.0)
    return sorted(out, key=lambda p: (p[0], p[1]))


def _bindings_oracle(length, edges, source, cutoff, bindings, offset, sinks, reverse):
    """One direction of ``all_paths_to_bindings`` (no endings) by DFS of
    the bindings.py rules: the same-node fast path, then paths that stop
    at the first binding node past the source, kept when the binding's
    offset cost fits the cutoff."""
    blist = bindings.get(source)
    if offset is not None and blist:
        for t in (reversed(blist) if reverse else blist):
            if (t[1] <= offset) if reverse else (t[0] >= offset):
                dist = offset - t[1] if reverse else t[0] - offset
                so, eo = (t[1], offset) if reverse else (offset, t[0])
                return [(dist, [source], so, eo, (source, t))] if dist <= cutoff else []
    if source in sinks:
        return []
    clipped, init = offset, 0.0
    if offset is not None:
        clipped = _clip(offset, length[source])
        init = clipped if reverse else length[source] - clipped
    succ, out = _succ(edges, reverse), []

    def dfs(path, dist):
        tail = path[-1]
        if dist > cutoff:
            return
        if len(path) > 1 and bindings.get(tail):
            tl = length[tail]
            t = bindings[tail][-1] if reverse else bindings[tail][0]
            c = _clip(t[1] if reverse else t[0], tl)
            total = dist + (tl - c if reverse else c)
            if total <= cutoff:
                if reverse:
                    out.append((total, path[::-1], c, clipped, (tail, t)))
                else:
                    out.append((total, path, clipped, c, (tail, t)))
            return
        if tail in sinks:
            return
        if len(path) > 1:
            dist += length[tail]
        for v in succ.get(tail, []):
            if v not in path:
                dfs(path + [v], dist)

    dfs([source], init)
    return sorted(out, key=lambda p: (p[0], p[1]))


def _endings_oracle(length, edges, source, cutoff, bindings, offset, sinks, reverse):
    """One direction of ``all_paths_to_bindings(..., with_endings=True)``
    composed as the reference composes it: the binding paths, then the
    ``all_paths_from`` (forward) or ``all_paths_to`` (backward) paths that
    no binding path prefixes (forward) or suffixes (backward), each with
    a synthetic ``(off, off, None)`` binding at its far end."""
    paths = _bindings_oracle(length, edges, source, cutoff, bindings, offset, sinks, reverse)
    if reverse:
        ends = _paths_to_oracle(length, edges, source, cutoff, offset, sinks)
    else:
        ends = _paths_from_oracle(length, edges, source, cutoff, offset, sinks)
    kept = []
    for dist, nodes, so, eo, _ in ends:
        if any(
            len(p[1]) <= len(nodes)
            and (nodes[len(nodes) - len(p[1]):] if reverse else nodes[: len(p[1])]) == p[1]
            for p in paths
        ):
            continue
        end, off = (nodes[0], so) if reverse else (nodes[-1], eo)
        kept.append((dist, nodes, so, eo, (end, (off, off, None))))
    return paths + kept


_halves = st.integers(0, 8).map(lambda k: k * 0.5)


# Non-dyadic lengths and offsets, where the binding rule (lengths from
# the source's offset cost against the cutoff) and the ending rule
# (lengths from 0 against the cutoff less the offset delta) round apart.
# Source n0 of length 1.2 at offset 0.2: forward, cutoff == delta
# (1.2 - 0.2), so the single-node ending sits beside a zero-cost binding
# at exactly the cutoff; backward, the binding seed 0.2 is not the
# ending delta 1.2 - (1.2 - 0.2).
@example(
    graph=([("n0", 1.2), ("n1", 0.6), ("n2", 0.3), ("n3", 0.9), ("n4", 0.5)],
           [("n0", "n1"), ("n2", "n0"), ("n3", "n2"), ("n4", "n0")]),
    ends=(0, 3), cutoff_k=2, offsets=(0.2, None), sink_picks=[],
    binding_picks=[(1, 0.0, 0.1), (3, 0.5, 0.0)],
)
# Forward from n0 of length 0.8 at offset 0.2, delta = 0.8 - 0.2: via n1
# the ending is truncated (0.9 > 1.5 - delta) while the binding row goes
# on to a kept binding at n2 (delta + 0.9 <= 1.5); via n3 the binding at
# n4 breaks the cutoff (delta + 0.6 + 0.3 > 1.5) while its ending still
# fits (0.6 + 0.3 <= 1.5 - delta) and goes on to n5.
@example(
    graph=([("n0", 0.8), ("n1", 0.9), ("n2", 0.2), ("n3", 0.6), ("n4", 0.3), ("n5", 0.5)],
           [("n0", "n1"), ("n0", "n3"), ("n1", "n2"), ("n3", "n4"), ("n4", "n5")]),
    ends=(0, 5), cutoff_k=3, offsets=(0.2, None), sink_picks=[],
    binding_picks=[(2, 0.0, 0.1), (4, 0.5, 0.0)],
)
# a sink source
@example(
    graph=([("n0", 0.4), ("n1", 0.3), ("n2", 0.6)], [("n0", "n1"), ("n1", "n2"), ("n2", "n0")]),
    ends=(0, 2), cutoff_k=2, offsets=(0.1, None), sink_picks=[0],
    binding_picks=[(1, 0.1, 0.1)],
)
# forward same-node match over the cutoff: no fallthrough, every ending
# is kept
@example(
    graph=([("n0", 2.3), ("n1", 0.7), ("n2", 0.4)], [("n0", "n1"), ("n1", "n2"), ("n2", "n0")]),
    ends=(0, 2), cutoff_k=2, offsets=(0.4, None), sink_picks=[],
    binding_picks=[(0, 2.0, 0.1), (2, 0.1, 0.2)],
)
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    graph=node_weighted_graphs,
    ends=st.tuples(st.integers(0, 5), st.integers(0, 5)),
    cutoff_k=st.integers(0, 16),
    offsets=st.tuples(st.none() | _halves, st.none() | _halves),
    sink_picks=st.lists(st.integers(0, 5), max_size=2),
    binding_picks=st.lists(
        st.tuples(st.integers(0, 5), _halves, _halves), min_size=1, max_size=4
    ),
)
def test_all_paths_match_oracle(
    spark, graph, ends, cutoff_k, offsets, sink_picks, binding_picks
):
    """``all_paths_from``, ``all_paths`` and both directions of
    ``all_paths_to_bindings``, without and with endings, against the DFS
    oracles above, comparing every path's (dist, nodes, start offset, end
    offset, binding) and the result order, at two shuffle-partition
    counts. Both sides are compared at the graph's 3-decimal rounding."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.bindings import all_paths_to_bindings, encode_bindings
    from networkx_graph_spark.operators.paths import all_paths, all_paths_from
    from networkx_graph_spark.rounding import round_half_up
    from networkx_graph_spark.session import kernel_conf

    nodes, edges = graph
    assume(edges)
    length = dict(nodes)
    names = [n for n, _ in nodes]
    source, target = names[ends[0] % len(names)], names[ends[1] % len(names)]
    cutoff = cutoff_k * 0.5
    so, to = offsets
    sinks = sorted({names[i % len(names)] for i in sink_picks})
    raw: dict[str, list] = {}
    for j, (i, lo, hi) in enumerate(binding_picks):
        raw.setdefault(names[i % len(names)], []).append((lo, lo + hi, f"b{j}"))
    bindings = {n: sorted(lst, key=lambda t: (t[0], t[1])) for n, lst in raw.items()}

    def r(v):
        return None if v is None else round_half_up(v, 1000.0)

    def rows(paths):
        out = []
        for p in paths:
            if not isinstance(p, tuple):
                p = (p.dist, p.nodes, p.start_offset, p.end_offset, p.binding)
            dist, nodes, start, end, b = p
            if b is not None and b[1][2] is None:  # synthetic ending binding
                b = (b[0], (r(b[1][0]), r(b[1][1]), None))
            out.append((r(dist), nodes, r(start), r(end), b))
        return out

    want_from = rows(_paths_from_oracle(length, edges, source, cutoff, so, sinks))
    want_p2p = rows(_paths_to_target_oracle(length, edges, source, target, cutoff, so, to, sinks))
    want_b = [
        rows(_bindings_oracle(length, edges, source, cutoff, bindings, so, sinks, rev))
        for rev in (True, False)
    ]
    want_e = [
        rows(_endings_oracle(length, edges, source, cutoff, bindings, so, sinks, rev))
        for rev in (True, False)
    ]
    for parts in ("1", "3"):
        with kernel_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            g = SparkDiGraph.from_lists(spark, nodes, edges)
            got_from = all_paths_from(g, source, cutoff, offset=so, sinks=sinks)
            assert rows(got_from) == want_from, parts
            got_p2p = all_paths(g, source, target, cutoff, so, to, sinks=sinks)
            assert rows(got_p2p) == want_p2p, parts
            b = encode_bindings(g, raw)
            got_b = all_paths_to_bindings(g, source, cutoff, b, offset=so, sinks=sinks)
            assert [rows(d) for d in got_b] == want_b, parts
            got_e = all_paths_to_bindings(
                g, source, cutoff, b, offset=so, sinks=sinks, with_endings=True
            )
            assert [rows(d) for d in got_e] == want_e, parts
            g.unpersist()


def _first_binding_oracle(length, edges, ids, source, offset, cutoff, bindings, sinks, reverse):
    """One direction of one ``shortest_path_to_bindings`` answer by the
    bindings.py rules, as ``(dist, nodes, start offset, end offset,
    binding)`` or None: the same-node fast path; else a node-length
    fixpoint from the source's successors at the raw offset cost, with the
    kernel's ``(dist, prev_dist, prev)`` tie-break, in which sinks and
    binding nodes other than the source never relax out; then Dijkstra's
    first pop, ``argmin (dist, node id)`` over the binding nodes past the
    source within the cutoff, which answers None when its offset cost
    breaks the cutoff (no fallthrough to the next one)."""
    blist = bindings.get(source)
    if offset is not None and blist:
        for t in (reversed(blist) if reverse else blist):
            if (t[1] <= offset) if reverse else (t[0] >= offset):
                dist = offset - t[1] if reverse else t[0] - offset
                so, eo = (t[1], offset) if reverse else (offset, t[0])
                return (dist, [source], so, eo, (source, t)) if dist <= cutoff else None
    if source in sinks:
        return None
    init = 0.0
    if offset is not None:
        init = offset if reverse else length[source] - offset
    succ = _succ(edges, reverse)
    barrier = (set(sinks) | set(bindings)) - {source}
    best = {b: (init, NEG_INF, ids[source], source) for b in succ.get(source, [])}
    changed = True
    while changed:
        changed = False
        for a in sorted(best):
            if a in barrier or best[a][0] + length[a] > cutoff:
                continue
            da = best[a][0]
            cand = (da + length[a], da, ids[a], a)
            for b in succ.get(a, []):
                if b not in best or cand < best[b]:
                    best[b] = cand
                    changed = True
    reached = [(best[n][0], ids[n], n) for n in best if n in bindings and n != source]
    reached = [r for r in reached if r[0] <= cutoff]
    if not reached:
        return None
    dist, _, u = min(reached)
    t = bindings[u][-1] if reverse else bindings[u][0]
    c = _clip(t[1] if reverse else t[0], length[u])
    total = dist + (length[u] - c if reverse else c)
    if total > cutoff:
        return None
    chain = [u]
    while chain[-1] != source and best[chain[-1]][3] not in chain:
        chain.append(best[chain[-1]][3])
    if reverse:
        return total, chain, c, offset, (u, t)
    return total, chain[::-1], offset, c, (u, t)


# _LOOP with bindings on n0 and n3: the n0 query walks the cycle back to
# its own binding source (never its answer, never its barrier) and on to
# n3; for the n1 query n0 is a binding node of another query's source.
@example(
    graph=_LOOP, starts=[(0, None), (1, None)], cutoff_k=12, sink_picks=[],
    binding_picks=[(0, 0.5, 0.5), (3, 0.0, 0.5)],
)
@example(
    graph=_LOOP, starts=[(0, 2.0), (2, 0.5), (1, None)], cutoff_k=8, sink_picks=[3],
    binding_picks=[(0, 0.5, 0.0), (2, 0.0, 1.0)],
)
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    graph=node_weighted_graphs,
    starts=st.lists(st.tuples(st.integers(0, 5), st.none() | _halves), min_size=2, max_size=3),
    cutoff_k=st.integers(0, 16),
    sink_picks=st.lists(st.integers(0, 5), max_size=2),
    binding_picks=st.lists(
        st.tuples(st.integers(0, 5), _halves, _halves), min_size=1, max_size=4
    ),
)
def test_shortest_to_bindings_match_oracle(
    spark, graph, starts, cutoff_k, sink_picks, binding_picks
):
    """A ``shortest_path_to_bindings_pairs`` batch in both directions
    against ``_first_binding_oracle``, comparing every answer's (dist,
    nodes, start offset, end offset, binding), at two shuffle-partition
    counts. Offsets may exceed a node's length: the graph search seeds at
    the raw offset."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.bindings import (
        encode_bindings,
        shortest_path_to_bindings_pairs,
    )
    from networkx_graph_spark.session import kernel_conf

    nodes, edges = graph
    assume(edges)
    length = dict(nodes)
    names = [n for n, _ in nodes]
    queries = [(names[i % len(names)], off) for i, off in starts]
    cutoff = cutoff_k * 0.5
    sinks = sorted({names[i % len(names)] for i in sink_picks})
    raw: dict[str, list] = {}
    for j, (i, lo, hi) in enumerate(binding_picks):
        raw.setdefault(names[i % len(names)], []).append((lo, lo + hi, f"b{j}"))
    bindings = {n: sorted(lst, key=lambda t: (t[0], t[1])) for n, lst in raw.items()}

    def row(p):
        return None if p is None else (p.dist, p.nodes, p.start_offset, p.end_offset, p.binding)

    for parts in ("1", "3"):
        with kernel_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            g = SparkDiGraph.from_lists(spark, nodes, edges)
            ids = {n: g.node_id(n) for n in names}
            got = shortest_path_to_bindings_pairs(
                g, queries, cutoff, encode_bindings(g, raw), direction=0, sinks=sinks
            )
            for (source, off), (bwd, fwd) in zip(queries, got):
                want = [
                    _first_binding_oracle(
                        length, edges, ids, source, off, cutoff, bindings, sinks, rev
                    )
                    for rev in (True, False)
                ]
                assert [row(bwd), row(fwd)] == want, (parts, source, off)
            g.unpersist()
