"""Bounded multi-source shortest-path kernel + the reference query surface.

The reference kernel is a sequential Fibonacci-heap Dijkstra
(/root/reference/src/main.cpp:1101-1165). Heap ordering is a sequential
optimization only — a label-correcting (Bellman-Ford-style) frontier
iteration converges to the *identical* distance map, so the Spark-native
kernel is a superstep loop of

    frontier ⋈ edges_w  →  min-merge into state  →  new frontier

over a state DataFrame ``(qid, node, dist, prev, prev_dist)``. ``qid``
makes the kernel *multi-query from the start*: a batch of point/SSSP
queries (or the UBODT build, which seeds every vertex) advances in one
Spark job instead of |Q| sequential Dijkstras — this is where the Spark
design beats the reference's (stubbed) parallelism
(/root/reference/src/main.cpp:990-994).

Exact-match semantics replicated:

- cost model: relaxing out of ``u`` adds ``length(u)`` — interior nodes
  only; successors of the start are seeded at ``init_offset``
  (/root/reference/src/main.cpp:1118-1126, :1141-1143);
- cutoff: new nodes only admitted when ``dist <= cutoff``
  (/root/reference/src/main.cpp:1156); *seeds are exempt* (inserted
  unconditionally, /root/reference/src/main.cpp:1186-1190);
- sinks: you may arrive at a sink but never relax out of it
  (/root/reference/src/main.cpp:1120, :1134-1135);
- tie-break: Dijkstra keeps the first setter under heap order
  (value-then-index, /root/reference/src/heap.hpp:551-561), i.e. the
  predecessor minimizing ``(dist(prev), prev)`` among minimal-dist ones.
  We reproduce it deterministically with a lexicographic min over the
  struct ``(dist, prev_dist, prev)``; seeds carry ``prev_dist = -inf`` so
  they win ties like Dijkstra's pre-loop insertion.

Convergence is Pregel's vote to halt: a superstep relaxes only its
frontier rows (``_new``, not a sink and, for a p2p query, not above the
query's best target distance), and it observes ``live``, the rows of its
new state that its own frontier filter keeps. The next superstep's prune
bound is never looser, so ``live == 0`` proves that the next superstep
sends nothing, and the loop stops there, where the reference stops on
the target's pop, instead of one superstep later on a superstep that
improves nothing. With no targets and no sinks (single-source SSSP, the
UBODT build) ``live`` is the improved-row count ``cnt``.

Scale notes: state and frontier are hash-partitioned on the join key;
``edges_w`` is pre-partitioned by ``src`` (graph build) so a sort-merge
superstep join reuses its exchange, and below
``spark.sql.autoBroadcastJoinThreshold`` the join broadcasts ``edges_w``
instead; every superstep ``localCheckpoint``s to truncate lineage. A
query batch is driver data: its sources are one Arrow ``LocalRelation``
(``session.local_df``), broadcast once into the seed join
(``source_seeds``), and its cutoffs, sinks, p2p targets and prune
bounds enter each superstep as plan literals in SQL text (``_by_qid``,
``_literal_in``), so a superstep neither scans nor broadcasts a
driver-built table and starts no Python worker. The supersteps run
with AQE off (``session.KERNEL_CONF``): a superstep moves a few hundred
rows, and under AQE each of its shuffle stages runs as its own Spark job.
Hub vertices need no skew-join split, because the min-merge aggregation
is map-side partial.

Paths are read off the converged state on the driver (``walk_chains``),
the way the reference walks its predecessor map (its ``main.cpp``,
lines 3022-3060).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Iterable, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..graph import SparkDiGraph
from ..plans.supersteps import SuperstepResult, SuperstepRunner, _free_checkpoint
from ..rounding import clip, round_half_up
from ..session import KERNEL_CONF, kernel_conf, local_df
from .relax import min_label_merge

NEG_INF = float("-inf")

STATE_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType(), False),
        T.StructField("node", T.LongType(), False),
        T.StructField("dist", T.DoubleType(), False),
        T.StructField("prev", T.LongType(), False),
        T.StructField("prev_dist", T.DoubleType(), False),
    ]
)


def bounded_sssp(
    spark: SparkSession,
    edges_w: DataFrame,
    seeds: DataFrame,
    cutoffs: Union[float, Mapping[int, float]],
    sinks: Optional[Iterable[int]] = None,
    max_iter: int = 10_000,
    payload_cols: Sequence[str] = (),
    targets: Optional[Iterable[tuple[int, int]]] = None,
    runner=None,
    name: str = "sssp",
    resume: bool = False,
) -> DataFrame:
    """Run the label-correcting relaxation to fixpoint.

    Parameters
    ----------
    edges_w : (src, dst, weight) — weight = length of the node relaxed out of
    seeds   : (qid, node, dist, prev, prev_dist [, payload...]) — cutoff-exempt
    cutoffs : admission bound, one float for every query or ``{qid: cutoff}``
        (a mapping with one distinct value is that float)
    sinks   : node ids or None — arrive-only barrier nodes of every query
    payload_cols : extra seed columns carried along winning paths (e.g. the
        UBODT ``first_hop``); they ride behind the tie-break key.
    targets : ``(qid, node)`` pairs or None — p2p early termination
        (/root/reference/src/main.cpp:1198-1200 stops when the target pops).
        Once a query's target holds dist ``t``, frontier rows of that query
        with ``dist > t`` are pruned: weights are non-negative, so they can
        only produce labels ≥ their own dist — never a better target label,
        and never a better label on the winning chain (whose prefixes all
        sit strictly below ``t``). Rows at exactly ``t`` follow one of two
        tie rules:

        - here they keep expanding (``dist <= t``), so a zero weight cannot
          change the lexicographic (dist, prev_dist, prev) tie-break;
        - ``shortest_paths_pairs`` and the bindings search prune them too
          (``dist < t``) on a graph with no zero-length node
          (``SparkDiGraph.min_length > 0``): such a row sends only labels
          above ``t``, which change neither a target's label nor a label
          of the rows up to ``t`` that ``walk_chains`` reads.

        A query may have several targets; ``t`` is the least of them.
        Only the chains of targets at ``t`` are guaranteed final — p2p
        callers only.

    Returns the converged state (qid, node, dist, prev, prev_dist [, payload]).

    Job budget: one checkpoint action per superstep, plus one broadcast
    job whenever ``edges_w`` is under ``spark.sql.autoBroadcastJoinThreshold``
    and the superstep joins it as a ``BroadcastHashJoin``: a point query
    is 2 init jobs (seed broadcast and checkpoint), 2 per superstep and 1
    chain collect. With broadcast joins off, perfbench's road_paths ran 6
    jobs per query instead of 9 (3 supersteps) in the same wall time, so
    the plan keeps them. The state carries a ``_new`` frontier flag; the improved-row
    count ``cnt``, the live-row count ``live`` (the convergence key, see
    the module docstring) and the target hits (p2p early termination) are
    ``Observation`` metrics collected as side effects of the single state
    checkpoint action — no separate ``isEmpty``/frontier
    checkpoint/target ``collect`` jobs (the same pattern as the PageRank
    and CC kernels). ``hits`` lists every target row of the new state (not
    only improved ones) as ``(qid, node, dist)``, so the previous record
    alone gives each query's best target distance ``tbest`` (the min over
    its rows). The cutoffs, sinks, targets and the prune bound built from
    ``tbest`` are plan literals, so none costs a scan or a broadcast job.

    Durability (north rule): pass a ``SuperstepRunner`` with a
    ``checkpoint_dir`` (optionally ``bucket_cols=["qid", "node"]`` for
    co-partitioned bucketed checkpoints) plus ``name``/``resume`` to make
    long fixpoints — the UBODT build seeds EVERY vertex — resumable
    mid-iteration with per-superstep metrics/lineage; on resume ``tbest``
    comes from the reloaded record of the checkpointed superstep.
    """
    return _run_sssp(
        spark, edges_w, seeds, cutoffs, sinks, max_iter, payload_cols,
        None if targets is None else _literal_in("(qid, node)", targets),
        runner, name, resume,
    ).state


def _run_sssp(
    spark: SparkSession,
    edges_w: DataFrame,
    seeds: DataFrame,
    cutoffs: Union[float, Mapping[int, float]],
    sinks: Optional[Iterable[int]] = None,
    max_iter: int = 10_000,
    payload_cols: Sequence[str] = (),
    is_target: Optional[Column] = None,
    runner=None,
    name: str = "sssp",
    resume: bool = False,
    strict: bool = False,
) -> SuperstepResult:
    """``bounded_sssp`` returning the runner's result: the converged state
    (projected to the state columns) plus the per-superstep records, whose
    last ``hits`` are the final target rows. ``is_target`` is the target
    test as one Column over the state's ``qid`` and ``node``. ``strict``
    prunes frontier rows at exactly the best target distance too, which
    is exact only when every edge weight is positive (see
    ``bounded_sssp``'s ``targets``)."""
    pl = list(payload_cols)
    # payload names must be disjoint from the edge columns (the hoisted
    # name-resolved message projection below) and from the state columns
    _reserved = {"src", "dst", "weight", "qid", "node", "dist", "prev", "prev_dist", "_new"}
    if _reserved & set(pl):
        raise ValueError(f"payload_cols may not use reserved names {sorted(_reserved)}")
    key = ["dist", "prev_dist", "prev", *pl]
    cols = ["qid", "node", "dist", "prev", "prev_dist", *pl]
    runner = runner or SuperstepRunner(spark)
    init = seeds.select(*cols, F.lit(True).alias("_new"))

    # Loop-invariant plan fragments, built once (same driver-latency lever
    # as the PageRank kernel: Column expressions are immutable and resolve
    # by name, so rebuilding them per superstep only pays py4j/Catalyst
    # construction time again). Names are unambiguous in every join below
    # (state: qid/node/dist/prev/prev_dist/payload; edges: src/dst/weight).
    _new, _qid, _dist = F.col("_new"), F.col("qid"), F.col("dist")
    if isinstance(cutoffs, Mapping) and len(set(cutoffs.values())) == 1:
        cutoffs = next(iter(cutoffs.values()))
    bound = _by_qid(cutoffs) if isinstance(cutoffs, Mapping) else F.lit(float(cutoffs))
    # the cutoff is part of the edge join's condition
    _msg_jcond = (F.col("node") == F.col("src")) & (_dist + F.col("weight") <= bound)
    _msg_proj = (
        _qid,
        F.col("dst").alias("node"),
        (_dist + F.col("weight")).alias("dist"),
        F.col("src").alias("prev"),
        _dist.alias("prev_dist"),
        *[F.col(c) for c in pl],
    )
    _front = _new
    sinks = list(sinks or ())
    if sinks:  # sinks are reached but never relax out
        _front = _new & ~_literal_in("node", sinks)
    _merge = min_label_merge(["qid", "node"], key)
    _hits_metric = None
    if is_target is not None:
        _hits_metric = F.collect_list(F.when(is_target, F.struct(_qid, F.col("node"), _dist)))

    def step(state: DataFrame, i: int, prev):
        # the previous record's hits are every target row of ``state``;
        # the seed frontier (i == 0) has no record, so it is never pruned
        # (parity with pre-loop insertion)
        tbest: dict[int, float] = {}
        for h in (prev or {}).get("hits", ()):
            q, d = h["qid"], h["dist"]
            if q not in tbest or d < tbest[q]:
                tbest[q] = d
        keep = _front
        if tbest:
            # prune frontier rows above their query's best target distance
            # (reference first-pop semantics, see docstring)
            t = F.coalesce(_by_qid(tbest), F.lit(float("inf")))
            keep = keep & ((_dist < t) if strict else (_dist <= t))
        msgs = state.filter(keep).join(edges_w, _msg_jcond).select(*_msg_proj)
        new_state, metrics = _merge(state, msgs)
        # the new state's rows that this superstep's frontier filter keeps:
        # the next bound is never looser, so none left means the next
        # superstep sends nothing (vote to halt)
        metrics["live"] = F.coalesce(F.sum(keep.cast("long")), F.lit(0))
        if _hits_metric is not None:
            metrics["hits"] = _hits_metric
        return new_state, metrics

    with kernel_conf(spark, KERNEL_CONF["sssp"]):
        result = runner.run(
            name, init, step, max_iter=max_iter, converged_key="live", tol=0, resume=resume
        )
    return replace(result, state=result.state.select(*cols))


def source_seeds(edges_w: DataFrame, sources: DataFrame) -> DataFrame:
    """Seed rows of ``bounded_sssp``: every successor of each query's
    source at the query's initial offset, cutoff-exempt
    (/root/reference/src/main.cpp:1118-1126, :1186-1190).

    sources : (qid, sid, ioff) — a small driver table, broadcast into the
        edge join, so even a hub source's fan-out never reaches the driver.
    """
    return (
        F.broadcast(sources)
        .join(edges_w, F.col("sid") == edges_w["src"])
        .select(
            "qid",
            edges_w["dst"].alias("node"),
            F.col("ioff").alias("dist"),
            F.col("sid").alias("prev"),
            F.lit(NEG_INF).alias("prev_dist"),
        )
    )


def _by_qid(values: Mapping[int, Union[int, float]], key: str = "qid") -> Column:
    """``values[key]`` (null if absent) from one literal map in SQL text:
    one py4j call, where ``create_map`` over ``F.lit``s makes three per
    entry (500 entries: ~0.9 s vs ~1 ms, 4-vCPU host). Int values are
    longs, others doubles; ``repr`` round-trips doubles."""
    entries = ", ".join(
        f"{q}L, {v!r}{'L' if isinstance(v, int) else 'D'}" for q, v in values.items()
    )
    return F.expr(f"map({entries})[{key}]")


def _literal_in(expr: str, values: Iterable) -> Column:
    """``expr IN (values)`` from one literal set in SQL text, where
    ``Column.isin`` makes one py4j literal per value. Values are ids, or
    tuples of ids matched against a parenthesized ``expr``; past ten values
    the optimizer makes the ``In`` a hash-set lookup. An empty set is
    false."""
    lits = [
        f"({', '.join(f'{x}L' for x in v)})" if isinstance(v, tuple) else f"{v}L"
        for v in values
    ]
    return F.expr(f"{expr} IN ({', '.join(lits)})") if lits else F.lit(False)


def _chain(prev_of: dict[int, int], end: int, start: int) -> list[int]:
    """``[end, ..., start]`` along ``prev_of``. The walk also stops at a
    node without a predecessor and before a node already on the chain
    (zero-length nodes can tie into a predecessor cycle)."""
    chain, seen = [end], {end}
    while chain[-1] != start:
        p = prev_of.get(chain[-1])
        if p is None or p in seen:
            break
        chain.append(p)
        seen.add(p)
    return chain


def walk_chains(
    state: DataFrame, ends: dict[int, tuple[int, int, float]]
) -> dict[int, list[int]]:
    """Predecessor chains of a converged state, walked on the driver.

    state : (qid, node, dist, prev, ...) — converged SSSP state
    ends  : {qid: (start, end, dist of end)}

    Returns ``{qid: [end, ..., start]}`` (prev order; callers reverse for
    forward paths). One job collects ``(qid, node, prev)`` for the rows
    with ``dist`` ≤ their query's end distance: lengths are non-negative
    and ``dist(v) = dist(prev) + length(prev)``, so every ancestor of the
    end is among them. They are the Dijkstra-settled set the reference
    holds in memory too. The bounds are a literal map in the filter, not
    a joined table, whose broadcast would cost a second job.
    """
    bound = _by_qid({q: d for q, (_, _, d) in ends.items()})
    prev_of: dict[int, dict[int, int]] = {q: {} for q in ends}
    for q, node, prev in (
        state.filter(F.col("dist") <= bound).select("qid", "node", "prev").collect()
    ):
        prev_of[q][node] = prev
    return {q: _chain(prev_of[q], end, start) for q, (start, end, _) in ends.items()}


# --------------------------------------------------------------------------
# Reference query surface (single-query convenience over the batch kernel)
# --------------------------------------------------------------------------


@dataclass
class PathResult:
    """Mirror of the reference ``Path`` (/root/reference/src/main.cpp:181-209)."""

    dist: float
    nodes: list[str]
    start_offset: Optional[float] = None
    end_offset: Optional[float] = None
    binding: Optional[tuple] = None
    directions: Optional[list[int]] = None  # zigzag only
    graph: Optional["SparkDiGraph"] = field(default=None, repr=False, compare=False)

    _FIELDS = (
        "dist", "nodes", "start_offset", "end_offset", "binding",
        "directions", "graph",
    )
    # readonly keys per the reference __setitem__ guard
    # (/root/reference/src/main.cpp:2513-2523)
    _RESERVED = ("graph", "dist", "nodes", "_signature", "start", "end", "binding")

    @property
    def _signature(self) -> tuple:
        """(internal node indexes, start_offset, end_offset) — the
        reference Path._signature (/root/reference/src/main.cpp:2437-2443)
        exposes the Indexer's int64 ids, not the string names."""
        if self.graph is None:
            raise RuntimeError(
                "PathResult has no graph attached (_signature needs the "
                "Indexer to map names back to internal ids)"
            )
        return (
            tuple(self.graph.node_id(n) for n in self.nodes),
            self.start_offset,
            self.end_offset,
        )

    def with_graph(self, graph) -> "PathResult":
        self.graph = graph
        return self

    def __getitem__(self, key: str):
        """Attr-by-name access (/root/reference/src/main.cpp:2474-2510);
        unknown keys raise KeyError like the reference's py::key_error."""
        if key == "dist":
            return self.dist
        if key == "nodes":
            return list(self.nodes)
        if key == "_signature":
            return self._signature
        if key == "start":
            return (self.nodes[0], self.start_offset)
        if key == "end":
            return (self.nodes[-1], self.end_offset)
        if key == "binding":
            return self.binding
        if key == "graph":
            # reference fallthrough: ``Path.graph`` is a readonly property,
            # so py::hasattr finds it (/root/reference/src/main.cpp:2503-2509)
            return self.graph
        if key in self.__dict__ and key not in self._FIELDS:
            return self.__dict__[key]
        if (
            not key.startswith("_")
            and key not in self._FIELDS
            and hasattr(type(self), key)
        ):
            # same hasattr fallthrough for public methods (e.g. 'to_dict');
            # start/end offsets stay hidden — the reference Path exposes no
            # such attributes (_FIELDS exclusion)
            return getattr(self, key)
        raise KeyError(f"attribute:{key} not found")

    def __setitem__(self, key: str, value):
        if key in self._RESERVED:
            raise KeyError(f"{key} is readonly")
        setattr(self, key, value)
        return value

    def to_dict(self) -> dict:
        d = {
            "dist": self.dist,
            "nodes": list(self.nodes),
            "start": (self.nodes[0], self.start_offset),
            "end": (self.nodes[-1], self.end_offset),
        }
        if self.binding is not None:
            d["binding"] = self.binding
        if self.directions is not None:
            d["directions"] = list(self.directions)
        # dynamic attrs (reference py::dynamic_attr parity,
        # /root/reference/tests/test_basic.py:1291-1292)
        for k, v in self.__dict__.items():
            if k not in self._FIELDS and not k.startswith("_"):
                d[k] = v
        return d

    def round(self, scale: Optional[float]) -> "PathResult":
        if scale is not None:
            self.dist = round_half_up(self.dist, scale)
            if self.start_offset is not None:
                self.start_offset = round_half_up(self.start_offset, scale)
            if self.end_offset is not None:
                self.end_offset = round_half_up(self.end_offset, scale)
        return self


@dataclass
class ShortestPathGen:
    """Spark-side mirror of ``ShortestPathGenerator``
    (/root/reference/src/main.cpp:2843-3061): the converged SSSP state is
    the generator's (prevs, dists) 'IR'; destinations/paths/path are cheap
    derived queries over it."""

    graph: SparkDiGraph
    state: Optional[DataFrame]  # converged (qid=0) state; None if not ready
    cutoff: float = 0.0
    source: Optional[tuple[str, Optional[float]]] = None  # (node, raw offset)
    target: Optional[tuple[str, Optional[float]]] = None
    start_id: Optional[int] = None
    _dist_of: Optional[dict[int, float]] = field(default=None, repr=False)
    _prev_of: Optional[dict[int, int]] = field(default=None, repr=False)

    def _collect(self) -> tuple[dict[int, float], dict[int, int]]:
        """(dist, prev) maps by node of the converged state, collected and
        built once."""
        if self._prev_of is None:
            rows = [] if self.state is None else self.state.collect()
            self._dist_of = {r["node"]: r["dist"] for r in rows}
            self._prev_of = {r["node"]: r["prev"] for r in rows}
        return self._dist_of, self._prev_of

    def dists_df(self) -> DataFrame:
        """(node BIGINT, dist DOUBLE) excluding the start (the reference
        erases it, /root/reference/src/main.cpp:1164)."""
        if self.state is None:
            return local_df(self.graph.spark, [], "node long, dist double")
        return self.state.filter(F.col("node") != self.start_id).select("node", "dist")

    def prevs_df(self) -> DataFrame:
        if self.state is None:
            return local_df(self.graph.spark, [], "node long, prev long")
        return self.state.select("node", "prev")

    def dists(self) -> dict[str, float]:
        nm = self.graph.names_map
        return {nm[n]: d for n, d in self._collect()[0].items() if n != self.start_id}

    def prevs(self) -> dict[str, str]:
        nm = self.graph.names_map
        return {nm[n]: nm[p] for n, p in self._collect()[1].items()}

    def destinations(self) -> list[tuple[float, str]]:
        """Sorted (dist, node) — tuple sort, so ties break on the node
        string (/root/reference/src/main.cpp:2912-2928). No rounding (the
        reference returns raw dmap values here)."""
        return sorted((d, n) for n, d in self.dists().items())

    def to_dict(self) -> dict:
        """Generator summary (/root/reference/tests/test_basic.py:681,
        :698, :834): {'cutoff': ..., 'source'|'target': (node, offset)}."""
        d: dict = {"cutoff": self.cutoff}
        if self.source is not None:
            d["source"] = self.source
        if self.target is not None:
            d["target"] = self.target
        return d

    def source_info(self):
        """source() accessor (/root/reference/src/main.cpp:2882-2896)."""
        return self.source

    def target_info(self):
        return self.target

    def _single_node_path(self) -> list[PathResult]:
        """Empty-prevs special case (/root/reference/src/main.cpp:2938-2976)."""
        scale = self.graph.scale
        if self.source is not None and self.source[1] is not None:
            node, off = self.source
            length = self.graph.lengths_map[self.start_id]
            so = clip(0.0, off, length)
            eo = clip(0.0, so + self.cutoff, length)
            if so < eo:
                return [PathResult(eo - so, [node], so, eo).round(scale).with_graph(self.graph)]
        elif self.target is not None and self.target[1] is not None:
            node, off = self.target
            length = self.graph.lengths_map[self.start_id]
            eo = clip(0.0, off, length)
            so = clip(0.0, eo - self.cutoff, length)
            if so < eo:
                return [PathResult(eo - so, [node], so, eo).round(scale).with_graph(self.graph)]
        return []

    def _decorate(self, end_id: int, chain_ids: list[int]) -> PathResult:
        """Shared path decoration (/root/reference/src/main.cpp:2989-3012)."""
        lm, nm = self.graph.lengths_map, self.graph.names_map
        dist = self._collect()[0][end_id]
        length = lm[end_id]
        p_dist = min(self.cutoff, dist + length)
        if self.source is not None:
            nodes = list(reversed(chain_ids))
            so = self.source[1]
            eo = clip(0.0, self.cutoff - dist, length)
        else:
            nodes = chain_ids  # [end .. target], forward order toward target
            so = clip(0.0, length - (self.cutoff - dist), length)
            eo = self.target[1]
        return PathResult(
            p_dist, [nm[i] for i in nodes], so, eo
        ).round(self.graph.scale).with_graph(self.graph)

    def paths(self) -> list[PathResult]:
        """All leaf paths, each extended to the cutoff
        (/root/reference/src/main.cpp:2930-3018). Sorted by dist
        descending; ties canonicalized by node list (the reference's tie
        order is unordered_set iteration order — unspecified)."""
        prev_of = self._collect()[1]
        if not prev_of:
            return self._single_node_path()
        non_leaves = set(prev_of.values())
        ends = [n for n in prev_of if n not in non_leaves]
        out = [self._decorate(end, _chain(prev_of, end, self.start_id)) for end in ends]
        out.sort(key=lambda p: (-p.dist, p.nodes))
        return out

    def path(self, node: str) -> Optional[PathResult]:
        """Single backtrace (/root/reference/src/main.cpp:3022-3060)."""
        nid = self.graph.node_id(node)
        prev_of = self._collect()[1]
        if nid is None or nid not in prev_of:
            return None
        return self._decorate(nid, _chain(prev_of, nid, self.start_id))


def shortest_paths(
    graph: SparkDiGraph,
    start: str,
    cutoff: float,
    offset: Optional[float] = None,
    reverse: bool = False,
    sinks: Optional[Sequence[str]] = None,
) -> ShortestPathGen:
    """SSSP-tree generator — ``shortest_paths_from``/``_to``
    (/root/reference/src/main.cpp:655-693)."""
    gen = ShortestPathGen(
        graph,
        None,
        cutoff=cutoff,
        source=None if reverse else (start, offset),
        target=(start, offset) if reverse else None,
    )
    if cutoff < 0:
        return ShortestPathGen(graph, None)  # not ready at all
    sid = graph.node_id(start)
    # targeted single-vertex lookup — building the full |V|-row driver map
    # here cost a count + toPandas per fresh-graph call (the maps still
    # build lazily for the decoration accessors that genuinely need them)
    length = graph.vertex_length(sid)
    if sid is None or length is None:
        return ShortestPathGen(graph, None)
    gen.start_id = sid
    init_offset = 0.0
    if offset is not None:
        o = clip(0.0, offset, length)
        init_offset = o if reverse else length - o
    if cutoff < init_offset:
        return gen  # kernel skipped (/root/reference/src/main.cpp:1111-1113)
    edges_w = graph.edges_w_rev if reverse else graph.edges_w
    sink_ids = {graph.node_id(s) for s in sinks or ()} - {None}
    if sid in sink_ids:
        return gen  # start is a sink: no seeds (/root/reference/src/main.cpp:1120)
    spark = graph.spark
    # a source with no successors (/root/reference/src/main.cpp:1114-1117)
    # yields an empty seed set, which the kernel converges on immediately
    # and every accessor reads as the same empty result
    seeds = source_seeds(
        edges_w, local_df(spark, [(0, sid, float(init_offset))], "qid long, sid long, ioff double")
    )
    state = bounded_sssp(spark, edges_w, seeds, float(cutoff), sink_ids)
    gen.state = state.drop("qid")
    return gen


def shortest_path(
    graph: SparkDiGraph,
    source: str,
    target: str,
    cutoff: float,
    source_offset: Optional[float] = None,
    target_offset: Optional[float] = None,
    sinks: Optional[Sequence[str]] = None,
    endpoints=None,
) -> Optional[PathResult]:
    """Point-to-point shortest path (/root/reference/src/main.cpp:547-620).

    Offsets fold into a ``delta`` added after the kernel (source
    contributes ``length(source) - source_offset``, target contributes
    ``target_offset``, /root/reference/src/main.cpp:599-611). Same-node
    special cases per /root/reference/src/main.cpp:585-597.

    ``endpoints``: accepted for API parity with the reference's A* path
    (/root/reference/src/main.cpp:606-609). A* is a heap-ordering
    optimization whose result equals Dijkstra's; the fixpoint kernel has
    no heap, so endpoints do not change results (see operators/astar.py
    for the heuristic surface and the optional pruning rationale).

    Delegates to ``shortest_paths_pairs`` (a batch of one): seeding and
    the kernel are join-based and distributed — no driver-side successor
    collect even for a hub source — and the path is walked on the driver
    from the converged state's rows up to the target's distance.
    """
    return shortest_paths_pairs(
        graph,
        [(source, target, cutoff, source_offset, target_offset)],
        sinks=sinks,
    )[0]


def shortest_paths_pairs(
    graph: SparkDiGraph,
    pairs: Sequence[tuple],
    sinks: Optional[Sequence[str]] = None,
) -> dict[int, Optional[PathResult]]:
    """Batched point-to-point queries: ONE kernel run advances every pair.

    ``pairs``: [(source, target, cutoff, source_offset?, target_offset?)]
    -> {index: PathResult|None}, each entry exactly equal to the
    corresponding single ``shortest_path`` call. This is the
    scale-intended API (the single-pair wrapper exists for reference
    parity): seeds for all queries are built with one edges join, the
    label-correcting kernel relaxes all qids together, and one collect of
    the rows up to each target's distance feeds every path walk
    (``walk_chains``). The cutoffs, sinks and target pairs reach the
    kernel as plan literals.
    """
    lm = graph.lengths_map
    nm = graph.names_map
    scale = graph.scale
    results: dict[int, Optional[PathResult]] = {}
    live: list[tuple[int, int, int]] = []  # qid, sid, tid
    cutoffs: dict[int, float] = {}  # qid -> cutoff less delta
    meta: dict[int, tuple] = {}
    sink_ids = {graph.node_id(s) for s in (sinks or [])} - {None}

    for qid, p in enumerate(pairs):
        source, target, cutoff = p[0], p[1], p[2]
        source_offset = p[3] if len(p) > 3 else None
        target_offset = p[4] if len(p) > 4 else None
        results[qid] = None
        if cutoff < 0:
            continue
        sid, tid = graph.node_id(source), graph.node_id(target)
        if sid is None or tid is None or sid not in lm or tid not in lm:
            continue
        if source_offset is not None:
            source_offset = clip(0.0, source_offset, lm[sid])
        if target_offset is not None:
            target_offset = clip(0.0, target_offset, lm[tid])
        if sid == tid:
            if source_offset is None and target_offset is None:
                results[qid] = PathResult(0.0, [nm[sid]]).round(scale).with_graph(graph)
            elif source_offset is not None and target_offset is not None:
                dist = target_offset - source_offset
                if 0 <= dist <= cutoff:
                    results[qid] = PathResult(
                        dist, [nm[sid]], source_offset, target_offset
                    ).round(scale).with_graph(graph)
            continue
        if sid in sink_ids:
            continue
        delta = 0.0
        if source_offset is not None:
            delta += lm[sid] - source_offset
        if target_offset is not None:
            delta += target_offset
        live.append((qid, sid, tid))
        cutoffs[qid] = float(cutoff - delta)
        meta[qid] = (source_offset, target_offset, delta)

    if not live:
        return results
    spark = graph.spark
    seeds = source_seeds(
        graph.edges_w,
        local_df(spark, [(q, s, 0.0) for q, s, _ in live], "qid long, sid long, ioff double"),
    )
    result = _run_sssp(
        spark, graph.edges_w, seeds, cutoffs, sink_ids,
        is_target=_literal_in("(qid, node)", [(q, t) for q, _, t in live]),
        strict=graph.min_length > 0,
    )
    # the last superstep's hits are the converged state's target rows
    hit_rows = {h["qid"]: h["dist"] for h in result.metrics[-1]["hits"]}
    chains = {}
    if hit_rows:
        chains = walk_chains(
            result.state, {q: (s, t, hit_rows[q]) for q, s, t in live if q in hit_rows}
        )
    _free_checkpoint(result.state)
    for qid, chain in chains.items():
        so, to, delta = meta[qid]
        nodes = [nm[i] for i in reversed(chain)]
        results[qid] = PathResult(
            hit_rows[qid] + delta, nodes, so, to
        ).round(scale).with_graph(graph)
    return results
