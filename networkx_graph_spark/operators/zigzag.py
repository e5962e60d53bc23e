"""Zigzag (two-way) routing via a state-doubled graph transform.

Reference kernel: /root/reference/src/main.cpp:1353-1474 — Dijkstra over
states ``(node, ±1)`` where +1 means "traversing the node forward". The
transition system (:1425-1465):

- from ``(u,+1)``: zero-cost to ``(n,-1)`` for every successor n, and
  zero-cost to ``(s,+1)`` for every s sharing a successor with u
  (``sibs_under_prev``);
- from ``(u,-1)``: zero-cost to ``(p,+1)`` for every predecessor p, and
  zero-cost to ``(s,-1)`` for every s sharing a predecessor with u
  (``sibs_under_next``);
- every state arrival immediately offers the intra-node flip
  ``(v,∓) -> (v,±)`` at cost ``length(v)`` (the eager updates at
  :1430-1432 etc.). Flips out of the *seeded source states* never fire
  (seeds bypass ``update_state`` and pops don't flip, :1376-1383).

Spark shape: states encode as ``node*2 + (dir==+1)``; the transition
system is materialized ONCE per graph as a ``state_edges(src, dst,
weight, is_flip)`` DataFrame (4 unions + flips, released by
``SparkDiGraph.unpersist``); the same label-correcting superstep loop as
the SSSP kernel runs over it — frontier ⋈ edges, then the shared
``min_label_merge`` (operators/relax.py) keyed by ``node`` with the label
``(dist, g, prev)`` — with per-query flip exclusion at the source.

Tie-breaking: the reference keeps the first setter under heap+eager-flip
event order. All non-flip zigzag edges cost 0, so we carry a derivation
generation ``g`` (0 when the winning parent sits at a strictly smaller
distance — only flips do — else parent's g + 1) and take the lexicographic
min of ``(dist, g, prev_state)``. This reproduces every reference golden;
on exotic same-(dist, g) ties across different derivation branches the
reference's order is heap-iteration dependent and ours is the
deterministic state-index min.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import SparkDiGraph
from ..plans.supersteps import SuperstepRunner, _free_checkpoint
from ..rounding import round_half_up
from ..session import local_df
from .relax import min_label_merge


def state_id(node: int, direction: int) -> int:
    return node * 2 + (1 if direction > 0 else 0)


def state_node(sid: int) -> int:
    return sid // 2


def state_dir(sid: int) -> int:
    return 1 if sid % 2 == 1 else -1


def build_state_edges(graph: SparkDiGraph) -> DataFrame:
    """(src, dst, weight) over doubled states; cache/persist per graph."""
    e = graph.edges
    fwd = e.select(
        (F.col("src") * 2 + 1).alias("src"),
        (F.col("dst") * 2).alias("dst"),
        F.lit(0.0).alias("weight"),
        F.lit(False).alias("is_flip"),
    )
    bwd = e.select(
        (F.col("dst") * 2).alias("src"),
        (F.col("src") * 2 + 1).alias("dst"),
        F.lit(0.0).alias("weight"),
        F.lit(False).alias("is_flip"),
    )
    sib_fwd = graph.sibs_under_prev.select(
        (F.col("a") * 2 + 1).alias("src"),
        (F.col("b") * 2 + 1).alias("dst"),
        F.lit(0.0).alias("weight"),
        F.lit(False).alias("is_flip"),
    )
    sib_bwd = graph.sibs_under_next.select(
        (F.col("a") * 2).alias("src"),
        (F.col("b") * 2).alias("dst"),
        F.lit(0.0).alias("weight"),
        F.lit(False).alias("is_flip"),
    )
    flips_up = graph.vertices.select(
        (F.col("id") * 2).alias("src"),
        (F.col("id") * 2 + 1).alias("dst"),
        F.col("length").alias("weight"),
        F.lit(True).alias("is_flip"),
    )
    flips_dn = graph.vertices.select(
        (F.col("id") * 2 + 1).alias("src"),
        (F.col("id") * 2).alias("dst"),
        F.col("length").alias("weight"),
        F.lit(True).alias("is_flip"),
    )
    out = fwd.unionByName(bwd).unionByName(sib_fwd).unionByName(sib_bwd)
    out = out.unionByName(flips_up).unionByName(flips_dn)
    return out.repartition(graph.num_partitions, "src")


def _graph_state_edges(graph: SparkDiGraph) -> DataFrame:
    if not hasattr(graph, "_zigzag_state_edges"):
        se = build_state_edges(graph).persist()
        se.count()
        graph._zigzag_state_edges = se
    return graph._zigzag_state_edges


def zigzag_sssp(
    graph: SparkDiGraph,
    seed_states: list[int],
    cutoff: float,
    max_iter: int = 10_000,
    use_csr: bool = False,
) -> DataFrame:
    """Label-correcting loop over the state graph with the (dist, g, prev)
    tie-break. Returns (node=state, dist, g, prev) — seeds excluded from
    prev-map semantics (prev = -1).

    ``use_csr``: route through the block-centric local-fixpoint loop
    (operators/sssp_csr.py) with the same label rule — same converged
    labels (unique least fixpoint), far fewer global supersteps on
    0-cost-dominated state graphs. Its blocks are the session's shuffle
    partitions at width 2, so both states of a node share a block."""
    spark = graph.spark
    se_all = _graph_state_edges(graph)
    # flips out of seeded source states never fire
    se = se_all.filter(~(F.col("src").isin(seed_states) & F.col("is_flip")))
    schema = "node long, dist double, g int, prev long"
    init = local_df(spark, [(s, 0.0, 0, -1) for s in seed_states], schema)
    if use_csr:
        from .sssp_csr import run_block_centric

        return run_block_centric(
            spark, "zigzag_csr", se, init, ["node"], ["dist", "g", "prev"], schema,
            lambda lu, u, c, w, flip: (c, 0 if flip and w > 0 else lu[1] + 1, u),
            cutoff, None, 2, max_iter, extra=["is_flip"],
        ).state
    # loop-invariant plan fragments (same driver-latency lever as
    # bounded_sssp/PageRank: Columns are immutable and resolve by name;
    # state columns node/dist/g and edge columns src/dst/weight/is_flip
    # are unambiguous in the join)
    _msg_jcond = F.col("node") == F.col("src")
    _msg_proj = (
        F.col("dst").alias("node"),
        (F.col("dist") + F.col("weight")).alias("dist"),
        F.when(F.col("is_flip") & (F.col("weight") > 0), F.lit(0))
        .otherwise(F.col("g") + 1)
        .alias("g"),
        F.col("src").alias("prev"),
    )
    _cut_filter = F.col("dist") <= cutoff
    _merge = min_label_merge(["node"], ["dist", "g", "prev"])

    def step(state: DataFrame, i: int, prev):
        msgs = (
            state.filter(F.col("_new"))
            .select("node", "dist", "g")
            .join(se, _msg_jcond)
            .select(*_msg_proj)
            .filter(_cut_filter)
        )
        return _merge(state, msgs)

    # one Spark job per superstep: ``_new`` frontier flag + improved-row
    # count observed on the runner's checkpoint action (pattern of
    # bounded_sssp)
    result = SuperstepRunner(spark).run(
        "zigzag", init.withColumn("_new", F.lit(True)), step, max_iter=max_iter,
        converged_key="cnt",
    )
    return result.state.select("node", "dist", "g", "prev")


@dataclass
class ZigzagPathResult:
    dist: float
    nodes: list[str]
    directions: list[int]

    _FIELDS = ("dist", "nodes", "directions")

    def to_dict(self):
        d = {
            "dist": self.dist,
            "nodes": list(self.nodes),
            "directions": list(self.directions),
        }
        # dynamic attrs (/root/reference/tests/test_basic.py:1291-1292)
        for k, v in self.__dict__.items():
            if k not in self._FIELDS and not k.startswith("_"):
                d[k] = v
        return d

    def round(self, scale):
        if scale is not None:
            self.dist = round_half_up(self.dist, scale)
        return self


def _decode(
    graph: SparkDiGraph,
    target_state: int,
    source_id: int,
    pmap: dict[int, int],
    dmap: dict[int, float],
) -> Optional[ZigzagPathResult]:
    """ZigzagPathGenerator::Path (/root/reference/src/main.cpp:258-300)."""
    target = state_node(target_state)
    # the displayed final direction is the NEGATION of the arrival state's
    # direction (/root/reference/src/main.cpp:265-266): state (n,-1) means
    # "arrived at n, about to traverse forward"
    end_dir = -state_dir(target_state)
    dist = dmap[target_state]
    states = []
    cursor = target_state
    while True:
        prev = pmap.get(cursor, -1)
        if prev < 0:
            if state_node(cursor) != source_id:
                return None
            states.append(state_id(source_id, -state_dir(cursor)))
            break
        cursor = prev
        states.append(cursor)
    states.reverse()
    if len(states) % 2 != 0:
        return None
    nm = graph.names_map
    nodes, dirs = [], []
    for i in range(0, len(states), 2):
        if state_node(states[i]) != state_node(states[i + 1]):
            return None
        nodes.append(nm[state_node(states[i])])
        dirs.append(1 if state_dir(states[i]) < state_dir(states[i + 1]) else -1)
    nodes.append(nm[target])
    dirs.append(end_dir)
    return ZigzagPathResult(dist, nodes, dirs)


@dataclass
class ZigzagGen:
    """ZigzagPathGenerator (/root/reference/src/main.cpp:241-301, pybind
    :3115-3243)."""

    graph: SparkDiGraph
    cutoff: float
    source: Optional[int] = None
    state_df: Optional[DataFrame] = None
    _rows: Optional[list] = field(default=None, repr=False)

    @property
    def ready(self) -> bool:
        return self.source is not None and self.cutoff > 0 and self.state_df is not None

    def _collect(self):
        if self._rows is None:
            self._rows = self.state_df.collect() if self.state_df is not None else []
        return self._rows

    def _maps(self):
        rows = self._collect()
        dmap = {r["node"]: r["dist"] for r in rows}
        pmap = {r["node"]: r["prev"] for r in rows if r["prev"] >= 0}
        return pmap, dmap

    def dists(self) -> dict[tuple[str, int], float]:
        """State-keyed distances, rounded at read
        (/root/reference/src/main.cpp:3134-3149)."""
        if not self.ready:
            return {}
        nm = self.graph.names_map
        return {
            (nm[state_node(r["node"])], state_dir(r["node"])): round_half_up(
                r["dist"], self.graph.scale
            )
            for r in self._collect()
        }

    def prevs(self) -> dict[tuple[str, int], tuple[str, int]]:
        if not self.ready:
            return {}
        nm = self.graph.names_map
        pmap, _ = self._maps()
        return {
            (nm[state_node(k)], state_dir(k)): (nm[state_node(v)], state_dir(v))
            for k, v in pmap.items()
        }

    def destinations(self) -> list[tuple[float, str]]:
        """Per-node min over the two states, RAW dists, sorted by dist only
        (/root/reference/src/main.cpp:3151-3178)."""
        if not self.ready:
            return []
        nm = self.graph.names_map
        best: dict[str, float] = {}
        for r in self._collect():
            n = nm[state_node(r["node"])]
            if n not in best or r["dist"] < best[n]:
                best[n] = r["dist"]
        return sorted(((d, n) for n, d in best.items()), key=lambda t: t[0])

    def path(self, node: str) -> Optional[ZigzagPathResult]:
        if not self.ready:
            return None
        nid = self.graph.node_id(node)
        if nid is None:
            return None
        pmap, dmap = self._maps()
        p1 = p2 = None
        s1, s2 = state_id(nid, 1), state_id(nid, -1)
        if s1 in pmap:
            p1 = _decode(self.graph, s1, self.source, pmap, dmap)
        if s2 in pmap:
            p2 = _decode(self.graph, s2, self.source, pmap, dmap)
        out = None
        if p1 and p2:
            out = p1 if p1.dist < p2.dist else p2
        else:
            out = p1 or p2
        return out.round(self.graph.scale) if out else None

    def paths(self) -> list[ZigzagPathResult]:
        """Best decoded path per reachable end node, sorted dist desc
        (/root/reference/src/main.cpp:3180-3211); ties canonicalized by
        node list."""
        if not self.ready:
            return []
        pmap, dmap = self._maps()
        best: dict[str, ZigzagPathResult] = {}
        for s in pmap:
            p = _decode(self.graph, s, self.source, pmap, dmap)
            if p is None:
                continue
            k = p.nodes[-1]
            if k not in best or p.dist < best[k].dist:
                best[k] = p
        out = [p.round(self.graph.scale) for p in best.values()]
        out.sort(key=lambda p: (-p.dist, p.nodes))
        return out


def shortest_zigzag_path(
    graph: SparkDiGraph,
    source: str,
    target: Optional[str] = None,
    cutoff: float = 0.0,
    direction: int = 0,
    use_csr: bool = False,
):
    """Point query returns ZigzagPathResult|None; target=None returns a
    ZigzagGen (/root/reference/src/main.cpp:622-653, :3383-3398)."""
    if cutoff < 0:
        return None if target is not None else ZigzagGen(graph, cutoff)
    sid = graph.node_id(source)
    if sid is None or sid not in graph.lengths_map:
        return None if target is not None else ZigzagGen(graph, cutoff)
    tid = None
    if target is not None:
        tid = graph.node_id(target)
        if tid is None or tid not in graph.lengths_map:
            return None
        if tid == sid:
            return ZigzagPathResult(0.0, [source], [1]).round(graph.scale)
    seeds = []
    if direction >= 0:
        seeds.append(state_id(sid, 1))
    if direction <= 0:
        seeds.append(state_id(sid, -1))
    state = zigzag_sssp(graph, seeds, cutoff, use_csr=use_csr)
    if target is None:
        gen = ZigzagGen(graph, cutoff, source=sid, state_df=state)
        return gen
    rows = state.filter(
        (F.col("node") == state_id(tid, 1)) | (F.col("node") == state_id(tid, -1))
    ).collect()
    # the reference returns at the first pop of the target node: min dist,
    # tie -> dir=-1 (heap index order (idx,-1) < (idx,+1))
    cand = sorted(rows, key=lambda r: (r["dist"], r["node"]))
    cand = [r for r in cand if r["prev"] >= 0 or state_node(r["node"]) == sid]
    p = None
    if cand:
        pmap, dmap = ZigzagGen(graph, cutoff, source=sid, state_df=state)._maps()
        p = _decode(graph, cand[0]["node"], sid, pmap, dmap)
    # the answer is decoded: release the converged state's checkpoint
    # blocks now, not at the JVM's next garbage collection
    _free_checkpoint(state)
    return p.round(graph.scale) if p else None
