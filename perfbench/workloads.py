"""The benchmark's two workloads.

Each workload builds its inputs from the seed (``setup``), computes the
reference answers once per seed outside any timed section (``prepare``),
and then runs a fixed list of operations per pass (``ops``), each checked
against the reference afterwards (``check``). Why each workload exists is
in README.md next to this file.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

import oracles


@dataclass
class Context:
    spark: Any
    seed: int
    smoke: bool
    tracer: Any
    cache_dir: str
    scratch: str
    partitions: int


@dataclass
class Timings:
    """Per-operation wall times (s) of the measured passes, by op name."""

    by_op: dict[str, list[float]] = field(default_factory=dict)

    def add(self, op: str, seconds: float) -> None:
        self.by_op.setdefault(op, []).append(seconds)

    def median(self, op: str) -> float:
        return statistics.median(self.by_op[op])


def _materialize(df):
    """Persist and count: the op's result exists when the call returns."""
    df = df.persist()
    df.count()
    return df


class Workload:
    """Defaults for the hooks only some workloads need."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def after_pass(self) -> None:
        """Release what one pass left behind (outside its timing)."""

    def layer_extras(self, tracer, table: dict[str, float]) -> dict[str, float]:
        """Workload-specific per-layer numbers of the measured pass."""
        return {}


class LinkKernels(Workload):
    """Pages -> link edges -> durable, resumable PageRank, then the other
    iterative/join kernels over a cached hub-skewed edge table."""

    name = "link_kernels"
    STOP_AT = 4
    TOL = 1e-6
    # Convergence takes 17-22 iterations on most seeds and 40+ on a few;
    # the cap fixes one pass's work across seeds (every seed stops at it).
    MAX_ITER = 8
    LPA_ITERS = 3

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.n_pages = 60 if ctx.smoke else 2_000
        self.n_vertices, self.n_raw_edges = (300, 1_200) if ctx.smoke else (20_000, 80_000)
        self.pages = None
        self.edges = None
        self.n_edges = 0
        self._pass = 0
        self._held: list = []
        self._first_pass: dict[str, float] = {}

    def release(self) -> None:
        for df in (self.pages, self.edges):
            if df is not None:
                df.unpersist()
        self.pages = self.edges = None

    def setup(self) -> None:
        from networkx_graph_spark.sources.datagen import powerlaw_edges
        from networkx_graph_spark.sources.pages_synth import synth_pages

        spark, seed = self.ctx.spark, self.ctx.seed
        self.pages = _materialize(synth_pages(spark, self.n_pages, seed=seed))
        self.edges = _materialize(
            powerlaw_edges(spark, self.n_vertices, self.n_raw_edges, seed=seed).distinct()
        )
        self.n_edges = self.edges.count()

    def prepare(self) -> None:
        from networkx_graph_spark.sources.pages_synth import expected_edges

        def compute():
            edges = sorted(expected_edges(self.n_pages, self.ctx.seed))
            urls = sorted({u for e in edges for u in e})
            pos = {u: i for i, u in enumerate(urls)}
            ids, ranks, iters, converged = oracles.pagerank(
                [pos[a] for a, _ in edges], [pos[b] for _, b in edges],
                tol=self.TOL, max_iter=self.MAX_ITER,
            )
            pdf = self.edges.toPandas()
            src, dst = pdf["src"].tolist(), pdf["dst"].tolist()
            return {
                "edges": edges,
                "ranks": [[urls[i], r] for i, r in zip(ids, ranks)],
                "iterations": iters,
                "converged": converged,
                "components": sorted(oracles.components(src, dst).items()),
                "lpa": sorted(oracles.label_propagation(src, dst, self.LPA_ITERS).items()),
                "triangles": oracles.triangles(src, dst),
            }

        key = (f"{self.name}-{self.n_pages}-{self.MAX_ITER}-{self.n_vertices}-"
               f"{self.n_raw_edges}-{self.ctx.seed}")
        self.want = oracles.cached(self.ctx.cache_dir, key, compute)

    def ops(self) -> list[tuple[str, Callable[[], Any]]]:
        from networkx_graph_spark.kernels.components import connected_components
        from networkx_graph_spark.kernels.lpa import label_propagation
        from networkx_graph_spark.kernels.pagerank import pagerank
        from networkx_graph_spark.kernels.triangles import triangle_count
        from networkx_graph_spark.plans.supersteps import SuperstepRunner
        from networkx_graph_spark.sources.pages import encode_edges, pages_to_edges

        t, ctx, e = self.ctx.tracer, self.ctx, self.edges
        state: dict = {}

        def encode(urls):
            edges, ids = encode_edges(urls)
            return _materialize(edges), ids

        def ingest():
            urls = t.call("sources", "pages_to_edges",
                          lambda: _materialize(pages_to_edges(self.pages)))
            edges, ids = t.call("sources", "encode_edges", encode, urls)
            self._held += [urls, edges]
            state.update(edges=edges, ids=ids)
            return urls, edges

        def converge():
            ck = os.path.join(ctx.scratch, f"ckpt-{self._pass}")
            runner = SuperstepRunner(ctx.spark, checkpoint_dir=ck, bucket_cols=["id"],
                                     bucket_count=ctx.partitions)
            first = t.call("kernels.pagerank", "stop", pagerank, state["edges"], tol=self.TOL,
                           max_iter=self.STOP_AT, runner=runner, assume_distinct=True)
            t1 = time.perf_counter()
            rest = t.call("kernels.pagerank", "resume", pagerank, state["edges"], tol=self.TOL,
                          max_iter=self.MAX_ITER, runner=runner, resume=True,
                          assume_distinct=True)
            resume_s = time.perf_counter() - t1
            return first, rest, resume_s, ck, state["ids"]

        return [
            ("ingest", ingest),
            ("converge", converge),
            ("components", lambda: t.call(
                "kernels.components", "components", connected_components, e,
                algorithm="twophase")),
            ("lpa", lambda: t.call(
                "kernels.lpa", "lpa", label_propagation, e, max_iter=self.LPA_ITERS)),
            ("triangles", lambda: t.call(
                "kernels.triangles", "triangles", triangle_count, e)),
        ]

    def check(self, op: str, res) -> bool:
        if op == "ingest":
            urls, edges = res
            got = sorted(tuple(r) for r in urls.toPandas().itertuples(index=False))
            return got == [tuple(e) for e in self.want["edges"]] and edges.count() == len(got)
        if op == "converge":
            return self._check_converge(*res)
        if op == "triangles":
            return res == self.want["triangles"]
        col = "component" if op == "components" else "label"
        pdf = res.state.toPandas()
        got = sorted(zip(pdf["id"].tolist(), pdf[col].tolist()))
        return got == [tuple(p) for p in self.want[op]]

    def _check_converge(self, first, rest, resume_s, ck, ids_df) -> bool:
        id_pdf = ids_df.toPandas()
        ids = dict(zip(id_pdf["node"].tolist(), id_pdf["id"].tolist()))
        pdf = rest.state.toPandas()
        rank_of = dict(zip(pdf["id"].tolist(), pdf["rank"].tolist()))
        urls = [u for u, _ in self.want["ranks"]]
        got = np.array([rank_of.get(ids.get(u), np.nan) for u in urls])
        want = np.array([r for _, r in self.want["ranks"]])
        if not self._first_pass:
            self._first_pass = {
                "checkpoint_bytes": _dir_bytes(ck),
                "resume_overhead_s": resume_s - sum(m["wall_sec"] for m in rest.metrics),
            }
        return (
            first.iterations == self.STOP_AT
            and not first.converged
            and rest.converged == self.want["converged"]
            and rest.metrics[0]["iteration"] == self.STOP_AT
            and rest.iterations == self.want["iterations"]
            and len(pdf) == len(urls)
            and bool(np.allclose(got, want, rtol=0.0, atol=1e-6))
        )

    def after_pass(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held = []
        shutil.rmtree(os.path.join(self.ctx.scratch, f"ckpt-{self._pass}"), ignore_errors=True)
        self._pass += 1

    def _edge_iters(self) -> float:
        return len(self.want["edges"]) * float(self.want["iterations"])

    def detail(self, tm: Timings) -> dict:
        return {
            "pages_per_s": self.n_pages / tm.median("ingest"),
            "converge_s": tm.median("converge"),
            "pagerank_edges_per_s": self._edge_iters() / tm.median("converge"),
            "components_s": tm.median("components"),
            "lpa_s": tm.median("lpa"),
            "triangles_s": tm.median("triangles"),
            "crawl_edges": len(self.want["edges"]),
            "rank_iterations": self.want["iterations"],
            "distinct_edges": self.n_edges,
        }

    def layer_extras(self, tracer, table):
        fp = self._first_pass
        return {
            "plans.supersteps.checkpoint_bytes": fp["checkpoint_bytes"],
            "plans.supersteps.resume_overhead_s": fp["resume_overhead_s"],
            "kernels.pagerank.shuffle_bytes_per_edge_iter":
                table["kernels.pagerank.shuffle_write_bytes"] / self._edge_iters(),
        }


class RoadPaths(Workload):
    """Narrow point-to-point queries on a node-weighted road grid."""

    name = "road_paths"
    HOPS = 2
    CUTOFF = 3.0 * HOPS
    # Query shape, fixed so a pass does the same work on every seed: the
    # target's distance, the supersteps the kernel needs, and the hops of
    # the path it returns. Two thirds of the 2-hop pairs at distance 3 have
    # this shape; the cost of a query follows its superstep count.
    TARGET_DIST = 3.0
    SUPERSTEPS = 3
    # one single query, then a batch whose first pair is that query's
    N_SINGLE, N_BATCH = 1, 3

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.width = 12 if ctx.smoke else 70
        self.graph = None
        n = self.width * self.width
        rng = random.Random(ctx.seed)
        self.length = [float(rng.randint(1, 9)) for _ in range(n)]
        w = self.width
        self.succ: list[list[int]] = [[] for _ in range(n)]
        for v in range(n):
            r, c = divmod(v, w)
            for rr, cc in ((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1)):
                if 0 <= rr < w and 0 <= cc < w:
                    self.succ[v].append(rr * w + cc)

    def release(self) -> None:
        if self.graph is not None:
            self.graph.unpersist()
            self.graph = None

    def setup(self) -> None:
        from networkx_graph_spark.graph import SparkDiGraph

        spark, t = self.ctx.spark, self.ctx.tracer
        n = len(self.length)
        vdf = spark.createDataFrame(pd.DataFrame({
            "id": np.arange(n, dtype=np.int64),
            "node": [str(v) for v in range(n)],
            "length": self.length,
        }))
        src = [v for v in range(n) for _ in self.succ[v]]
        dst = [u for v in range(n) for u in self.succ[v]]
        edf = spark.createDataFrame(pd.DataFrame({
            "src": np.array(src, dtype=np.int64), "dst": np.array(dst, dtype=np.int64)}))
        g = t.call("graph", "from_edge_df", SparkDiGraph.from_edge_df, spark, edf, vertices=vdf)
        t.call("graph", "edges_w", lambda: g.edges_w)
        t.call("graph", "vertex_maps", lambda: (g.lengths_map, g.names_map))
        self.graph = g

    def prepare(self) -> None:
        """Seeded queries: a source and a target ``HOPS`` grid steps away
        whose shortest distance is ``TARGET_DIST`` (within the cutoff, so
        every query returns a path) and whose relaxation takes
        ``SUPERSTEPS`` supersteps and returns a ``HOPS``-hop path."""
        rng = random.Random(self.ctx.seed * 7919 + 17)
        w, queries = self.width, []
        while len(queries) < max(self.N_SINGLE, self.N_BATCH):
            s = rng.randrange(w * w)
            r, c = divmod(s, w)
            dx = rng.randint(0, self.HOPS)
            r2 = r + rng.choice((-1, 1)) * (self.HOPS - dx)
            c2 = c + rng.choice((-1, 1)) * dx
            if not (0 <= r2 < w and 0 <= c2 < w):
                continue
            tgt = r2 * w + c2
            dist = oracles.node_length_dijkstra(self.succ, self.length, s, self.CUTOFF)
            if dist.get(tgt) != self.TARGET_DIST:
                continue
            shape = _relaxation_shape(self.succ, self.length, s, tgt, self.CUTOFF)
            if shape != (self.SUPERSTEPS, self.HOPS):
                continue
            reached = sum(1 for d in dist.values() if d <= dist[tgt])
            queries.append((s, tgt, dist[tgt], reached))
        self.queries = queries
        self._single_nodes: dict[tuple[int, int], list[str]] = {}

    def ops(self) -> list[tuple[str, Callable[[], Any]]]:
        from networkx_graph_spark.operators.sssp import shortest_path, shortest_paths_pairs

        t, g, cut = self.ctx.tracer, self.graph, self.CUTOFF
        out: list[tuple[str, Callable[[], Any]]] = [
            ("query", lambda q=q: (q, t.call(
                "operators.sssp", "shortest_path", shortest_path, g, str(q[0]), str(q[1]), cut)))
            for q in self.queries[:self.N_SINGLE]
        ]
        pairs = [(str(s), str(d), cut) for s, d, _, _ in self.queries[:self.N_BATCH]]
        out.append(("pairs", lambda: t.call(
            "operators.sssp", "shortest_paths_pairs", shortest_paths_pairs, g, pairs)))
        return out

    def _path_ok(self, q, p) -> bool:
        if p is None or p.dist != q[2]:
            return False
        nodes = [int(x) for x in p.nodes]
        if nodes[0] != q[0] or nodes[-1] != q[1]:
            return False
        if any(b not in self.succ[a] for a, b in zip(nodes, nodes[1:])):
            return False
        return sum(self.length[v] for v in nodes[1:-1]) == p.dist

    def check(self, op: str, res) -> bool:
        if op == "query":
            q, p = res
            ok = self._path_ok(q, p)
            if ok:
                self._single_nodes[q[0], q[1]] = list(p.nodes)
            return ok
        ok = True
        for i, q in enumerate(self.queries[: len(res)]):
            p = res[i]
            ok &= self._path_ok(q, p)
            single = self._single_nodes.get((q[0], q[1]))
            if ok and single is not None:
                ok &= list(p.nodes) == single
        return bool(ok)

    def detail(self, tm: Timings) -> dict:
        n = len(self.length)
        return {
            "query_s_p50": tm.median("query"),
            "query_samples": len(tm.by_op["query"]),
            "pairs_per_s": self.N_BATCH / tm.median("pairs"),
            "reached_share_max": max(q[3] for q in self.queries) / n,
        }

    def layer_extras(self, tracer, table):
        jobs, per_reached = [], []
        singles = [i for i, sp in enumerate(tracer.spans)
                   if sp.phase == "pass0" and sp.op == "shortest_path"]
        for q, i in zip(self.queries, singles):
            nums = tracer.span_numbers(i)
            jobs.append(nums["jobs"])
            per_reached.append(nums["shuffle_read_records"] / q[3])
        return {
            "operators.sssp.jobs_per_query": statistics.median(jobs),
            "operators.sssp.shuffle_records_per_reached": statistics.median(per_reached),
        }


WORKLOADS = {w.name: w for w in (LinkKernels, RoadPaths)}


def _relaxation_shape(succ, length, source: int, target: int, cutoff: float) -> tuple[int, int]:
    """(supersteps, path hops) of one point-to-point query under the SSSP
    kernel's superstep rule (``operators.sssp.bounded_sssp``): labels are
    (dist, prev_dist, prev) tuples compared lexicographically, a superstep
    relaxes the rows improved by the previous one, rows above the best
    target distance found so far stop relaxing after the first superstep,
    and the loop ends with the first superstep that improves nothing."""
    state = {v: (0.0, float("-inf"), source) for v in succ[source]}
    frontier = list(state)
    best = state[target][0] if target in state else None
    steps = 0
    while frontier:
        msgs: dict[int, tuple] = {}
        for u in frontier:
            d = state[u][0]
            if steps > 0 and best is not None and d > best:
                continue
            nd = d + length[u]
            if nd > cutoff:
                continue
            for v in succ[u]:
                cand = (nd, d, u)
                if v not in msgs or cand < msgs[v]:
                    msgs[v] = cand
        frontier = [v for v, c in msgs.items() if v not in state or c < state[v]]
        for v in frontier:
            state[v] = msgs[v]
        if target in frontier:
            best = state[target][0] if best is None else min(best, state[target][0])
        steps += 1
    hops, cur = 0, target
    while cur != source:
        cur, hops = state[cur][2], hops + 1
    return steps, hops


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
