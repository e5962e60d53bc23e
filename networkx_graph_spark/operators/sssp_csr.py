"""CSR-blocked per-partition relaxation: superstep-count reduction.

North-star architecture item (BASELINE.json:6): "iterative kernels
operate on CSR-blocked adjacency partitions". The plain kernel
(operators/sssp.py) advances one hop per superstep; on high-diameter
graphs the superstep count — not per-superstep cost — dominates.

This variant co-partitions the frontier with the edge blocks by
``(node // block_width) % P`` and, inside each partition, runs a LOCAL
label-correcting fixpoint over that block's adjacency held as CSR numpy
arrays (built per batch from the Arrow columns — no Python-object graph).
Edges whose destination lands in the same block relax immediately;
cross-block improvements exit as messages for the global min-merge. One
global superstep therefore advances through arbitrarily long intra-block
chains ("block-centric" iteration, cf. Giraph++/Blogel), cutting global
rounds toward the number of block-boundary crossings on the shortest
path.

Semantics: identical fixpoint and the SAME deterministic tie-break
struct ``(dist, prev_dist, prev)`` as ``bounded_sssp`` — the local loop
applies lexicographic-min updates, and the global merge is unchanged, so
dists AND prevs match the plain kernel exactly (tested).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.supersteps import SuperstepRunner
from ..session import local_df

NEG_INF = float("-inf")


def _local_relax_factory(num_blocks: int, cutoff: float, block_width: int = 1):
    """Cogrouped-map fn: (frontier block, edge block) -> improved states
    reached through any number of intra-block hops."""

    def fn(frontier: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if frontier.empty or edges.empty:
            return frontier[["qid", "node", "dist", "prev", "prev_dist"]]
        esrc = edges["src"].to_numpy()
        edst = edges["dst"].to_numpy()
        ew = edges["weight"].to_numpy()
        order = np.argsort(esrc, kind="stable")
        esrc, edst, ew = esrc[order], edst[order], ew[order]
        # CSR over the block's source vertices
        uniq, starts = np.unique(esrc, return_index=True)
        starts = np.append(starts, len(esrc))
        src_pos = {int(s): (int(starts[i]), int(starts[i + 1])) for i, s in enumerate(uniq)}

        out: dict[tuple[int, int], tuple[float, float, int]] = {}
        work = [
            (int(q), int(n), float(d), float(pd_), int(p))
            for q, n, d, p, pd_ in zip(
                frontier["qid"], frontier["node"], frontier["dist"],
                frontier["prev"], frontier["prev_dist"],
            )
        ]
        # seed the local best map with the incoming frontier states so
        # intra-block improvements compare against them
        best: dict[tuple[int, int], tuple[float, float, int]] = {}
        for q, n, d, pd_, p in work:
            k = (q, n)
            cand = (d, pd_, p)
            if k not in best or cand < best[k]:
                best[k] = cand
        stack = list(best.keys())
        while stack:
            q, u = stack.pop()
            du = best[(q, u)][0]
            rng = src_pos.get(u)
            if rng is None:
                continue
            for i in range(rng[0], rng[1]):
                v = int(edst[i])
                c = du + float(ew[i])
                if c > cutoff:
                    continue
                k = (q, v)
                cand = (c, du, u)
                if k not in best or cand < best[k]:
                    best[k] = cand
                    out[k] = cand
                    # only same-block destinations can relax further locally
                    if (v // block_width) % num_blocks == (u // block_width) % num_blocks:
                        stack.append(k)

        # emit only states set/improved by local relaxation (the incoming
        # frontier is already in the global state)
        rows = [(q, n, d, p, pd_) for (q, n), (d, pd_, p) in out.items()]
        return pd.DataFrame(
            rows, columns=["qid", "node", "dist", "prev", "prev_dist"]
        )

    return fn


def _zigzag_local_relax_factory(num_blocks: int, cutoff: float, block_width: int = 1):
    """Zigzag variant of the local relaxation: labels are
    ``(dist, g, prev)`` (operators/zigzag.py tie-break — g resets to 0 on a
    positive-weight flip edge, else parent g + 1). Monotone label function
    ⇒ unique least fixpoint ⇒ relaxation order (block-local vs global)
    cannot change the converged labels."""

    def fn(frontier: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if frontier.empty or edges.empty:
            return frontier[["node", "dist", "g", "prev"]]
        esrc = edges["src"].to_numpy()
        edst = edges["dst"].to_numpy()
        ew = edges["weight"].to_numpy()
        eflip = edges["is_flip"].to_numpy()
        order = np.argsort(esrc, kind="stable")
        esrc, edst, ew, eflip = esrc[order], edst[order], ew[order], eflip[order]
        uniq, starts = np.unique(esrc, return_index=True)
        starts = np.append(starts, len(esrc))
        src_pos = {int(s): (int(starts[i]), int(starts[i + 1])) for i, s in enumerate(uniq)}

        best: dict[int, tuple[float, int, int]] = {}
        out: dict[int, tuple[float, int, int]] = {}
        for n, d, g, p in zip(
            frontier["node"], frontier["dist"], frontier["g"], frontier["prev"]
        ):
            k = int(n)
            cand = (float(d), int(g), int(p))
            if k not in best or cand < best[k]:
                best[k] = cand
        stack = list(best.keys())
        while stack:
            u = stack.pop()
            du, gu, _ = best[u]
            rng = src_pos.get(u)
            if rng is None:
                continue
            for i in range(rng[0], rng[1]):
                v = int(edst[i])
                w = float(ew[i])
                c = du + w
                if c > cutoff:
                    continue
                gv = 0 if (eflip[i] and w > 0) else gu + 1
                cand = (c, gv, u)
                if v not in best or cand < best[v]:
                    best[v] = cand
                    out[v] = cand
                    if (v // block_width) % num_blocks == (u // block_width) % num_blocks:
                        stack.append(v)
        rows = [(n, d, g, p) for n, (d, g, p) in out.items()]
        return pd.DataFrame(rows, columns=["node", "dist", "g", "prev"])

    return fn


def zigzag_sssp_csr(
    spark: SparkSession,
    state_edges: DataFrame,
    seed_states: list[int],
    cutoff: float,
    num_blocks: Optional[int] = None,
    block_width: int = 2,
    max_iter: int = 10_000,
) -> DataFrame:
    """Block-centric zigzag relaxation over the doubled-state graph
    (operators/zigzag.py semantics; ``state_edges`` must already exclude
    flips out of the seed states). Zigzag graphs are dominated by 0-cost
    moves (forward/backward hops, sibling transfers), so block-local
    convergence collapses long 0-cost chains into one superstep.
    block_width defaults to 2 so both states of a node share a block.
    Returns (node=state, dist, g, prev) equal to zigzag_sssp's state."""
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    blk = lambda c: F.pmod(F.floor(F.col(c) / F.lit(block_width)), F.lit(num_blocks))  # noqa: E731
    eb = state_edges.select("src", "dst", "weight", "is_flip").withColumn("_blk", blk("src"))
    fn = _zigzag_local_relax_factory(num_blocks, float(cutoff), block_width)
    schema = "node long, dist double, g int, prev long"

    # one Spark job per superstep (``_new`` flag + improved-row count
    # observed on the runner's checkpoint action — see bounded_sssp)
    cols = ["node", "dist", "g", "prev"]
    init = local_df(
        spark, [(s, 0.0, 0, -1) for s in seed_states], schema
    ).withColumn("_new", F.lit(True))

    def step(state: DataFrame, i: int, prev):
        frontier = state.filter(F.col("_new")).select(*cols)
        msgs = (
            frontier.withColumn("_blk", blk("node"))
            .groupBy("_blk")
            .cogroup(eb.groupBy("_blk"))
            .applyInPandas(fn, schema=schema)
        )
        best = (
            msgs.groupBy("node")
            .agg(F.min(F.struct("dist", "g", "prev")).alias("m"))
            .select("node", "m.dist", "m.g", "m.prev")
        )
        old = state.select("node", F.struct("dist", "g", "prev").alias("_old"))
        improved = (
            best.join(old, "node", "left")
            .filter(F.col("_old").isNull() | (F.struct("dist", "g", "prev") < F.col("_old")))
            .select(*cols)
        )
        return _merge_improved(state, improved, cols, ["node"])

    result = SuperstepRunner(spark).run(
        "zigzag_csr", init, step, max_iter=max_iter, converged_key="cnt"
    )
    return result.state.select(*cols)


def _merge_improved(state: DataFrame, improved: DataFrame, cols: list, key: list):
    """Next state = old rows not improved (``_new`` false) + improved rows
    (``_new`` true), with the improved-row count as the metric."""
    return (
        state.join(improved.select(*key), key, "left_anti")
        .select(*cols)
        .withColumn("_new", F.lit(False))
        .unionByName(improved.withColumn("_new", F.lit(True)))
    ), {"cnt": F.coalesce(F.sum(F.col("_new").cast("long")), F.lit(0))}


def bounded_sssp_csr(
    spark: SparkSession,
    edges_w: DataFrame,
    seeds: DataFrame,
    cutoff: float,
    num_blocks: Optional[int] = None,
    block_width: int = 1,
    max_iter: int = 10_000,
    return_info: bool = False,
) -> DataFrame:
    """Block-centric variant of ``bounded_sssp`` (scalar cutoff, no sinks;
    the plain kernel covers the full parameter surface). Returns the same
    converged state (qid, node, dist, prev, prev_dist); with
    ``return_info=True`` returns ``(state, converged, iterations)`` so
    callers can detect a ``max_iter`` exhaustion instead of silently
    treating a truncated run as the fixpoint.

    ``block_width``: ids are blocked by ``(id // block_width) % num_blocks``
    — width 1 is a round-robin (hash-like) blocking; a larger width gives
    RANGE blocking, which is what makes block-centric iteration pay off on
    graphs whose id assignment preserves locality (crawl-order url ids,
    dictionary-encoded host-sorted ids): intra-block chains collapse into
    one superstep."""
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    blk = lambda c: F.pmod(F.floor(F.col(c) / F.lit(block_width)), F.lit(num_blocks))  # noqa: E731
    eb = edges_w.withColumn("_blk", blk("src"))
    fn = _local_relax_factory(num_blocks, float(cutoff), block_width)
    schema = "qid long, node long, dist double, prev long, prev_dist double"

    # one Spark job per superstep: the state carries a ``_new`` frontier
    # flag and the improved-row count rides the runner's checkpoint action
    # as an Observation metric (same pattern as bounded_sssp / PageRank / CC)
    cols = ["qid", "node", "dist", "prev", "prev_dist"]
    init = seeds.select(*cols).withColumn("_new", F.lit(True))

    def step(state: DataFrame, i: int, prev):
        frontier = state.filter(F.col("_new")).select(*cols)
        msgs = (
            frontier.withColumn("_blk", blk("node"))
            .groupBy("_blk")
            .cogroup(eb.groupBy("_blk"))
            .applyInPandas(fn, schema=schema)
        )
        best = (
            msgs.groupBy("qid", "node")
            .agg(F.min(F.struct("dist", "prev_dist", "prev")).alias("m"))
            .select("qid", "node", "m.dist", "m.prev_dist", "m.prev")
        )
        old = state.select(
            "qid", "node", F.struct("dist", "prev_dist", "prev").alias("_old")
        )
        improved = (
            best.join(old, ["qid", "node"], "left")
            .filter(
                F.col("_old").isNull()
                | (F.struct("dist", "prev_dist", "prev") < F.col("_old"))
            )
            .select(*cols)
        )
        return _merge_improved(state, improved, cols, ["qid", "node"])

    result = SuperstepRunner(spark).run(
        "sssp_csr", init, step, max_iter=max_iter, converged_key="cnt"
    )
    out = result.state.select(*cols)
    if return_info:
        return out, result.converged, result.iterations
    return out
