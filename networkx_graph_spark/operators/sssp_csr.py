"""CSR-blocked per-partition relaxation: superstep-count reduction.

North-star architecture item (BASELINE.json:6): "iterative kernels
operate on CSR-blocked adjacency partitions". The plain kernels
(operators/sssp.py, operators/zigzag.py) advance one hop per superstep;
on high-diameter graphs the superstep count — not per-superstep cost —
dominates.

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

One superstep loop (``run_block_centric``) and one cogrouped-map factory
serve every block-centric kernel: ``bounded_sssp_csr`` here,
``zigzag_sssp(use_csr=True)`` (operators/zigzag.py) and blocked CC
(kernels/components.py). They are keyed like the state (``(qid, node)``
for SSSP, ``(node,)`` for zigzag and CC) and take the candidate-label
rule: relaxing ``u`` with label ``lu`` over an edge of weight ``w`` gives
``(c, lu.dist, u)`` for SSSP, ``(c, 0 if flip and w > 0 else lu.g + 1,
u)`` for zigzag and ``lu`` itself (weight 0) for CC, where
``c = lu.dist + w``.

Semantics: the local loop applies lexicographic-min updates of the SAME
tie-break label as the plain kernels, and the global merge is unchanged —
it is the plain kernels' own ``min_label_merge`` (operators/relax.py) —
so dists AND prevs match the plain kernels exactly (tested). Both label
rules are monotone, so the least fixpoint is unique and the relaxation
order (block-local vs global) cannot change the converged labels.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.supersteps import SuperstepResult, SuperstepRunner
from .relax import min_label_merge


def _local_relax_factory(key, label, rule, extra, num_blocks, cutoff, block_width):
    """Cogrouped-map fn: (frontier block, edge block) -> labels improved
    through any number of intra-block hops. A key is ``(*prefix, node)``;
    ``rule(lu, u, c, w, *extra)`` is the candidate label at a successor of
    ``u`` (label ``lu``) over an edge of weight ``w`` with ``c = lu[0] + w``
    and the edge's ``extra`` column values."""
    cols = [*key, *label]
    nk = len(key)

    def fn(frontier: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if frontier.empty or edges.empty:
            return frontier[cols]
        order = np.argsort(edges["src"].to_numpy(), kind="stable")
        esrc = edges["src"].to_numpy()[order]
        edst = edges["dst"].to_numpy()[order]
        ew = edges["weight"].to_numpy()[order]
        ext = [edges[c].to_numpy()[order] for c in extra]
        # CSR over the block's source vertices
        uniq, starts = np.unique(esrc, return_index=True)
        starts = np.append(starts, len(esrc))
        src_pos = {int(s): (int(starts[i]), int(starts[i + 1])) for i, s in enumerate(uniq)}

        # seed the local best map with the incoming frontier labels so
        # intra-block improvements compare against them
        best: dict[tuple, tuple] = {}
        for row in zip(*(frontier[c].tolist() for c in cols)):
            k, lab = row[:nk], row[nk:]
            if k not in best or lab < best[k]:
                best[k] = lab
        out: dict[tuple, tuple] = {}
        stack = list(best.keys())
        while stack:
            k = stack.pop()
            u = k[-1]
            lu = best[k]
            rng = src_pos.get(u)
            if rng is None:
                continue
            for i in range(rng[0], rng[1]):
                v = int(edst[i])
                w = float(ew[i])
                c = lu[0] + w
                if c > cutoff:
                    continue
                kv = (*k[:-1], v)
                cand = rule(lu, u, c, w, *[a[i] for a in ext])
                if kv not in best or cand < best[kv]:
                    best[kv] = cand
                    out[kv] = cand
                    # only same-block destinations can relax further locally
                    if (v // block_width) % num_blocks == (u // block_width) % num_blocks:
                        stack.append(kv)

        # emit only labels set/improved by local relaxation (the incoming
        # frontier is already in the global state)
        return pd.DataFrame([(*k, *lab) for k, lab in out.items()], columns=cols)

    return fn


def run_block_centric(
    spark, name, edges, init, key, label, schema, rule, cutoff, num_blocks,
    block_width, max_iter, extra=(), runner=None, resume=False,
) -> SuperstepResult:
    """The block-centric superstep loop of both CSR kernels. ``init`` is the
    seed state, ``schema`` the DDL of ``key + label``, ``extra`` the edge
    columns besides (src, dst, weight) that ``rule`` reads; ``num_blocks``
    None means the session's shuffle partitions. ``runner``/``resume`` are
    the caller's, as for every other superstep loop (default: a plain
    non-durable runner).

    One Spark job per superstep: the state carries a ``_new`` frontier
    flag and the improved-row count rides the runner's checkpoint action
    as an Observation metric (same pattern as bounded_sssp)."""
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    blk = lambda c: F.pmod(F.floor(F.col(c) / F.lit(block_width)), F.lit(num_blocks))  # noqa: E731
    eb = edges.select("src", "dst", "weight", *extra).withColumn("_blk", blk("src"))
    fn = _local_relax_factory(key, label, rule, extra, num_blocks, float(cutoff), block_width)
    cols = [*key, *label]
    merge = min_label_merge(key, label)

    def step(state: DataFrame, i: int, prev):
        msgs = (
            state.filter(F.col("_new"))
            .select(*cols)
            .withColumn("_blk", blk("node"))
            .groupBy("_blk")
            .cogroup(eb.groupBy("_blk"))
            .applyInPandas(fn, schema=schema)
        )
        return merge(state, msgs)

    result = (runner or SuperstepRunner(spark)).run(
        name, init.withColumn("_new", F.lit(True)), step, max_iter=max_iter,
        converged_key="cnt", resume=resume,
    )
    return replace(result, state=result.state.select(*init.columns))


def bounded_sssp_csr(
    spark: SparkSession,
    edges_w: DataFrame,
    seeds: DataFrame,
    cutoff: float,
    num_blocks: Optional[int] = None,
    block_width: int = 1,
    max_iter: int = 10_000,
) -> DataFrame:
    """Block-centric variant of ``bounded_sssp`` (scalar cutoff, no sinks;
    the plain kernel covers the full parameter surface). Returns the same
    converged state (qid, node, dist, prev, prev_dist).

    ``block_width``: ids are blocked by ``(id // block_width) % num_blocks``
    — width 1 is a round-robin (hash-like) blocking; a larger width gives
    RANGE blocking, which is what makes block-centric iteration pay off on
    graphs whose id assignment preserves locality (crawl-order url ids,
    dictionary-encoded host-sorted ids): intra-block chains collapse into
    one superstep."""
    return run_block_centric(
        spark, "sssp_csr", edges_w,
        seeds.select("qid", "node", "dist", "prev", "prev_dist"),
        ["qid", "node"], ["dist", "prev_dist", "prev"],
        "qid long, node long, dist double, prev_dist double, prev long",
        lambda lu, u, c, w: (c, lu[0], u),
        cutoff, num_blocks, block_width, max_iter,
    ).state
