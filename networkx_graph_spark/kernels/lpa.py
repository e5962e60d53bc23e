"""Synchronous label propagation (community detection).

Canonical kernel (north rule, BASELINE.json:14). Standard synchronous LPA
(Raghavan et al. 2007) with a deterministic tie-break: each round every
vertex adopts the label that is most frequent among its (undirected)
neighbors; ties break to the smallest label. Deterministic under any
parallelism — required for the local[8] vs local[32] identical-results
gate.

Each superstep is: join labels to symmetric edges → count (dst, label)
pairs (map-side partial) → window row_number ordered (count desc, label
asc) → pick rank 1. Convergence = zero label changes (capped: synchronous
LPA can oscillate on bipartite structures, so ``max_iter`` is a hard stop
and the iteration count is reported in metrics).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.supersteps import SuperstepRunner, SuperstepResult
from .components import _partitions, _sym_clustered, _vertices


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    runner: Optional[SuperstepRunner] = None,
    name: str = "lpa",
    resume: bool = False,
) -> SuperstepResult:
    """edges (src, dst) -> state (id, label). Every superstep plans with
    the session's shuffle partition count."""
    spark = edges.sparkSession
    num_partitions = _partitions(spark)
    runner = runner or SuperstepRunner(spark)
    sym = _sym_clustered(edges, num_partitions).persist()
    sym.count()
    all_vertices = _vertices(edges).persist()
    all_vertices.count()
    init = all_vertices.select("id", F.col("id").alias("label")).repartition(
        num_partitions, "id"
    )

    def step(state: DataFrame, i: int, prev):
        ss = sym.select(F.col("src").alias("_ssrc"), F.col("dst").alias("_sdst"))
        votes = (
            state.join(ss, state["id"] == F.col("_ssrc"))
            .select(F.col("_sdst").alias("id"), state["label"].alias("l"))
            .groupBy("id", "l")
            .agg(F.count("*").alias("cnt"))
        )
        # winner per id = label with max cnt, ties to the smallest label —
        # expressed as one map-side-partial min-struct aggregation
        # ((-cnt, l) ordering) instead of a row_number window, which paid
        # a per-id exchange + full sort after the (id, l)-keyed vote
        # aggregation. Exact integer tie-break, identical winners.
        winner = (
            votes.groupBy("id")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("l").alias("l"))).alias("m")
            )
            .select("id", F.col("m.l").alias("new_label"))
        )
        new_state = (
            state.join(winner, "id", "left")
            .select(
                "id",
                F.coalesce("new_label", "label").alias("label"),
                F.col("label").alias("prev_label"),
            )
            .repartition(num_partitions, "id")
        )
        return new_state, {
            "changed": F.coalesce(
                F.sum((F.col("label") != F.col("prev_label")).cast("long")), F.lit(0)
            )
        }

    result = runner.run(
        name, init, step, max_iter=max_iter, converged_key="changed", tol=0, resume=resume
    )
    sym.unpersist()
    all_vertices.unpersist()
    return result
