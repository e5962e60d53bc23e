"""The min-label merge shared by every label-correcting kernel.

``bounded_sssp``, ``zigzag_sssp`` and both CSR kernels (operators/
sssp_csr.py) relax candidate labels into a state keyed by ``key`` columns
that carries a lexicographically ordered ``label``:

- SSSP: key ``(qid, node)``, label ``(dist, prev_dist, prev, *payload)``;
- zigzag: key ``(node,)``, label ``(dist, g, prev)``.

A superstep's candidates collapse to one minimum per key
(``min(struct(label))``, map-side partial) and meet the old state in a
single full-outer join: a row takes the candidate and ``_new = true``
when the candidate is strictly smaller, else keeps its old label with
``_new = false``. ``_new`` marks the next frontier, and ``cnt`` (the
number of improved rows, the convergence metric) rides the runner's
checkpoint action. One join computes the same rows as a left join to
find the improvements plus an anti-join and a union to replace them,
which walk the state three times with two key joins.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_label_merge(
    key: Sequence[str], label: Sequence[str]
) -> Callable[[DataFrame, DataFrame], tuple[DataFrame, dict]]:
    """Return ``merge(state, msgs) -> (next_state, {"cnt": Column})``.

    ``state`` holds ``key``, ``label`` and ``_new``; ``msgs`` holds ``key``
    and ``label``. The Columns are built here once per kernel call: they
    are immutable and resolve by name, so rebuilding them every superstep
    would only pay py4j/Catalyst construction time again."""
    key = list(key)
    cand_agg = F.min(F.struct(*label)).alias("_cand")
    old_proj = (*key, F.struct(*label).alias("_old"))
    better = F.col("_cand").isNotNull() & (
        F.col("_old").isNull() | (F.col("_cand") < F.col("_old"))
    )
    pick = F.when(better, F.col("_cand")).otherwise(F.col("_old"))
    state_proj = (*key, *[F.col(f"_m.{c}").alias(c) for c in label], "_new")
    cnt = F.coalesce(F.sum(F.col("_new").cast("long")), F.lit(0))

    def merge(state: DataFrame, msgs: DataFrame) -> tuple[DataFrame, dict]:
        best = msgs.groupBy(*key).agg(cand_agg)
        return (
            state.select(*old_proj)
            .join(best, key, "full")
            .withColumn("_m", pick)
            .withColumn("_new", better)
            .select(*state_proj)
        ), {"cnt": cnt}

    return merge
