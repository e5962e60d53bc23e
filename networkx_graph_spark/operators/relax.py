"""The min-label merge shared by every label-correcting kernel.

``bounded_sssp``, ``zigzag_sssp``, hash-min CC (kernels/components.py)
and the block-centric kernels (operators/sssp_csr.py) relax candidate
labels into a state keyed by ``key`` columns that carries a
lexicographically ordered ``label``:

- SSSP: key ``(qid, node)``, label ``(dist, prev_dist, prev, *payload)``;
- zigzag: key ``(node,)``, label ``(dist, g, prev)``;
- CC: key ``(id,)`` (``(node,)`` when blocked), label ``(component,)``.

A superstep's candidates collapse to one minimum per key
(``min(struct(label))``, map-side partial) and meet the old state in a
single full-outer join, and one projection over the joined rows builds
the next state: a row takes the candidate and ``_new = true`` when the
candidate is strictly smaller, else keeps its old label with
``_new = false``. ``_new`` marks the next frontier, and ``cnt`` (the
number of improved rows, the convergence metric of a kernel that relaxes
every improved row; ``operators.sssp`` prunes its frontier and converges
on its own ``live`` count) rides the runner's checkpoint action. One
join computes the same rows as a left join to find the improvements plus
an anti-join and a union to replace them, which walk the state three
times with two key joins.
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
    key_cols = [F.col(c) for c in key]
    cand_agg = F.min(F.struct(*label)).alias("_cand")
    cand = F.col("_cand")
    # a state row's label is never null: null marks a candidate-only key
    old = F.when(F.col(label[0]).isNotNull(), F.struct(*label))
    better = cand.isNotNull() & (old.isNull() | (cand < old))
    pick = F.when(better, cand).otherwise(old)
    state_proj = (*key_cols, *[pick[c].alias(c) for c in label], better.alias("_new"))
    cnt = F.coalesce(F.sum(F.col("_new").cast("long")), F.lit(0))

    def merge(state: DataFrame, msgs: DataFrame) -> tuple[DataFrame, dict]:
        best = msgs.groupBy(*key_cols).agg(cand_agg)
        return state.join(best, key, "full").select(*state_proj), {"cnt": cnt}

    return merge
