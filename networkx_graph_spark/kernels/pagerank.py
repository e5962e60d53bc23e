"""PageRank with damping, dangling-mass redistribution, 1e-6 convergence.

Canonical link-graph kernel required by the north rule (BASELINE.json:14);
not present in the reference (its scope is distance queries) — this is the
standard published algorithm (Brin & Page 1998; dangling handling per the
usual power-iteration formulation):

    r'(v) = (1-d)/N + d * ( sum_{u->v} r(u)/outdeg(u) + dangling_mass/N )

converging when ``max|r' - r| <= tol``.

Scale design (per-superstep job count matters as much as shuffle volume):

- contribution edges ``(src, dst, inv_deg)`` are joined once and
  pre-partitioned by ``src`` (persisted) — every superstep's ranks⋈edges
  join reuses that exchange;
- exactly ONE Spark job per superstep: the convergence delta AND the
  next iteration's dangling mass are ``Observation`` metrics collected as
  a side effect of the checkpoint action (no separate aggregation jobs,
  no broadcast subjob) — the dangling mass enters the following plan as a
  literal;
- the contribution aggregation is map-side-partial ``sum`` — power-law
  in-degree hubs reduce per-partition before the shuffle, so the kernel
  runs with AQE off (``session.KERNEL_CONF`` has the measurement);
- state checkpoints via SuperstepRunner (lineage truncation + durable
  parquet resume, north rule).
"""

from __future__ import annotations

from typing import Optional

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.supersteps import SuperstepRunner, SuperstepResult
from ..session import KERNEL_CONF, kernel_conf


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    runner: Optional[SuperstepRunner] = None,
    name: str = "pagerank",
    resume: bool = False,
    num_partitions: Optional[int] = None,
    fuse: int = 1,
    assume_distinct: bool = False,
) -> SuperstepResult:
    """edges: (src BIGINT, dst BIGINT). Returns state (id, rank).

    ``fuse``: the runner cadence — one power iteration per superstep
    (each materialized and recorded individually, numbered by iteration),
    with the convergence test and the durable checkpoint every ``fuse``-th
    superstep and on the last one. The iteration COUNT is unchanged; a
    tolerance run may refine up to ``fuse-1`` iterations past the first
    sub-tol delta (each ≤ tol). The dangling mass enters each plan as a
    driver literal from the previous superstep's Observation: in-plan
    chaining of several iterations (intermediate dangling mass as a
    broadcast scalar) was measured strictly slower — see the step
    function comment. Plans are identical to fuse=1 plans, so results
    match fuse=1 up to the Observation accumulator merge order (ulp-level,
    contention-dependent). Oracle-pinned fixed-round queries keep fuse=1.

    ``assume_distinct``: the caller asserts ``edges`` carries no duplicate
    (src, dst) rows, skipping the ingest dedup entirely. Duplicate edges
    with the flag set would be double-counted (both in out-degree and in
    contributions) — only set it for sources that are distinct by
    construction (``pages_to_edges`` output, a ``.distinct()``-ed table).

    Concurrency note: for the duration of the call the kernel adjusts
    session-level SQL conf (shuffle partitions to ``num_partitions``;
    adaptive execution off) through ``session.kernel_conf``, which
    restores it on exit, also on error. Calls are driver-sequential by
    design; do not run other queries on the same SparkSession
    concurrently with a pagerank call.
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if fuse < 1:
        raise ValueError("fuse must be >= 1")
    runner = runner or SuperstepRunner(spark)
    args = (edges, damping, tol, max_iter, runner, name, resume,
            num_partitions, fuse, assume_distinct)
    # Shuffle partitions follow the caller's explicit partition count:
    # otherwise a tuned num_partitions (small convergence graphs) still
    # plans every aggregation at the session default and pays a
    # re-exchange between the mismatched counts every superstep. AQE is
    # off (KERNEL_CONF in session.py has the measurement).
    confs = {**KERNEL_CONF["pagerank"], "spark.sql.shuffle.partitions": str(num_partitions)}
    with kernel_conf(spark, confs):
        return _pagerank_impl(*args)


def _plan_is_distinct_on(df: DataFrame, cols: tuple) -> bool:
    """True when ``df``'s analyzed plan is literally a ``Deduplicate`` over
    exactly ``cols`` (the caller passed ``edges.distinct()`` on a
    two-column table): the kernel's ingest dedup is then provably
    redundant — the same soundness as ``assume_distinct``, derived from
    the plan instead of asserted. This is redundant-dedup elimination
    that Catalyst cannot perform itself here because the kernel's
    ``repartition`` (and a persist boundary) sits between the two
    Deduplicate nodes. Conservative: any doubt (different node, extra
    columns, py4j surprises) returns False and the dedup runs."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "Deduplicate":
            return False
        keys = plan.keys()
        key_names = {keys.apply(i).name() for i in range(keys.size())}
        out = plan.output()
        out_names = {out.apply(i).name() for i in range(out.size())}
        return key_names == out_names == set(cols)
    except Py4JError:
        return False


def _pagerank_impl(
    edges: DataFrame,
    damping: float,
    tol: float,
    max_iter: int,
    runner: SuperstepRunner,
    name: str,
    resume: bool,
    num_partitions: int,
    fuse: int,
    assume_distinct: bool,
) -> SuperstepResult:
    # Setup: ONE full-edge exchange total. The src-hash repartition the
    # superstep join needs anyway is established first; the dedup then runs
    # partition-local on top of it (HashPartitioning(src) satisfies
    # ClusteredDistribution([src, dst]), so dropDuplicates adds no second
    # exchange), and inv_deg comes from a per-src window count over the
    # SAME src-clustered, src-sorted pass — no separate out-degree
    # aggregation and no dedup⋈out_deg join (the former join shape had to
    # persist the dedup subtree because the planner re-executed it for
    # both join children, then paid a 16M-row sort on each side; the
    # window needs exactly the src-sort the cached table wants anyway:
    # measured 2.7 s -> 1.8 s warm at 16M edges, bit-identical content).
    # The previous r5 shape recomputed a full (src, dst)-hash distinct up
    # to five times per call (vertices, out_deg, cedges, dangling
    # anti-join, init join).
    from pyspark.sql import Window

    dedup = edges.select("src", "dst").repartition(num_partitions, "src")
    if not assume_distinct:
        assume_distinct = _plan_is_distinct_on(edges, ("src", "dst"))
    if not assume_distinct:
        dedup = dedup.dropDuplicates(["src", "dst"])
    # contribution edges: ONLY long-lived persisted edge table;
    # src-clustered AND src-sorted within partitions (the window's sort
    # requirement) — the in-memory scan reports both, so every
    # superstep's sort-merge ranks⋈edges join needs neither an exchange
    # nor a re-sort of the edge side (the dominant per-superstep sort at
    # 16M edges)
    cedges = (
        dedup.select(
            "src",
            "dst",
            (F.lit(1.0) / F.count("*").over(Window.partitionBy("src"))).alias(
                "inv_deg"
            ),
        )
        .persist()
    )
    cedges.count()
    # Vertex set, dangling flags, and both setup counts in ONE map-side-
    # partial aggregation pass over the cached cedges: a vertex is
    # dangling iff it never occurs as src, i.e. max(has_out) over its
    # endpoint occurrences is false. The former shape ran a separate
    # endpoint distinct, a distinct-src count, an anti-join (r4) and an
    # init left-join; this is one exchange and one cached table.
    vstate = (
        cedges.select(F.col("src").alias("id"), F.lit(True).alias("_ho"))
        .unionByName(cedges.select(F.col("dst").alias("id"), F.lit(False).alias("_ho")))
        .groupBy("id")
        .agg(F.max("_ho").alias("_ho"))
        .persist()
    )
    counts = vstate.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("_ho").cast("long")), F.lit(0)).alias("n_src"),
    ).collect()[0]
    n, n_dangling = counts["n"], counts["n"] - counts["n_src"]

    # vstate is already hash(id)-clustered (the groupBy exchange) — the
    # init projection keeps that partitioning; the within-partition sort
    # rides into the first superstep's state scan via localCheckpoint
    init = vstate.select(
        "id",
        F.lit(1.0 / n).alias("rank"),
        (~F.col("_ho")).alias("dangling"),
    ).sortWithinPartitions("id")

    # Loop-invariant plan fragments, built ONCE: the per-iteration
    # driver cost was measured (BENCH/r06/probe_tri_phases.py) at ~0.14 s
    # of py4j Column/DataFrame construction + ~0.04 s Catalyst per
    # materialized iteration — ~40% of a 750k-edge superstep's wall.
    # Column objects are immutable unresolved expressions, so every
    # name-based fragment is reusable across iterations; only the
    # dangling-mass literal changes per iteration. All names are
    # unambiguous across the join (state: id/rank/dangling; edges:
    # _csrc/_cdst/_cinv), so no DataFrame-bound refs or per-iteration
    # alias tags are needed (each iteration is planned separately).
    ce = cedges.select(
        F.col("src").alias("_csrc"),
        F.col("dst").alias("_cdst"),
        F.col("inv_deg").alias("_cinv"),
    )
    _jcond = F.col("id") == F.col("_csrc")
    _contrib_proj = (
        F.col("_cdst").alias("id"),
        (F.col("rank") * F.col("_cinv")).alias("c"),
    )
    _agg_c = F.sum("c").alias("_c")
    _prev_proj = ("id", F.col("rank").alias("prev_rank"), "dangling")
    _coal_c = F.coalesce(F.col("_c"), F.lit(0.0))
    _base_lit = F.lit((1.0 - damping) / n)
    _damp_lit = F.lit(damping)
    _delta_metric = F.max(F.abs(F.col("rank") - F.col("prev_rank")))
    _dm_metric = F.coalesce(F.sum(F.when(F.col("dangling"), F.col("rank"))), F.lit(0.0))
    _n_f = float(n)

    def _one_update(cur: DataFrame, dm: float) -> DataFrame:
        """One rank update as a plan transform (no action). ``dm / n`` is
        divided in Python — bitwise the same IEEE-754 double division
        Catalyst's constant folder performed on the former in-plan
        ``lit(dm) / lit(n)`` pair (rank sums verified unchanged)."""
        contribs = (
            cur.join(ce, _jcond)
            .select(*_contrib_proj)
            .groupBy("id")
            .agg(_agg_c)
        )
        return (
            cur.select(*_prev_proj)
            .join(contribs, "id", "left")
            .select(
                "id",
                (_base_lit + _damp_lit * (F.lit(dm / _n_f) + _coal_c)).alias("rank"),
                "prev_rank",
                "dangling",
            )
        )

    def step(state: DataFrame, i: int, prev: Optional[dict]):
        # The dangling mass enters the plan as a driver literal: the
        # previous superstep's observed value (resumed from its
        # metrics.jsonl record, which roundtrips the double exactly, so a
        # resumed plan is bitwise an uninterrupted one), the uniform
        # init's value, or — resuming without a readable record — a
        # recompute from the loaded state.
        # In-plan chaining of several iterations per materialization (the
        # former fused shape: intermediate dangling mass as a broadcast
        # scalar cross-joined into the next update) was MEASURED strictly
        # slower at compute scale: the executed fuse=2 plan had 13
        # SortMergeJoins and ZERO ReusedExchange — column pruning
        # specializes each consumer's copy of the sub-plan, the id-hash
        # repartition cap is elided by the optimizer (child already
        # hash(id, P)-partitioned), and the whole first iteration
        # re-executed up to 4x per step (twice in the main job plus two
        # broadcast-future jobs). At 16M edges: 5.9-6.4 s per fused pair
        # vs 1.1-1.2 s per materialized iteration (same session, warm); a
        # persist()-barrier variant that stopped the re-execution still
        # paid cache write + two broadcast futures and stayed ~3x slower
        # than materializing. Every iteration is therefore its own
        # superstep; ``fuse`` is only the runner cadence.
        dm = prev.get("dangling_mass") if prev else None
        if dm is None and i == 0:
            dm = n_dangling / n if n else 0.0
        elif dm is None:
            dm = (
                state.filter(F.col("dangling"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .collect()[0][0]
            )
        # the plan ends in the id-keyed sort-merge join, whose output is
        # already hash(id)-partitioned and id-sorted; the non-adaptive
        # localCheckpoint preserves both into the next superstep's state
        # scan. prev_rank exists only for the delta metric: the runner
        # projects it OUT of the materialized state (the metric keeps the
        # CollectMetrics node's inputs alive, the checkpoint shrinks by 8
        # bytes/row — ~30% of the per-iteration state write+scan)
        return _one_update(state, float(dm)), {
            "max_delta": _delta_metric,
            "dangling_mass": _dm_metric,
        }

    result = runner.run(
        name,
        init,
        step,
        max_iter=max_iter,
        converged_key="max_delta",
        tol=tol,
        resume=resume,
        cadence=fuse,
    )
    result.state = result.state.select("id", "rank")
    for df in (vstate, cedges):
        df.unpersist()
    return result
