"""Connected components: hash-min, block-centric and large-star/small-star.

Canonical kernel (north rule, BASELINE.json:14). Component label = the
minimum vertex id in the (weakly) connected component — identical for all
three algorithms, so they cross-check each other. Each stops on an exact
test, runs on the caller's ``SuperstepRunner`` (durable checkpoints and
``resume`` alike), and leaves bucket checks to that runner.

- ``hash-min``: the frontier min-label merge (operators/relax.py) with
  the component as the label — each superstep the vertices whose label
  fell send it to their (undirected) neighbours, and every vertex keeps
  the min of its label and what it received. O(diameter) rounds.
- ``blocked``: ``run_block_centric`` (operators/sssp_csr.py) with the
  component as its label — intra-block chains collapse into one
  superstep, so rounds ≈ block-boundary crossings.
- ``two-phase``: alternating large-star/small-star rewrites (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) —
  O(log n) rounds on high-diameter graphs; the edge set itself is the
  state and converges to stars rooted at component minima. A superstep
  whose (count, hash-sum) signature equals the previous one is confirmed
  by an anti-join, so the stop is exact.

Scale: hash-min and two-phase are pure join+groupBy supersteps, AQE skew
handling on. The state's key is ``id`` (hash-min), ``node`` (blocked) or
``u`` (two-phase); a bucketed runner must bucket by it.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relax import min_label_merge
from ..operators.sssp_csr import run_block_centric
from ..plans.supersteps import SuperstepRunner, SuperstepResult


def _vertices(edges: DataFrame) -> DataFrame:
    """Every endpoint of ``edges`` once, as ``id``."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _partitions(spark) -> int:
    """The session's shuffle partition count, which every CC and LPA
    superstep plans with."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _sym_clustered(edges: DataFrame, num_partitions: int) -> DataFrame:
    """Undirected view (both directions, self-loops dropped, deduped) and
    src-clustering in ONE exchange: the dedup runs partition-local on top
    of the src-hash repartition the superstep join needs anyway
    (HashPartitioning(src) satisfies ClusteredDistribution([src, dst])) —
    a distinct-then-repartition shape pays a (src, dst)-hash exchange AND
    a src-hash exchange."""
    return (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .repartition(num_partitions, "src")
        .dropDuplicates(["src", "dst"])
        # src-sort before the callers cache it: the in-memory scan then
        # reports the ordering and the per-round sort-merge state⋈edges
        # join skips re-sorting the edge side
        .sortWithinPartitions("src")
    )


def connected_components(
    edges: DataFrame,
    algorithm: str = "hashmin",
    max_iter: int = 200,
    runner: Optional[SuperstepRunner] = None,
    name: str = "components",
    resume: bool = False,
) -> SuperstepResult:
    """edges (src, dst) -> state (id, component), component = min id reachable.
    Every superstep plans with the session's shuffle partition count."""
    if algorithm == "hashmin":
        return _cc_hashmin(edges, max_iter, runner, name, resume)
    if algorithm == "twophase":
        return _cc_twophase(edges, max_iter, runner, name, resume)
    if algorithm == "blocked":
        return _cc_blocked(edges, max_iter, runner, name, resume)
    raise ValueError(f"unknown algorithm: {algorithm}")


def _cc_blocked(edges, max_iter, runner, name, resume):
    """Block-centric CC: ``run_block_centric`` with the component as the
    label. Every vertex starts at its own id, every (symmetric) edge has
    weight 0 and passes the label on unchanged, so the fixpoint label is
    the minimum id reachable. The block-local fixpoint collapses
    arbitrarily long intra-block chains (range blocks of 1024 ids) into
    one superstep, so global rounds ≈ block-boundary crossings instead of
    graph diameter (the high-diameter lever; twophase is the O(log n)
    one)."""
    init = _vertices(edges).select(
        F.col("id").alias("node"), F.col("id").alias("component")
    )
    spark = edges.sparkSession
    num_partitions = _partitions(spark)
    ew = _sym_clustered(edges, num_partitions).select(
        "src", "dst", F.lit(0.0).alias("weight")
    )
    result = run_block_centric(
        spark, name, ew, init, ["node"], ["component"],
        "node long, component long", lambda lu, u, c, w: lu, float("inf"),
        num_partitions, 1024, max_iter, runner=runner, resume=resume,
    )
    if not result.converged:
        raise RuntimeError(
            f"blocked CC did not reach the fixpoint in max_iter={max_iter} "
            "supersteps — components would be wrong; raise max_iter"
        )
    result.state = result.state.select(F.col("node").alias("id"), "component")
    return result


def _cc_hashmin(edges, max_iter, runner, name, resume):
    """Hash-min as the frontier min-label merge: a vertex whose label fell
    last superstep sends it to its neighbours (Pregel's vote-to-halt).
    Labels only fall, so a vertex that kept its label has nothing new to
    send and every superstep's labels equal one full synchronous round's.
    The merge's full-outer join keeps a vertex with no neighbour at its
    own id."""
    spark = edges.sparkSession
    runner = runner or SuperstepRunner(spark)
    sym = _sym_clustered(edges, _partitions(spark)).persist()
    sym.count()
    merge = min_label_merge(["id"], ["component"])
    init = _vertices(edges).select(
        "id", F.col("id").alias("component"), F.lit(True).alias("_new")
    )

    def step(state: DataFrame, i: int, prev):
        msgs = (
            state.filter(F.col("_new"))
            .join(sym, F.col("id") == F.col("src"))
            .select(F.col("dst").alias("id"), "component")
        )
        return merge(state, msgs)

    result = runner.run(
        name, init, step, max_iter=max_iter, converged_key="cnt", resume=resume
    )
    sym.unpersist()
    result.state = result.state.select("id", "component")
    return result


def _cc_twophase(edges, max_iter, runner, name, resume):
    """Alternating large-star / small-star (Kiveris et al. SoCC'14).

    State = the edge set as parent links (u, v); converges when one
    round of large-star + small-star changes nothing; final state maps
    every vertex to the component minimum.

    The stop is exact: an order-insensitive (count, sum(xxhash64(u, v)))
    signature rides the materialize action, and a signature that differs
    from the previous superstep's proves the edge set changed. An equal
    signature (the converging superstep, or a hash collision) is confirmed
    by one anti-join against the previous state.
    """
    spark = edges.sparkSession
    num_partitions = _partitions(spark)
    runner = runner or SuperstepRunner(spark)
    # used exactly once, in the final label join AFTER convergence — keep it
    # lazy (the former eager persist+count paid a full edge pass before the
    # first superstep for a table read once at the end)
    all_vertices = _vertices(edges)
    # one canonical record per undirected pair, built directly with
    # least/greatest (the former _sym().filter(src<dst) shape doubled the
    # rows before deduping); the dedup runs partition-local on top of the
    # u-hash exchange the first round needs anyway (HashPartitioning(u)
    # satisfies ClusteredDistribution([u, v])) — one exchange, not two
    init = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .repartition(num_partitions, "u")
        .dropDuplicates(["u", "v"])
    )

    def _nbrs(state: DataFrame) -> DataFrame:
        return state.select("u", "v").unionByName(
            state.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _nbrs_with_min(state: DataFrame) -> DataFrame:
        # The per-u minimum m = min(Γ(u) ∪ {u}) attached to every
        # symmetrized pair in ONE u-hash exchange + one per-partition
        # sort, via a window. The former aggregate+join shape planned the
        # union TWICE (the groupBy consumer and the join consumer each
        # shuffled their own column-pruned copy — two parallel ~0.5-0.7 s
        # map jobs per star at 1M edges, never merged by exchange reuse)
        # and then paid a sort-merge join to re-attach m.
        from pyspark.sql import Window

        return _nbrs(state).repartition(num_partitions, "u").withColumn(
            "m", F.min(F.least("v", "u")).over(Window.partitionBy("u"))
        )

    # Dedup placement: ONLY small_star (the superstep's final output)
    # canonicalizes the pair set, with a partition-local dropDuplicates ON
    # TOP OF the u-hash repartition the window needs anyway
    # (HashPartitioning(u) satisfies ClusteredDistribution([u, v])).
    # large_star emits its (v, m) pairs RAW — duplicates flow into
    # small_star's per-u window, whose min is multiplicity-insensitive, and
    # die in small_star's trailing dedup. The former shape paid a third
    # exchange + dedup per superstep to canonicalize the intermediate;
    # measured A/B at 1M edges (3 paired rounds, same session): 12.8/11.7/
    # 9.6 s -> 11.5/10.1/9.3 s with assignment-identical output (0 diffs
    # over 1M vertices) and identical iteration count.
    def large_star(state: DataFrame) -> DataFrame:
        # for each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v > u
        return (
            _nbrs_with_min(state)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(state: DataFrame) -> DataFrame:
        # for each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v < u and (u, m)
        nm = _nbrs_with_min(state)
        out = nm.filter(F.col("v") < F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(
            # one (u, m) row per u; the dedup is partition-local on the
            # u-clustered window output (no extra exchange)
            nm.select("u", F.col("m").alias("v")).dropDuplicates(["u"])
        )
        return (
            out.filter(F.col("u") != F.col("v"))
            .repartition(num_partitions, "u")
            .dropDuplicates(["u", "v"])
        )

    # convergence = the edge SET stopped changing. The set signature
    # (count + sum of xxhash64(u, v)) rides the materialize action, so a
    # superstep that changed the set costs no extra job; only an equal
    # signature pays the anti-join that proves the sets equal.
    def step(state: DataFrame, i: int, prev):
        def changed(new_state, got):
            if prev is None or (prev.get("cnt"), prev.get("chk")) != (got["cnt"], got["chk"]):
                return 1
            # equal cardinality + both sides distinct: new ⊆ old ⇒ equal
            # (the runner frees the old state only after this)
            return new_state.join(state, ["u", "v"], "left_anti").limit(1).count()

        return small_star(large_star(state)), {
            "cnt": F.count(F.lit(1)),
            "chk": F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            "changed": changed,
        }

    result = runner.run(
        name, init, step, max_iter=max_iter, converged_key="changed", tol=0, resume=resume
    )
    # converged state is a forest of depth-1 stars rooted at component
    # minima: one min-aggregation reads the root off for every member
    links = (
        _nbrs(result.state)
        .groupBy("u")
        .agg(F.min(F.least("v", "u")).alias("component"))
        .select(F.col("u").alias("id"), "component")
    )
    result.state = all_vertices.join(links, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
    return result
