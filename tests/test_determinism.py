"""Partition-invariance / determinism gates (north rule: identical
results at different parallelism; SURVEY.md §5e)."""

from networkx_graph_spark.sources.datagen import powerlaw_edges, uniform_edges


def test_datagen_partition_invariant(spark):
    a = powerlaw_edges(spark, 10_000, 50_000, seed=7, num_partitions=3)
    b = powerlaw_edges(spark, 10_000, 50_000, seed=7, num_partitions=17)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    u1 = uniform_edges(spark, 1_000, 5_000, seed=9, num_partitions=2)
    u2 = uniform_edges(spark, 1_000, 5_000, seed=9, num_partitions=13)
    assert u1.exceptAll(u2).isEmpty() and u2.exceptAll(u1).isEmpty()


def test_pagerank_partition_invariant(spark):
    """Same ranks regardless of shuffle partitioning (the aggregation
    order differs, but the per-iteration checkpointed math is identical
    up to FP addition order; we assert allclose 1e-12)."""
    from networkx_graph_spark.kernels.pagerank import pagerank

    edges = uniform_edges(spark, 500, 2_000, seed=3).distinct().persist()
    edges.count()
    r1 = {r["id"]: r["rank"] for r in pagerank(edges, tol=0, max_iter=5, num_partitions=2).state.collect()}
    r2 = {r["id"]: r["rank"] for r in pagerank(edges, tol=0, max_iter=5, num_partitions=16).state.collect()}
    edges.unpersist()
    assert set(r1) == set(r2)
    for k in r1:
        assert abs(r1[k] - r2[k]) < 1e-12, k


def test_sssp_partition_invariant(spark):
    """SSSP state (dists AND tie-broken prevs) identical at different
    partition counts — the determinism property the tie-break struct
    buys us."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import shortest_paths

    edges = uniform_edges(spark, 300, 1_500, seed=5).distinct()

    def run(parts):
        g = SparkDiGraph.from_edge_df(spark, edges, round_n=3)
        g.num_partitions = parts
        gen = shortest_paths(g, "7", cutoff=4.0)
        out = (dict(gen.dists()), dict(gen.prevs()))
        g.unpersist()
        return out

    d1, p1 = run(2)
    d2, p2 = run(16)
    assert d1 == d2
    assert p1 == p2
