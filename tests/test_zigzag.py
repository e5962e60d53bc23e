"""Zigzag routing goldens (/root/reference/tests/test_basic.py:1274-1446)."""

from networkx_graph_spark.operators.zigzag import shortest_zigzag_path


def test_zigzag_point_queries(graph1):
    assert shortest_zigzag_path(graph1, "w3", "w3", cutoff=100).to_dict() == {
        "dist": 0.0,
        "nodes": ["w3"],
        "directions": [1],
    }
    path = shortest_zigzag_path(graph1, "w3", "w5", cutoff=15)
    assert path.to_dict() == {
        "dist": 15.0,
        "nodes": ["w3", "w2", "w5"],
        "directions": [-1, 1, 1],
    }
    assert shortest_zigzag_path(graph1, "w3", "w5", cutoff=10) is None

    path = shortest_zigzag_path(graph1, "w4", "w2", cutoff=30)
    assert path.to_dict() == {
        "dist": 10.0,
        "nodes": ["w4", "w3", "w2"],
        "directions": [-1, -1, 1],
    }
    path = shortest_zigzag_path(graph1, "w4", "w2", cutoff=30, direction=1)
    assert path.to_dict() == {
        "dist": 18.0,
        "nodes": ["w4", "w6", "w5", "w2"],
        "directions": [1, 1, -1, -1],
    }


def test_zigzag_generator_full(graph1):
    generator = shortest_zigzag_path(graph1, "w4", cutoff=30)
    assert generator.dists() == {
        ("w1", -1): 20.0,
        ("w1", 1): 10.0,
        ("w3", -1): 10.0,
        ("w7", 1): 13.0,
        ("w3", 1): 0.0,
        ("w4", -1): 0.0,
        ("w4", 1): 0.0,
        ("w5", 1): 3.0,
        ("w2", -1): 10.0,
        ("w6", -1): 0.0,
        ("w2", 1): 18.0,
        ("w6", 1): 3.0,
        ("w7", -1): 3.0,
        ("w5", -1): 18.0,
    }
    assert generator.prevs() == {
        ("w2", -1): ("w3", -1),
        ("w6", -1): ("w4", 1),
        ("w1", -1): ("w1", 1),
        ("w2", 1): ("w5", -1),
        ("w6", 1): ("w6", -1),
        ("w1", 1): ("w3", -1),
        ("w3", -1): ("w3", 1),
        ("w7", 1): ("w7", -1),
        ("w3", 1): ("w4", -1),
        ("w7", -1): ("w6", 1),
        ("w5", 1): ("w6", 1),
        ("w5", -1): ("w5", 1),
    }
    assert sorted(generator.destinations()) == sorted(
        [
            (0.0, "w4"),
            (0.0, "w3"),
            (0.0, "w6"),
            (3.0, "w5"),
            (3.0, "w7"),
            (10.0, "w2"),
            (10.0, "w1"),
        ]
    )
    p2 = generator.path("w2").to_dict()
    p1 = generator.path("w1").to_dict()
    p7 = generator.path("w7").to_dict()
    p5 = generator.path("w5").to_dict()
    p3 = generator.path("w3").to_dict()
    p6 = generator.path("w6").to_dict()
    assert p2 == {"dist": 10.0, "nodes": ["w4", "w3", "w2"], "directions": [-1, -1, 1]}
    assert p1 == {"dist": 10.0, "nodes": ["w4", "w3", "w1"], "directions": [-1, -1, -1]}
    assert p7 == {"dist": 3.0, "nodes": ["w4", "w6", "w7"], "directions": [1, 1, 1]}
    assert p5 == {"dist": 3.0, "nodes": ["w4", "w6", "w5"], "directions": [1, 1, -1]}
    assert p3 == {"dist": 0.0, "nodes": ["w4", "w3"], "directions": [-1, -1]}
    assert p6 == {"dist": 0.0, "nodes": ["w4", "w6"], "directions": [1, 1]}

    paths = [p.to_dict() for p in generator.paths()]
    assert len(paths) == 6
    assert paths[:2] in ([p2, p1], [p1, p2])
    assert paths[2:4] in ([p7, p5], [p5, p7])
    assert paths[4:6] in ([p3, p6], [p6, p3])


def test_zigzag_generator_directed(graph1):
    generator = shortest_zigzag_path(graph1, "w4", cutoff=30, direction=1)
    assert generator.dists() == {
        ("w2", 1): 18.0,
        ("w5", -1): 18.0,
        ("w5", 1): 3.0,
        ("w7", 1): 13.0,
        ("w4", 1): 0.0,
        ("w6", -1): 0.0,
        ("w6", 1): 3.0,
        ("w7", -1): 3.0,
    }
    assert generator.prevs() == {
        ("w2", 1): ("w5", -1),
        ("w5", -1): ("w5", 1),
        ("w5", 1): ("w6", 1),
        ("w6", 1): ("w6", -1),
        ("w6", -1): ("w4", 1),
        ("w7", -1): ("w6", 1),
        ("w7", 1): ("w7", -1),
    }
    assert generator.path("w2").to_dict() == {
        "dist": 18.0,
        "nodes": ["w4", "w6", "w5", "w2"],
        "directions": [1, 1, -1, -1],
    }
    assert generator.path("w1") is None
    assert generator.path("w7").to_dict() == {
        "dist": 3.0,
        "nodes": ["w4", "w6", "w7"],
        "directions": [1, 1, 1],
    }
    assert sorted(generator.destinations()) == sorted(
        [(0.0, "w4"), (0.0, "w6"), (3.0, "w5"), (3.0, "w7"), (18.0, "w2")]
    )
    paths = [p.to_dict() for p in generator.paths()]
    assert len(paths) == 4
    assert paths[0] == {
        "dist": 18.0,
        "nodes": ["w4", "w6", "w5", "w2"],
        "directions": [1, 1, -1, -1],
    }
    p7 = {"dist": 3.0, "nodes": ["w4", "w6", "w7"], "directions": [1, 1, 1]}
    p5 = {"dist": 3.0, "nodes": ["w4", "w6", "w5"], "directions": [1, 1, -1]}
    assert paths[1:3] in ([p7, p5], [p5, p7])
    assert paths[3] == {"dist": 0.0, "nodes": ["w4", "w6"], "directions": [1, 1]}


def test_zigzag_round_n(spark):
    from networkx_graph_spark.graph import SparkDiGraph
    from tests.conftest import GRAPH1_EDGES, GRAPH1_NODES

    g = SparkDiGraph.from_lists(spark, GRAPH1_NODES, GRAPH1_EDGES, round_n=-1)
    generator = shortest_zigzag_path(g, "w4", cutoff=30)
    assert set(generator.dists().values()) == {0.0, 10.0, 20.0}


def test_zigzag_csr_kernel_parity(graph1):
    """The block-centric zigzag kernel must converge to the identical
    (dist, g, prev) state as the plain superstep kernel (unique least
    fixpoint of the monotone label function), hence identical goldens."""
    from networkx_graph_spark.operators.zigzag import state_id, zigzag_sssp

    for src, cutoff, direction in [("w4", 30.0, 0), ("w4", 30.0, 1), ("w1", 100.0, 0)]:
        sid = graph1.node_id(src)
        seeds = []
        if direction >= 0:
            seeds.append(state_id(sid, 1))
        if direction <= 0:
            seeds.append(state_id(sid, -1))
        a = sorted(tuple(r) for r in zigzag_sssp(graph1, seeds, cutoff).collect())
        b = sorted(
            tuple(r) for r in zigzag_sssp(graph1, seeds, cutoff, use_csr=True).collect()
        )
        assert a == b

    gen = shortest_zigzag_path(graph1, "w4", cutoff=30, use_csr=True)
    assert gen.path("w2").to_dict() == {
        "dist": 10.0,
        "nodes": ["w4", "w3", "w2"],
        "directions": [-1, -1, 1],
    }


def test_unpersist_releases_zigzag_state_edges(spark):
    """The doubled-state edge table cached on the graph by the first
    zigzag query, and the query's converged state, are released: after
    ``unpersist()`` no RDD created since the graph was built is cached."""
    from networkx_graph_spark.graph import SparkDiGraph
    from tests.conftest import GRAPH1_EDGES, GRAPH1_NODES

    sc = spark.sparkContext
    g = SparkDiGraph.from_lists(spark, GRAPH1_NODES, GRAPH1_EDGES)
    mark = sc.emptyRDD().id()

    def cached():
        return sum(1 for r in sc._jsc.sc().getRDDStorageInfo() if r.id() > mark)

    before = cached()
    path = shortest_zigzag_path(g, "w4", "w2", cutoff=30)
    assert path.to_dict()["dist"] == 10.0
    assert cached() > before
    g.unpersist()
    assert cached() == before
