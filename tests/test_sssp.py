"""SSSP golden tests, transcribed from /root/reference/tests/test_basic.py:197-300.

The distance invariant: path cost = sum of *interior* node lengths
(source/target excluded); golden w1->w7 dist 30 = len(w2)+len(w5).
"""

import pytest

from networkx_graph_spark.operators.sssp import shortest_path, shortest_paths


def test_destinations_basic(graph1):
    shorts = shortest_paths(graph1, "w1", cutoff=200.0)
    assert shorts.destinations() == [
        (0.0, "w2"),
        (0.0, "w3"),
        (10.0, "w4"),
        (15.0, "w5"),
        (30.0, "w6"),
        (30.0, "w7"),
    ]


def test_destinations_offsets(graph1):
    # offset=-1 clips to 0 -> init_offset = 10 (test_basic.py:212-220)
    shorts = shortest_paths(graph1, "w1", cutoff=200.0, offset=-1)
    assert shorts.destinations() == [
        (10.0, "w2"),
        (10.0, "w3"),
        (20.0, "w4"),
        (25.0, "w5"),
        (40.0, "w6"),
        (40.0, "w7"),
    ]
    shorts = shortest_paths(graph1, "w1", cutoff=200.0, offset=3.0)
    assert shorts.destinations() == [
        (7.0, "w2"),
        (7.0, "w3"),
        (17.0, "w4"),
        (22.0, "w5"),
        (37.0, "w6"),
        (37.0, "w7"),
    ]
    # offset beyond length clips to length -> same as offset=length
    s1 = shortest_paths(graph1, "w1", cutoff=200.0, offset=10.0)
    s2 = shortest_paths(graph1, "w1", cutoff=200.0, offset=13.0)
    assert s1.destinations() == s2.destinations()


def test_destinations_reverse(graph1):
    # test_basic.py:234-247
    shorts = shortest_paths(graph1, "w7", cutoff=20.0, offset=3.0, reverse=True)
    dists = shorts.destinations()
    assert dists == [(3.0, "w5"), (3.0, "w6"), (6.0, "w4"), (18.0, "w2")]
    assert (
        dists
        == shortest_paths(
            graph1, "w7", cutoff=18.0, offset=3.0, reverse=True
        ).destinations()
    )
    assert (
        dists[:-1]
        == shortest_paths(
            graph1, "w7", cutoff=17.0, offset=3.0, reverse=True
        ).destinations()
    )


def test_shortest_path_p2p(graph1):
    # test_basic.py:249-292
    path = shortest_path(graph1, "w1", "w7", cutoff=37.0, source_offset=3.0)
    assert path is not None
    assert path.to_dict() == {
        "dist": 37.0,
        "nodes": ["w1", "w2", "w5", "w7"],
        "start": ("w1", 3.0),
        "end": ("w7", None),
    }
    assert shortest_path(graph1, "w1", "w7", cutoff=37.0 - 1e-3, source_offset=3.0) is None

    path = shortest_path(graph1, "w1", "w7", cutoff=30.0)
    assert path.to_dict() == {
        "dist": 30.0,
        "nodes": ["w1", "w2", "w5", "w7"],
        "start": ("w1", None),
        "end": ("w7", None),
    }
    assert shortest_path(graph1, "w1", "w7", cutoff=30.0 - 1e-3) is None

    path = shortest_path(
        graph1, "w1", "w7", cutoff=33, source_offset=9, target_offset=1
    )
    assert path.to_dict() == {
        "dist": 32.0,
        "nodes": ["w1", "w2", "w5", "w7"],
        "start": ("w1", 9.0),
        "end": ("w7", 1.0),
    }

    path = shortest_path(graph1, "w1", "w7", cutoff=40.0)
    assert path.nodes == ["w1", "w2", "w5", "w7"]


def test_shortest_path_sinks_detour(graph1):
    # sinks {w5} forces the w3/w4/w6 detour (test_basic.py:294-300)
    path = shortest_path(graph1, "w1", "w7", cutoff=40.0, sinks=["w5"])
    assert path.to_dict() == {
        "dist": 33.0,
        "nodes": ["w1", "w3", "w4", "w6", "w7"],
        "start": ("w1", None),
        "end": ("w7", None),
    }


def test_same_node_cases(graph1):
    p = shortest_path(graph1, "w1", "w1", cutoff=5.0)
    assert p.to_dict()["dist"] == 0.0 and p.nodes == ["w1"]
    p = shortest_path(
        graph1, "w1", "w1", cutoff=5.0, source_offset=2.0, target_offset=6.0
    )
    assert p.to_dict() == {
        "dist": 4.0,
        "nodes": ["w1"],
        "start": ("w1", 2.0),
        "end": ("w1", 6.0),
    }
    assert (
        shortest_path(
            graph1, "w1", "w1", cutoff=5.0, source_offset=6.0, target_offset=2.0
        )
        is None
    )
    assert shortest_path(graph1, "w1", "w1", cutoff=5.0, source_offset=2.0) is None
    assert shortest_path(graph1, "w1", "w7", cutoff=-1.0) is None
    assert shortest_path(graph1, "missing", "w7", cutoff=10.0) is None


def test_generator_paths(graph1):
    # leaf paths each extended to cutoff; compare against reference
    # semantics (/root/reference/src/main.cpp:2930-3018)
    shorts = shortest_paths(graph1, "w1", cutoff=20.0)
    got = {tuple(p.nodes): p.to_dict() for p in shorts.paths()}
    # dists: w2=0, w3=0, w4=10, w5=15; leaves of prev-tree: w6? no (w6 dist
    # 30 > 20 not reached); reached set {w2,w3,w4,w5}; leaves {w4, w5}
    assert got[("w1", "w3", "w4")]["dist"] == 20.0  # min(cutoff, 10+20)
    assert got[("w1", "w3", "w4")]["end"] == ("w4", 10.0)  # cutoff - dist
    assert got[("w1", "w2", "w5")]["dist"] == 20.0  # min(cutoff, 15+15)
    assert got[("w1", "w2", "w5")]["end"] == ("w5", 5.0)
    # path(node)
    p = shorts.path("w5")
    assert p.nodes == ["w1", "w2", "w5"] and p.dist == 20.0
    assert shorts.path("w7") is None
    assert shorts.path("nope") is None


def test_generator_single_node_path(graph1):
    # no successors reached (cutoff < init_offset) but offset given ->
    # single-node path special case (/root/reference/src/main.cpp:2938-2976)
    shorts = shortest_paths(graph1, "w1", cutoff=4.0, offset=3.0)
    paths = shorts.paths()
    assert len(paths) == 1
    assert paths[0].to_dict() == {
        "dist": 4.0,
        "nodes": ["w1"],
        "start": ("w1", 3.0),
        "end": ("w1", 7.0),
    }
    assert shorts.destinations() == []


def test_dists_prevs_maps(graph1):
    shorts = shortest_paths(graph1, "w1", cutoff=200.0)
    assert shorts.dists() == {
        "w2": 0.0,
        "w3": 0.0,
        "w4": 10.0,
        "w5": 15.0,
        "w6": 30.0,
        "w7": 30.0,
    }
    prevs = shorts.prevs()
    assert prevs["w2"] == "w1" and prevs["w3"] == "w1"
    assert prevs["w4"] == "w3" and prevs["w5"] == "w2"
    assert prevs["w6"] == "w4" and prevs["w7"] == "w5"


def test_p2p_early_termination_chain(spark):
    """On a deep chain, p2p must stop once the target's distance is final
    and still return the reference-exact path (the pruning threshold keeps
    rows at dist == target_dist alive so tie-breaks are unaffected)."""
    from networkx_graph_spark.graph import SparkDiGraph

    n = 40
    g = SparkDiGraph.from_lists(
        spark,
        [(str(i), 1.0) for i in range(n + 1)],
        [(str(i), str(i + 1)) for i in range(n)],
    )
    p = shortest_path(g, "0", "5", cutoff=500.0)
    assert p.nodes == ["0", "1", "2", "3", "4", "5"] and p.dist == 4.0
    # batch API agrees (same kernel, per-qid pruning)
    from networkx_graph_spark.operators.sssp import shortest_paths_pairs

    got = shortest_paths_pairs(g, [("0", "5", 500.0), ("3", "10", 500.0), ("0", "99", 2.0)])
    assert got[0].nodes == p.nodes and got[0].dist == 4.0
    assert got[1].dist == 6.0 and len(got[1].nodes) == 8
    assert got[2] is None  # cutoff-bounded miss
    g.unpersist()


@pytest.mark.parametrize("payload", ["weight", "prev_dist"])
def test_bounded_sssp_rejects_reserved_payload_names(spark, payload):
    """Payload columns may collide neither with the edge columns nor with
    the kernel's state columns."""
    from networkx_graph_spark.operators.sssp import NEG_INF, bounded_sssp

    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, NEG_INF)],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    with pytest.raises(ValueError, match="reserved"):
        bounded_sssp(spark, edges, seeds, cutoffs=10.0, payload_cols=[payload])


def test_bounded_sssp_durable_resume(spark, tmp_path):
    """Durable checkpoints + mid-iteration resume for the SSSP kernel (the
    UBODT-build restart story): identical fixpoint, bucketed variant keeps
    (qid, node) co-partitioning."""
    import os
    import shutil

    from networkx_graph_spark.operators.sssp import NEG_INF, bounded_sssp
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(8)] + [(0, 5, 9.0)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, NEG_INF)],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    want = {
        (r["qid"], r["node"]): (r["dist"], r["prev"], r["prev_dist"])
        for r in bounded_sssp(spark, edges, seeds, cutoffs=100.0).collect()
    }

    d = str(tmp_path / "cks")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    r1 = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["qid", "node"], bucket_count=nparts
    )
    got = {
        (r["qid"], r["node"]): (r["dist"], r["prev"], r["prev_dist"])
        for r in bounded_sssp(
            spark, edges, seeds, cutoffs=100.0, runner=r1, name="sd"
        ).collect()
    }
    assert got == want
    assert os.path.exists(os.path.join(d, "sd", "metrics.jsonl"))

    # crash after iteration 2, resume, same fixpoint
    for entry in os.listdir(os.path.join(d, "sd")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(d, "sd", entry))
    r2 = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["qid", "node"], bucket_count=nparts
    )
    resumed = {
        (r["qid"], r["node"]): (r["dist"], r["prev"], r["prev_dist"])
        for r in bounded_sssp(
            spark, edges, seeds, cutoffs=100.0, runner=r2, name="sd", resume=True
        ).collect()
    }
    assert resumed == want
    for t in spark.catalog.listTables():
        if t.name.startswith("ckpt_") and "_sd_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_p2p_bounded_sssp_resume_parity(spark, tmp_path):
    """A p2p run resumed after superstep 1 takes each query's best target
    distance from the reloaded record and prunes exactly as the
    uninterrupted run: the final states are identical row for row,
    pruned rows included."""
    import os
    import shutil

    from networkx_graph_spark.operators.sssp import NEG_INF, bounded_sssp
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    # qid 0: 0->1->2->3->4 (weight 1) and 0->10->11 (weight 5), target 1;
    # qid 1: 20->21->22->23->24 (weight 1), target 22
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in (0, 1, 2, 3, 20, 21, 22, 23)] + [(0, 10, 5.0), (10, 11, 5.0)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, NEG_INF), (1, 20, 0.0, -1, NEG_INF)],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    targets = [(0, 1), (1, 22)]
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = str(tmp_path / "ckp")

    def run(resume):
        r = SuperstepRunner(
            spark, checkpoint_dir=d, bucket_cols=["qid", "node"], bucket_count=nparts
        )
        out = bounded_sssp(
            spark, edges, seeds, cutoffs=100.0, targets=targets, runner=r, name="p2p",
            resume=resume,
        )
        return sorted(map(tuple, out.collect()))

    want = run(False)
    reached = {(q, n) for q, n, *_ in want}
    unpruned = {
        (r["qid"], r["node"])
        for r in bounded_sssp(spark, edges, seeds, cutoffs=100.0).collect()
    }
    # pruning did cut the walk: past the target at dist 1 (qid 0), one
    # step past the target at dist 2 (qid 1, ties keep expanding)
    assert reached == {(0, 0), (0, 1), (0, 2), (0, 10), (1, 20), (1, 21), (1, 22), (1, 23)}
    assert {(0, 3), (0, 11), (1, 24)} <= unpruned - reached

    for entry in os.listdir(os.path.join(d, "p2p")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 1:
            shutil.rmtree(os.path.join(d, "p2p", entry))
    assert run(True) == want
    for t in spark.catalog.listTables():
        if t.name.startswith("ckpt_") and "_p2p_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_build_ubodt_durable_resume(graph1, tmp_path):
    """UBODT build through a durable runner resumes to identical records."""
    import os
    import shutil

    from networkx_graph_spark.operators.ubodt import build_ubodt
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    spark = graph1.spark
    want = sorted(map(tuple, build_ubodt(graph1, 100.0).collect()))
    d = str(tmp_path / "cku")
    r1 = SuperstepRunner(spark, checkpoint_dir=d)
    got = sorted(map(tuple, build_ubodt(graph1, 100.0, runner=r1, name="ub").collect()))
    assert got == want
    for entry in os.listdir(os.path.join(d, "ub")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 1:
            shutil.rmtree(os.path.join(d, "ub", entry))
    r2 = SuperstepRunner(spark, checkpoint_dir=d)
    resumed = sorted(
        map(tuple, build_ubodt(graph1, 100.0, runner=r2, name="ub", resume=True).collect())
    )
    assert resumed == want


def test_path_getitem_hasattr_fallthrough(graph1):
    """Reference __getitem__ falls through to hasattr after the explicit
    branches (/root/reference/src/main.cpp:2503-2509): 'graph' (a
    readonly property there) and public methods like 'to_dict' resolve;
    raw C++ fields with no Python attribute (start/end offsets) stay
    KeyError."""
    import pytest

    from networkx_graph_spark.operators.sssp import shortest_path

    p = shortest_path(graph1, "w1", "w7", 100.0)
    assert p is not None
    assert p["graph"] is graph1
    assert callable(p["to_dict"])
    assert p["to_dict"]() == p.to_dict()
    with pytest.raises(KeyError):
        p["start_offset"]
    with pytest.raises(KeyError):
        p["no_such_attr"]
