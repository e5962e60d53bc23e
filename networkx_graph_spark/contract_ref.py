"""Fixture-graph reference-golden contract queries.

Every query here runs an operator surface from SURVEY.md §2 on the
reference fixture graphs (graph1/graph2,
/root/reference/tests/test_basic.py:147-196) and emits the result as a
flat row table; the oracle is a VALUES literal transcribed from the
reference's own golden expectations (test_basic.py:197-1646 — the same
values our pytest goldens assert). This is what turns the pytest-only
operators (S2/S5/S7-S13, P2-P4, B3, L1-L7, Z1/Z4, attrs) into named green
rows in the driver's CORRECTNESS gate.

All queries ignore ``sf_dir`` (fixture-scale by construction).
"""

from __future__ import annotations

from .graph import SparkDiGraph

REF_UBODT_BIN_SQL = """
SELECT * FROM (VALUES
 (1, 2, 2, 1, 0.0), (1, 3, 3, 1, 0.0), (1, 4, 3, 3, 10.0), (1, 5, 2, 2, 15.0),
 (1, 7, 2, 5, 30.0), (1, 6, 3, 4, 30.0), (2, 5, 5, 2, 0.0), (2, 7, 5, 5, 15.0),
 (3, 4, 4, 3, 0.0), (3, 6, 4, 4, 20.0), (3, 7, 4, 6, 23.0), (4, 6, 6, 4, 0.0),
 (4, 7, 6, 6, 3.0), (5, 7, 7, 5, 0.0), (6, 7, 7, 6, 0.0)
) AS t(source, target, source_next, target_prev, cost)
"""

GRAPH1_NODES = [("w1", 10.0), ("w2", 15.0), ("w5", 15.0), ("w3", 10.0),
                ("w4", 20.0), ("w6", 3.0), ("w7", 10.0)]
GRAPH1_EDGES = [("w1", "w2"), ("w1", "w3"), ("w2", "w5"), ("w3", "w4"),
                ("w4", "w6"), ("w6", "w7"), ("w5", "w7")]
GRAPH2_NODES = [("w1", 10.0), ("w2", 15.0), ("w5", 15.0), ("w3", 10.0),
                ("w4", 20.0), ("w7", 10.0)]
GRAPH2_EDGES = [("w1", "w2"), ("w1", "w3"), ("w2", "w5"), ("w3", "w4"),
                ("w4", "w7"), ("w5", "w7")]


def _g1(spark) -> SparkDiGraph:
    return SparkDiGraph.from_lists(spark, GRAPH1_NODES, GRAPH1_EDGES)


def _g2(spark) -> SparkDiGraph:
    return SparkDiGraph.from_lists(spark, GRAPH2_NODES, GRAPH2_EDGES)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def values_sql(rows, schema: list[tuple[str, str]]) -> str:
    """VALUES oracle with explicit per-column casts (NULL-safe types)."""
    vals = ",\n ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in schema)
    names = ", ".join(n for n, _ in schema)
    return f"SELECT {casts} FROM (VALUES\n {vals}\n) AS t({names})"


def _join(nodes) -> str:
    return " > ".join(nodes)


# ------------------------------------------------------------------ S2 p2p
P2P_SCHEMA = [("label", "VARCHAR"), ("path", "VARCHAR"), ("dist", "DOUBLE"),
              ("start_offset", "DOUBLE"), ("end_offset", "DOUBLE")]
P2P_SPARK_SCHEMA = "label string, path string, dist double, start_offset double, end_offset double"

P2P_EXPECTED = [
    # /root/reference/tests/test_basic.py:249-300 + same-node cases
    ("offset", "w1 > w2 > w5 > w7", 37.0, 3.0, None),
    ("offset_under", None, None, None, None),
    ("plain", "w1 > w2 > w5 > w7", 30.0, None, None),
    ("plain_under", None, None, None, None),
    ("both_offsets", "w1 > w2 > w5 > w7", 32.0, 9.0, 1.0),
    ("sinks_detour", "w1 > w3 > w4 > w6 > w7", 33.0, None, None),
    ("same_node", "w1", 0.0, None, None),
    ("same_node_offsets", "w1", 4.0, 2.0, 6.0),
    ("same_node_bad", None, None, None, None),
    ("neg_cutoff", None, None, None, None),
]


def q_ref_p2p(spark, sf_dir):
    """shortest_path p2p with offsets / cutoff boundaries / sinks /
    same-node special cases (/root/reference/src/main.cpp:547-620)."""
    from .operators.sssp import shortest_path

    g = _g1(spark)
    cases = [
        ("offset", dict(source="w1", target="w7", cutoff=37.0, source_offset=3.0)),
        ("offset_under", dict(source="w1", target="w7", cutoff=37.0 - 1e-3, source_offset=3.0)),
        ("plain", dict(source="w1", target="w7", cutoff=30.0)),
        ("plain_under", dict(source="w1", target="w7", cutoff=30.0 - 1e-3)),
        ("both_offsets", dict(source="w1", target="w7", cutoff=33.0, source_offset=9.0, target_offset=1.0)),
        ("sinks_detour", dict(source="w1", target="w7", cutoff=40.0, sinks=["w5"])),
        ("same_node", dict(source="w1", target="w1", cutoff=5.0)),
        ("same_node_offsets", dict(source="w1", target="w1", cutoff=5.0, source_offset=2.0, target_offset=6.0)),
        ("same_node_bad", dict(source="w1", target="w1", cutoff=5.0, source_offset=6.0, target_offset=2.0)),
        ("neg_cutoff", dict(source="w1", target="w7", cutoff=-1.0)),
    ]
    rows = []
    for label, kw in cases:
        p = shortest_path(g, **kw)
        if p is None:
            rows.append((label, None, None, None, None))
        else:
            rows.append((label, _join(p.nodes), p.dist, p.start_offset, p.end_offset))
    g.unpersist()
    return spark.createDataFrame(rows, P2P_SPARK_SCHEMA)


# --------------------------------------------------------- S5 reverse SSSP
REV_EXPECTED = [("w5", 3.0), ("w6", 3.0), ("w4", 6.0), ("w2", 18.0)]


def q_ref_sssp_rev(spark, sf_dir):
    """shortest_paths_to: reverse SSSP with target offset
    (/root/reference/tests/test_basic.py:234-247)."""
    from .operators.sssp import shortest_paths

    g = _g1(spark)
    gen = shortest_paths(g, "w7", cutoff=20.0, offset=3.0, reverse=True)
    rows = [(n, d) for d, n in gen.destinations()]
    g.unpersist()
    return spark.createDataFrame(rows, "node string, dist double")


# ----------------------------------------------- S7/S8 generator paths
GEN_PATHS_EXPECTED = [
    ("paths", "w1 > w3 > w4", 20.0, None, 10.0),
    ("paths", "w1 > w2 > w5", 20.0, None, 5.0),
    ("path_w5", "w1 > w2 > w5", 20.0, None, 5.0),
    ("path_w7", None, None, None, None),
    ("single", "w1", 4.0, 3.0, 7.0),
]


def q_ref_gen_paths(spark, sf_dir):
    """Generator paths()/path(): leaf paths extended to the cutoff +
    single-node special case (/root/reference/src/main.cpp:2930-3060)."""
    from .operators.sssp import shortest_paths

    g = _g1(spark)
    rows = []
    gen = shortest_paths(g, "w1", cutoff=20.0)
    for p in gen.paths():
        rows.append(("paths", _join(p.nodes), p.dist, p.start_offset, p.end_offset))
    p5 = gen.path("w5")
    rows.append(("path_w5", _join(p5.nodes), p5.dist, p5.start_offset, p5.end_offset))
    assert gen.path("w7") is None
    rows.append(("path_w7", None, None, None, None))
    single = shortest_paths(g, "w1", cutoff=4.0, offset=3.0).paths()
    for p in single:
        rows.append(("single", _join(p.nodes), p.dist, p.start_offset, p.end_offset))
    g.unpersist()
    return spark.createDataFrame(rows, P2P_SPARK_SCHEMA)


# -------------------------------------------------- S11-S13 UBODT lookups
UBODT_LOOKUP_SCHEMA = [("op", "VARCHAR"), ("key", "VARCHAR"),
                       ("res", "VARCHAR"), ("cost", "DOUBLE")]
UBODT_LOOKUP_EXPECTED = [
    ("path", "w1->w4", "w1 > w3 > w4", 10.0),
    ("path", "w1->w7", "w1 > w2 > w5 > w7", 30.0),
    ("path", "w3->w2", None, None),
    ("dist", "w1->w4", None, 10.0),
    ("size", "", None, 15.0),
    ("by_source", "w2", "w5", 0.0),
    ("by_source", "w2", "w7", 15.0),
    ("by_source_cut", "w2", "w5", 0.0),
    ("by_target", "w7", "w5", 0.0),
    ("by_target", "w7", "w6", 0.0),
    ("by_target", "w7", "w4", 3.0),
    ("by_target", "w7", "w2", 15.0),
    ("by_target", "w7", "w3", 23.0),
    ("by_target", "w7", "w1", 30.0),
    ("by_target_cut", "w7", "w5", 0.0),
    ("by_target_cut", "w7", "w6", 0.0),
    ("by_target_cut", "w7", "w4", 3.0),
    ("by_target_cut", "w7", "w2", 15.0),
]


def q_ref_ubodt_lookup(spark, sf_dir):
    """UbodtIndex path/dist/by_source/by_target
    (/root/reference/src/main.cpp:2006-2180)."""
    from .operators.ubodt import UbodtIndex, build_ubodt

    g = _g1(spark)
    idx = UbodtIndex(g, build_ubodt(g, 100.0))
    rows = []
    for s, t in [("w1", "w4"), ("w1", "w7"), ("w3", "w2")]:
        p = idx.path(s, t)
        rows.append(
            ("path", f"{s}->{t}", _join(p.nodes) if p else None, p.dist if p else None)
        )
    rows.append(("dist", "w1->w4", None, idx.dist("w1", "w4")))
    rows.append(("size", "", None, float(idx.size())))
    for c, n in idx.by_source("w2"):
        rows.append(("by_source", "w2", n, c))
    for c, n in idx.by_source("w2", 10.0):
        rows.append(("by_source_cut", "w2", n, c))
    for c, n in idx.by_target("w7"):
        rows.append(("by_target", "w7", n, c))
    for c, n in idx.by_target("w7", 15.0):
        rows.append(("by_target_cut", "w7", n, c))
    idx.unpersist()
    g.unpersist()
    return spark.createDataFrame(rows, "op string, key string, res string, cost double")


# ------------------------------------------------------ L1-L5 linear ops
LINEAR_SCHEMA = [("op", "VARCHAR"), ("res", "VARCHAR"), ("value", "DOUBLE")]
LINEAR_EXPECTED = [
    ("build1", "w1 > w3 > w4", 32.0),
    ("build2", "w1 > w3 > w4", 34.877),
    ("build2_so", "", 5.123),
    ("build2_eo", "", 20.0),
    ("build_single", "w1", 1.5),
    ("along_5", "w3", 5.0),
    ("along_5.0123456", "w3", 5.012),
    ("along_0", "w1", 10.0),
    ("along_neg1", "w1", 10.0),
    ("along_33", "w7", 0.0),
    ("along_34", "w7", 0.0),
    ("along_32.999", "w6", 2.999),
    ("slice_2_5", "w3", 3.0),
    ("slice_2_15", "w3 > w4", 13.0),
    ("slice_10_30", "w3 > w4", 20.0),
    ("slice_5_25", "w3 > w4", 20.0),
    ("slice_5_25_so", "", 5.0),
    ("slice_5_25_eo", "", 15.0),
    ("slice_neg", "w1", 0.0),
    ("slice_rev", "w3", 0.0),
    ("offsets_0", "", -5.0),
    ("offsets_1", "", 5.0),
    ("loc_w3_10", "", 5.0),
    ("loc_w4_10", "", 15.0),
    ("loc_w3_4.98", "", None),
    ("loc_w3_4.99", "", 0.0),
    ("loc_w4_30", "", None),
]


def q_ref_linear(spark, sf_dir):
    """Path.Build/along/slice/offsets/locate
    (/root/reference/src/main.cpp:2360-2696)."""
    from .operators.linear import (
        build_path,
        path_along,
        path_locate,
        path_offsets,
        path_slice,
    )
    from .operators.sssp import shortest_path

    g = _g1(spark)
    rows = []
    b1 = build_path(g, ["w1", "w3", "w4"], start_offset=5.0, end_offset=17.0)
    rows.append(("build1", _join(b1.nodes), b1.dist))
    b2 = build_path(g, ["w1", "w3", "w4"], start_offset=5.12345, end_offset=27.0)
    rows.append(("build2", _join(b2.nodes), b2.dist))
    rows.append(("build2_so", "", b2.start_offset))
    rows.append(("build2_eo", "", b2.end_offset))
    b3 = build_path(g, ["w1"], start_offset=1.8, end_offset=3.3)
    rows.append(("build_single", _join(b3.nodes), b3.dist))

    path = shortest_path(g, "w1", "w7", cutoff=40.0, sinks=["w5"])
    for label, off in [("along_5", 5.0), ("along_5.0123456", 5.0123456),
                       ("along_0", 0.0), ("along_neg1", -1.0), ("along_33", 33.0),
                       ("along_34", 34.0), ("along_32.999", 33.0 - 1e-3)]:
        n, o = path_along(g, path, off)
        rows.append((label, n, o))
    for label, (a, b) in [("slice_2_5", (2, 5)), ("slice_2_15", (2, 15)),
                          ("slice_10_30", (10, 30)), ("slice_5_25", (5, 25)),
                          ("slice_neg", (-1, 0)), ("slice_rev", (3, 2))]:
        s = path_slice(g, path, a, b)
        rows.append((label, _join(s.nodes), s.dist))
        if label == "slice_5_25":
            rows.append(("slice_5_25_so", "", s.start_offset))
            rows.append(("slice_5_25_eo", "", s.end_offset))
    sub = path_slice(g, path, 5, 25)
    for i, off in enumerate(path_offsets(g, sub)):
        rows.append((f"offsets_{i}", "", off))
    for label, ref in [("loc_w3_10", ("w3", 10.0)), ("loc_w4_10", ("w4", 10.0)),
                       ("loc_w3_4.98", ("w3", 4.98)), ("loc_w3_4.99", ("w3", 4.99)),
                       ("loc_w4_30", ("w4", 30.0))]:
        rows.append((label, "", path_locate(g, sub, ref)))
    g.unpersist()
    return spark.createDataFrame(rows, "op string, res string, value double")


# ------------------------------------------------------------ P4 sequences
SEQS_EXPECTED = [
    ("all", 1, "w3 > w4"),
    ("all", 2, "w4 > w6 > w7"),
    ("quick", 1, "w3 > w4"),
]


def q_ref_seqs(spark, sf_dir):
    """Sequences / search_for_seqs (/root/reference/src/main.cpp:112-139,
    :2553-2569)."""
    from .operators.linear import encode_sequences, search_for_seqs
    from .operators.sssp import shortest_path

    g = _g1(spark)
    path = shortest_path(g, "w1", "w7", cutoff=40.0, sinks=["w5"])
    seqs = encode_sequences(g, [["w3", "w4"], ["w4", "w6", "w7"], ["w2", "w5"]])
    rows = []
    for pos, hits in sorted(search_for_seqs(g, path, seqs, quick_return=False).items()):
        for p in hits:
            rows.append(("all", pos, _join(p.nodes)))
    for pos, hits in sorted(search_for_seqs(g, path, seqs, quick_return=True).items()):
        for p in hits:
            rows.append(("quick", pos, _join(p.nodes)))
    g.unpersist()
    return spark.createDataFrame(rows, "mode string, pos int, seq string")


# -------------------------------------------------------- P2 all_paths_to
PATHS_TO_EXPECTED = [
    ("off4", "w3 > w4 > w6 > w7", 30.0, 7.0, 4.0),
    ("off4", "w2 > w5 > w7", 30.0, 4.0, 4.0),
    ("nooff", "w3 > w4 > w6 > w7", 30.0, 3.0, None),
    ("nooff", "w1 > w2 > w5 > w7", 30.0, 10.0, None),
]


def q_ref_paths_to(spark, sf_dir):
    """all_paths_to: reverse enumeration + mirror offsets
    (/root/reference/src/main.cpp:719-759)."""
    from .operators.paths import all_paths_to

    g = _g1(spark)
    rows = []
    for p in all_paths_to(g, "w7", cutoff=30.0, offset=4.0):
        rows.append(("off4", _join(p.nodes), p.dist, p.start_offset, p.end_offset))
    for p in all_paths_to(g, "w7", cutoff=30.0):
        rows.append(("nooff", _join(p.nodes), p.dist, p.start_offset, p.end_offset))
    g.unpersist()
    return spark.createDataFrame(rows, P2P_SPARK_SCHEMA.replace("label", "variant"))


# ------------------------------------------------------- P3 all_paths s->t
PATHS_P2P_EXPECTED = [
    ("same_off", "w1", 1.0, 3.0, 4.0),
    ("c10", "w1 > w3 > w4", 10.0, None, None),
    ("to5", "w1 > w3 > w4", 15.0, None, 5.0),
    ("so8to5", "w1 > w3 > w4", 17.0, 8.0, 5.0),
    ("c80", "w1 > w2 > w5 > w7", 30.0, None, None),
    ("c80", "w1 > w3 > w4 > w7", 30.0, None, None),
    ("c80off", "w1 > w2 > w5 > w7", 41.0, 3.0, 4.0),
    ("c80off", "w1 > w3 > w4 > w7", 41.0, 3.0, 4.0),
    ("sink", "w1 > w2 > w5 > w7", 41.0, 3.0, 4.0),
]


def q_ref_paths_p2p(spark, sf_dir):
    """all_paths source->target on graph2
    (/root/reference/src/main.cpp:761-832)."""
    from .operators.paths import all_paths

    g = _g2(spark)
    rows = []
    assert all_paths(g, "w1", "w1", cutoff=20.0) == []
    assert all_paths(g, "w1", "w1", cutoff=20.0, source_offset=13.0, target_offset=14.0) == []
    assert all_paths(g, "w1", "w4", cutoff=9.0) == []
    assert all_paths(g, "w1", "w4", cutoff=14.0, target_offset=5.0) == []
    cases = [
        ("same_off", dict(source="w1", target="w1", cutoff=20.0, source_offset=3.0, target_offset=4.0)),
        ("c10", dict(source="w1", target="w4", cutoff=10.0)),
        ("to5", dict(source="w1", target="w4", cutoff=20.0, target_offset=5.0)),
        ("so8to5", dict(source="w1", target="w4", cutoff=20.0, source_offset=8.0, target_offset=5.0)),
        ("c80", dict(source="w1", target="w7", cutoff=80.0)),
        ("c80off", dict(source="w1", target="w7", cutoff=80.0, source_offset=3.0, target_offset=4.0)),
        ("sink", dict(source="w1", target="w7", cutoff=80.0, source_offset=3.0, target_offset=4.0, sinks=["w4"])),
    ]
    for label, kw in cases:
        for p in all_paths(g, **kw):
            rows.append((label, _join(p.nodes), p.dist, p.start_offset, p.end_offset))
    g.unpersist()
    return spark.createDataFrame(rows, P2P_SPARK_SCHEMA)


# ----------------------------------------------------------- B3 all-paths bindings
BINDINGS_SCHEMA = [("label", "VARCHAR"), ("direction", "VARCHAR"),
                   ("path", "VARCHAR"), ("dist", "DOUBLE"),
                   ("start_offset", "DOUBLE"), ("end_offset", "DOUBLE"),
                   ("bnode", "VARCHAR"), ("blo", "DOUBLE"), ("bhi", "DOUBLE")]
BINDINGS_EXPECTED = [
    ("same55", "backward", "w3", 2.5, 3.0, 5.5, "w3", 1.0, 3.0),
    ("same55", "forward", "w3", 3.5, 5.5, 9.0, "w3", 9.0, 10.0),
    ("w4_30", "forward", "w4 > w6 > w7", 6.0, None, 3.0, "w7", 3.0, 4.0),
    ("w4_30", "backward", "w3 > w4", 0.0, 10.0, None, "w3", 9.0, 10.0),
    ("w7_80", "forward", "w7", 2.0, 1.0, 3.0, "w7", 3.0, 4.0),
    ("w7_80", "backward", "w3 > w4 > w6 > w7", 24.0, 10.0, 1.0, "w3", 9.0, 10.0),
    ("w7_80", "backward", "w1 > w2 > w5 > w7", 37.0, 4.0, 1.0, "w1", 4.0, 4.0),
    ("we_w1", "forward", "w1 > w3", 2.0, 9.0, 1.0, "w3", 1.0, 3.0),
    ("we_w1", "forward", "w1 > w2", 4.0, 9.0, 3.0, "w2", 3.0, 3.0),
    # backward with_endings: single-node truncated ending w1 (synthetic
    # (off,off,None) binding) — cutoff 4 back from offset 9 reaches 5.0
    ("we_w1", "backward", "w1", 4.0, 5.0, 9.0, "w1", 5.0, 5.0),
    ("we_w3", "backward", "w1 > w3", 5.0, 5.5, 0.5, "w1", 5.5, 5.5),
    ("we_w3", "forward", "w3", 0.5, 0.5, 1.0, "w3", 1.0, 3.0),
]


def q_ref_bindings_all(spark, sf_dir):
    """all_paths_to_bindings incl. with_endings synthetic bindings
    (/root/reference/src/main.cpp:901-948, :1910-1993)."""
    from .operators.bindings import all_paths_to_bindings, encode_bindings

    g = _g1(spark)
    b3 = encode_bindings(
        g,
        {
            "w1": [(4, 4, "obj1")],
            "w3": [(1, 3, "obj31"), (5, 6, "obj32"), (9, 10, "obj33")],
            "w7": [(3, 4, "obj7")],
        },
    )
    rows = []

    def emit(label, bwd, fwd):
        for direction, paths in (("backward", bwd), ("forward", fwd)):
            for p in paths:
                _, (lo, hi, _payload) = p.binding
                rows.append(
                    (label, direction, _join(p.nodes), p.dist,
                     p.start_offset, p.end_offset, p.binding[0], lo, hi)
                )

    emit("same55", *all_paths_to_bindings(g, "w3", 30.0, b3, offset=5.5))
    emit("w4_30", *all_paths_to_bindings(g, "w4", 30.0, b3))
    emit("w7_80", *all_paths_to_bindings(g, "w7", 80.0, b3, offset=1.0))
    emit("we_w1", *all_paths_to_bindings(g, "w1", 4.0, b3, offset=9.0, with_endings=True))
    emit("we_w3", *all_paths_to_bindings(g, "w3", 5.0, b3, offset=0.5, with_endings=True))
    g.unpersist()
    return spark.createDataFrame(
        rows,
        "label string, direction string, path string, dist double, "
        "start_offset double, end_offset double, bnode string, blo double, bhi double",
    )


# --------------------------------------------------------- Z1/Z4 zigzag
ZZ_SCHEMA = [("label", "VARCHAR"), ("path", "VARCHAR"),
             ("dirs", "VARCHAR"), ("dist", "DOUBLE")]
ZZ_EXPECTED = [
    ("p2p_w3w3", "w3", "1", 0.0),
    ("p2p_w3w5", "w3 > w2 > w5", "-1,1,1", 15.0),
    ("p2p_w3w5_c10", None, None, None),
    ("p2p_w4w2", "w4 > w3 > w2", "-1,-1,1", 10.0),
    ("p2p_w4w2_fwd", "w4 > w6 > w5 > w2", "1,1,-1,-1", 18.0),
    ("gen_w1", "w4 > w3 > w1", "-1,-1,-1", 10.0),
    ("gen_w2", "w4 > w3 > w2", "-1,-1,1", 10.0),
    ("gen_w3", "w4 > w3", "-1,-1", 0.0),
    ("gen_w5", "w4 > w6 > w5", "1,1,-1", 3.0),
    ("gen_w6", "w4 > w6", "1,1", 0.0),
    ("gen_w7", "w4 > w6 > w7", "1,1,1", 3.0),
    ("gen_dir_w1", None, None, None),
    ("gen_dir_w2", "w4 > w6 > w5 > w2", "1,1,-1,-1", 18.0),
]


def q_ref_zigzag_paths(spark, sf_dir):
    """Zigzag p2p point queries + generator path decode
    (/root/reference/src/main.cpp:258-300, :622-653)."""
    from .operators.zigzag import shortest_zigzag_path

    g = _g1(spark)
    rows = []

    def emit(label, p):
        if p is None:
            rows.append((label, None, None, None))
        else:
            rows.append(
                (label, _join(p.nodes), ",".join(str(d) for d in p.directions), p.dist)
            )

    emit("p2p_w3w3", shortest_zigzag_path(g, "w3", "w3", cutoff=100.0))
    emit("p2p_w3w5", shortest_zigzag_path(g, "w3", "w5", cutoff=15.0))
    emit("p2p_w3w5_c10", shortest_zigzag_path(g, "w3", "w5", cutoff=10.0))
    emit("p2p_w4w2", shortest_zigzag_path(g, "w4", "w2", cutoff=30.0))
    emit("p2p_w4w2_fwd", shortest_zigzag_path(g, "w4", "w2", cutoff=30.0, direction=1))
    gen = shortest_zigzag_path(g, "w4", cutoff=30.0)
    for n in ["w1", "w2", "w3", "w5", "w6", "w7"]:
        emit(f"gen_{n}", gen.path(n))
    gen_dir = shortest_zigzag_path(g, "w4", cutoff=30.0, direction=1)
    emit("gen_dir_w1", gen_dir.path("w1"))
    emit("gen_dir_w2", gen_dir.path("w2"))
    g.unpersist()
    return spark.createDataFrame(rows, "label string, path string, dirs string, dist double")


# ----------------------------------------------------------- dynamic attrs
ATTRS_SCHEMA = [("kind", "VARCHAR"), ("key", "VARCHAR"),
                ("attr", "VARCHAR"), ("value", "VARCHAR")]
ATTRS_EXPECTED = [
    ("node_len", "way1", "length", "15.0"),
    ("node_len", "way2", "length", "5.0"),
    ("node", "way2", "text", "text"),
    ("node", "way2", "number", "42"),
    ("node", "way2", "list", "[4, 2]"),
    ("edge", "way1>way2", "key", "value"),
]


def q_ref_attrs(spark, sf_dir):
    """Dynamic attrs through the distributed MAP column
    (/root/reference/tests/test_basic.py:122-144)."""
    from .attrs import DiGraphBuilder

    G = DiGraphBuilder()
    G.add_node("way1", length=15.0)
    G.add_node("way2", length=5.0, text="text", number=42, list=[4, 2])
    edge = G.add_edge("way1", "way2")
    edge["key"] = "value"
    g = G.build(spark)
    nm = g.names_map
    rows = []
    for r in g.vertices.collect():
        rows.append(("node_len", r["node"], "length", str(r["length"])))
        for k, v in sorted((r["attrs"] or {}).items()):
            rows.append(("node", r["node"], k, v))
    for r in g.edges.collect():
        for k, v in sorted((r["attrs"] or {}).items()):
            rows.append(("edge", f"{nm[r['src']]}>{nm[r['dst']]}", k, v))
    g.unpersist()
    return spark.createDataFrame(rows, "kind string, key string, attr string, value string")


# ------------------------------------------- L6 Path accessor signatures
PATH_SIG_SCHEMA = [("label", "VARCHAR"), ("sig_nodes", "VARCHAR"),
                   ("sig_start", "DOUBLE"), ("sig_end", "DOUBLE")]
PATH_SIG_EXPECTED = [
    # _signature = (internal Indexer ids, start_offset, end_offset)
    # (/root/reference/src/main.cpp:2437-2443); graph1 maps w1..w7 -> 1..7
    # (/root/reference/tests/test_basic.py:1449-1453). Offsets are the same
    # values the frozen GEN_PATHS/P2P expected tables above pin.
    ("paths_w4", "1|3|4", None, 10.0),
    ("paths_w5", "1|2|5", None, 5.0),
    ("path_w5", "1|2|5", None, 5.0),
    ("single_w1", "1", 3.0, 7.0),
    ("p2p_both_offsets", "1|2|5|7", 9.0, 1.0),
    ("build", "4|6|7", 5.0, 2.0),
    ("setitem_guard", "readonly", None, None),
    ("dyn_attr", "42", None, None),
]


def q_ref_path_sig(spark, sf_dir):
    """Path._signature / __getitem__ / __setitem__ / to_dict accessors
    (/root/reference/src/main.cpp:2426-2551): internal-id signature tuples
    for a fixed path set spanning the generator, p2p, and Build families,
    plus the readonly-guard and dynamic-attr semantics."""
    from .operators.linear import build_path
    from .operators.sssp import shortest_path, shortest_paths

    g = _g1(spark)

    def sig_row(label, p):
        ids, so, eo = p._signature
        return (label, "|".join(str(i) for i in ids), so, eo)

    rows = []
    gen = shortest_paths(g, "w1", cutoff=20.0)
    for p in gen.paths():
        rows.append(sig_row(f"paths_{p.nodes[-1]}", p))
    rows.append(sig_row("path_w5", gen.path("w5")))
    single = shortest_paths(g, "w1", cutoff=4.0, offset=3.0).paths()[0]
    rows.append(sig_row("single_w1", single))
    p2p = shortest_path(
        g, source="w1", target="w7", cutoff=33.0,
        source_offset=9.0, target_offset=1.0,
    )
    rows.append(sig_row("p2p_both_offsets", p2p))
    built = build_path(g, ["w4", "w6", "w7"], start_offset=5.0, end_offset=2.0)
    rows.append(sig_row("build", built))
    # __getitem__ parity rides the same row set
    assert p2p["dist"] == p2p.dist and p2p["nodes"] == list(p2p.nodes)
    assert p2p["start"] == (p2p.nodes[0], p2p.start_offset)
    assert p2p["end"] == (p2p.nodes[-1], p2p.end_offset)
    assert p2p["_signature"] == p2p._signature
    try:
        p2p["dist"] = 1.0
        rows.append(("setitem_guard", "MISSING", None, None))
    except KeyError:
        rows.append(("setitem_guard", "readonly", None, None))
    p2p["note"] = 42
    assert p2p["note"] == 42 and p2p.to_dict()["note"] == 42
    rows.append(("dyn_attr", str(p2p["note"]), None, None))
    g.unpersist()
    return spark.createDataFrame(
        rows, "label string, sig_nodes string, sig_start double, sig_end double"
    )


# ------------------------------------------------------------- registry
def ref_queries() -> dict:
    return {
        "ref_p2p_graph1": q_ref_p2p,
        "ref_sssp_rev_graph1": q_ref_sssp_rev,
        "ref_gen_paths_graph1": q_ref_gen_paths,
        "ref_ubodt_lookup_graph1": q_ref_ubodt_lookup,
        "ref_linear_graph1": q_ref_linear,
        "ref_seqs_graph1": q_ref_seqs,
        "ref_paths_to_graph1": q_ref_paths_to,
        "ref_paths_p2p_graph2": q_ref_paths_p2p,
        "ref_bindings_all_graph1": q_ref_bindings_all,
        "ref_zigzag_paths_graph1": q_ref_zigzag_paths,
        "ref_attrs_graph1": q_ref_attrs,
        "ref_views_graph1": q_ref_views,
        "ref_prevs_graph1": q_ref_prevs,
        "ref_ubodt_binary_graph1": q_ref_ubodt_binary,
        "ref_astar_graph1": q_ref_astar,
        "ref_saveload_graph1": q_ref_saveload,
        "ref_path_sig_graph1": q_ref_path_sig,
    }


def ref_oracles() -> dict:
    return {
        "ref_p2p_graph1": values_sql(P2P_EXPECTED, P2P_SCHEMA),
        "ref_sssp_rev_graph1": values_sql(
            REV_EXPECTED, [("node", "VARCHAR"), ("dist", "DOUBLE")]
        ),
        "ref_gen_paths_graph1": values_sql(GEN_PATHS_EXPECTED, P2P_SCHEMA),
        "ref_ubodt_lookup_graph1": values_sql(UBODT_LOOKUP_EXPECTED, UBODT_LOOKUP_SCHEMA),
        "ref_linear_graph1": values_sql(LINEAR_EXPECTED, LINEAR_SCHEMA),
        "ref_seqs_graph1": values_sql(
            SEQS_EXPECTED, [("mode", "VARCHAR"), ("pos", "INTEGER"), ("seq", "VARCHAR")]
        ),
        "ref_paths_to_graph1": values_sql(
            PATHS_TO_EXPECTED,
            [("variant", "VARCHAR"), ("path", "VARCHAR"), ("dist", "DOUBLE"),
             ("start_offset", "DOUBLE"), ("end_offset", "DOUBLE")],
        ),
        "ref_paths_p2p_graph2": values_sql(PATHS_P2P_EXPECTED, P2P_SCHEMA),
        "ref_bindings_all_graph1": values_sql(BINDINGS_EXPECTED, BINDINGS_SCHEMA),
        "ref_zigzag_paths_graph1": values_sql(ZZ_EXPECTED, ZZ_SCHEMA),
        "ref_attrs_graph1": values_sql(ATTRS_EXPECTED, ATTRS_SCHEMA),
        "ref_views_graph1": values_sql(VIEWS_EXPECTED, VIEWS_SCHEMA),
        "ref_prevs_graph1": values_sql(
            PREVS_EXPECTED, [("node", "VARCHAR"), ("prev", "VARCHAR")]
        ),
        "ref_ubodt_binary_graph1": REF_UBODT_BIN_SQL,
        "ref_astar_graph1": values_sql(ASTAR_EXPECTED, ASTAR_SCHEMA),
        "ref_saveload_graph1": values_sql(VIEWS_EXPECTED, VIEWS_SCHEMA),
        "ref_path_sig_graph1": values_sql(PATH_SIG_EXPECTED, PATH_SIG_SCHEMA),
    }


# ------------------------------------------ N3/N4/N5 graph views
VIEWS_SCHEMA = [("kind", "VARCHAR"), ("a", "VARCHAR"), ("b", "VARCHAR"),
                ("length", "DOUBLE")]
VIEWS_EXPECTED = [
    ("node", "w1", "", 10.0), ("node", "w2", "", 15.0), ("node", "w3", "", 10.0),
    ("node", "w4", "", 20.0), ("node", "w5", "", 15.0), ("node", "w6", "", 3.0),
    ("node", "w7", "", 10.0),
    ("edge", "w1", "w2", None), ("edge", "w1", "w3", None),
    ("edge", "w2", "w5", None), ("edge", "w3", "w4", None),
    ("edge", "w4", "w6", None), ("edge", "w6", "w7", None),
    ("edge", "w5", "w7", None),
    ("succ", "w1", "w2", None), ("succ", "w1", "w3", None),
    ("pred", "w7", "w5", None), ("pred", "w7", "w6", None),
    # sibs_under_next: share a common predecessor (w1 -> {w2, w3})
    ("sib_next", "w2", "w3", None), ("sib_next", "w3", "w2", None),
    # sibs_under_prev: share a common successor (w5, w6 -> w7)
    ("sib_prev", "w5", "w6", None), ("sib_prev", "w6", "w5", None),
]


def q_ref_views(spark, sf_dir):
    """nodes/edges views + successors/predecessors + sibling maps
    (/root/reference/src/main.cpp:391-435, :1041-1066)."""
    g = _g1(spark)
    rows = []
    for name, attrs in sorted(g.nodes_map().items()):
        rows.append(("node", name, "", attrs["length"]))
    for (a, b) in sorted(g.edges_map()):
        rows.append(("edge", a, b, None))
    for b in g.successors("w1"):
        rows.append(("succ", "w1", b, None))
    for b in g.predecessors("w7"):
        rows.append(("pred", "w7", b, None))
    for a, sibs in sorted(g.sibs_under_next_map().items()):
        for b in sorted(sibs):
            rows.append(("sib_next", a, b, None))
    for a, sibs in sorted(g.sibs_under_prev_map().items()):
        for b in sorted(sibs):
            rows.append(("sib_prev", a, b, None))
    g.unpersist()
    return spark.createDataFrame(rows, "kind string, a string, b string, length double")


# --------------------------------------------------- S9 generator prevs
PREVS_EXPECTED = [
    ("w2", "w1"), ("w3", "w1"), ("w4", "w3"),
    ("w5", "w2"), ("w6", "w4"), ("w7", "w5"),
]


def q_ref_prevs(spark, sf_dir):
    """Generator prevs() predecessor map
    (/root/reference/tests/test_basic.py:179-183 semantics)."""
    from .operators.sssp import shortest_paths

    g = _g1(spark)
    gen = shortest_paths(g, "w1", cutoff=200.0)
    rows = sorted(gen.prevs().items())
    g.unpersist()
    return spark.createDataFrame(rows, "node string, prev string")


# --------------------------------------- C6 UBODT binary IO round-trip
def q_ref_ubodt_binary(spark, sf_dir):
    """Reference-exact 40-byte binary dump/load round-trip
    (/root/reference/src/main.cpp:2096-2125): the loaded table must equal
    the built one record-for-record (same VALUES oracle as ref_ubodt)."""
    import os
    import tempfile

    from .operators.ubodt import build_ubodt, dump_ubodt_binary, load_ubodt_binary

    g = _g1(spark)
    built = build_ubodt(g, 100.0).localCheckpoint(eager=True)
    path = os.path.join(tempfile.mkdtemp(prefix="ubodt_bin_"), "ubodt.bin")
    dump_ubodt_binary(built, path)
    loaded = load_ubodt_binary(spark, path).localCheckpoint(eager=True)
    os.unlink(path)
    g.unpersist()
    return loaded


# ------------------------------------------------- S3 A* heuristic + p2p
# heuristic literals independently recomputed from the reference formula
# (/root/reference/src/main.cpp:158-171 cheap-ruler, :1262-1279 __astar
# heuristic: node-TAIL -> target-HEAD, scale factors at the target head's
# latitude); p2p rows are the Dijkstra goldens (A* == Dijkstra by the
# admissible-heuristic contract, main.cpp:1246-1351).
ASTAR_SCHEMA = [("label", "VARCHAR"), ("h", "DOUBLE"), ("path", "VARCHAR"),
                ("dist", "DOUBLE")]
ASTAR_EXPECTED = [
    ("h_w1_w7", 14310.261752161054, None, None),
    ("h_w2_w7", 11834.477539415419, None, None),
    ("h_w5_w7", 4407.612078492805, None, None),
    ("h_w4_w2", 5497.8378206191255, None, None),
    ("h_plane_w1_w7", 5.501518426761834, None, None),
    ("h_missing_target", 0.0, None, None),
    ("p2p_endpoints", None, "w1 > w2 > w5 > w7", 30.0),
    ("p2p_endpoints_sinks", None, "w1 > w3 > w4 > w6 > w7", 33.0),
    ("p2p_endpoints_under", None, None, None),
]


def _g1_endpoints(skip=("w6",)):
    """Deterministic (head, tail) xyz per node: wi -> head (0.01i, 0.02i, i),
    tail (0.01i+0.003, 0.02i+0.004, i+0.5); ``skip`` nodes get no endpoint
    (exercises the admissible h=0 fallback)."""
    out = {}
    for i in range(1, 8):
        name = f"w{i}"
        if name in skip:
            continue
        out[name] = (
            (0.01 * i, 0.02 * i, float(i)),
            (0.01 * i + 0.003, 0.02 * i + 0.004, i + 0.5),
        )
    return out


def q_ref_astar(spark, sf_dir):
    """A* endpoints surface (/root/reference/src/main.cpp:606-609 dispatch,
    :1246-1351 kernel): heuristic geometry values plus endpoints-given p2p
    results, which must equal plain Dijkstra's."""
    from .operators.astar import Endpoints, encode_endpoints, heuristic
    from .operators.sssp import shortest_path

    g = _g1(spark)
    ep = encode_endpoints(g, _g1_endpoints())
    ep_plane = Endpoints(ep.endpoints, is_wgs84=False)
    nid = g.node_id
    rows = [
        ("h_w1_w7", heuristic(ep, nid("w1"), nid("w7")), None, None),
        ("h_w2_w7", heuristic(ep, nid("w2"), nid("w7")), None, None),
        ("h_w5_w7", heuristic(ep, nid("w5"), nid("w7")), None, None),
        ("h_w4_w2", heuristic(ep, nid("w4"), nid("w2")), None, None),
        ("h_plane_w1_w7", heuristic(ep_plane, nid("w1"), nid("w7")), None, None),
        ("h_missing_target", heuristic(ep, nid("w1"), nid("w6")), None, None),
    ]
    cases = [
        ("p2p_endpoints", dict(source="w1", target="w7", cutoff=40.0, endpoints=ep)),
        ("p2p_endpoints_sinks",
         dict(source="w1", target="w7", cutoff=40.0, endpoints=ep, sinks=["w5"])),
        ("p2p_endpoints_under",
         dict(source="w1", target="w7", cutoff=30.0 - 1e-3, endpoints=ep)),
    ]
    for label, kw in cases:
        p = shortest_path(g, **kw)
        if p is None:
            rows.append((label, None, None, None))
        else:
            rows.append((label, None, _join(p.nodes), p.dist))
    g.unpersist()
    return spark.createDataFrame(rows, "label string, h double, path string, dist double")


# --------------------------------------------------- graph save/load
def q_ref_saveload(spark, sf_dir):
    """Graph parquet save/load round-trip (graph.py persistence): the
    re-loaded graph must reproduce the full views projection
    (/root/reference/src/main.cpp:391-435 accessors) — same VALUES oracle
    as ref_views_graph1."""
    import tempfile

    from .graph import SparkDiGraph

    g = _g1(spark)
    d = tempfile.mkdtemp(prefix="nxg_saveload_")
    g.save(d)
    g.unpersist()
    g2 = SparkDiGraph.load(spark, d)
    rows = []
    for name, attrs in sorted(g2.nodes_map().items()):
        rows.append(("node", name, "", attrs["length"]))
    for (a, b) in sorted(g2.edges_map()):
        rows.append(("edge", a, b, None))
    for b in g2.successors("w1"):
        rows.append(("succ", "w1", b, None))
    for b in g2.predecessors("w7"):
        rows.append(("pred", "w7", b, None))
    for a, sibs in sorted(g2.sibs_under_next_map().items()):
        for b in sorted(sibs):
            rows.append(("sib_next", a, b, None))
    for a, sibs in sorted(g2.sibs_under_prev_map().items()):
        for b in sorted(sibs):
            rows.append(("sib_prev", a, b, None))
    g2.unpersist()
    return spark.createDataFrame(rows, "kind string, a string, b string, length double")
