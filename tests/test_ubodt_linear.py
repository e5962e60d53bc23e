"""UBODT + Path post-processing goldens
(/root/reference/tests/test_basic.py:302-357, :1517-1635)."""

import pytest

from networkx_graph_spark.operators.linear import (
    build_path,
    path_along,
    path_locate,
    path_offsets,
    path_slice,
)
from networkx_graph_spark.operators.sssp import shortest_path
from networkx_graph_spark.operators.ubodt import UbodtIndex, build_ubodt, ubodt_sorted

GOLDEN_UBODT = [
    # (source, source_next, target_prev, target, cost) — test_basic.py:1528-1547
    (1, 2, 1, 2, 0.0),
    (1, 3, 1, 3, 0.0),
    (1, 3, 3, 4, 10.0),
    (1, 2, 2, 5, 15.0),
    (1, 2, 5, 7, 30.0),
    (1, 3, 4, 6, 30.0),
    (2, 5, 2, 5, 0.0),
    (2, 5, 5, 7, 15.0),
    (3, 4, 3, 4, 0.0),
    (3, 4, 4, 6, 20.0),
    (3, 4, 6, 7, 23.0),
    (4, 6, 4, 6, 0.0),
    (4, 6, 6, 7, 3.0),
    (5, 7, 5, 7, 0.0),
    (6, 7, 6, 7, 0.0),
]


@pytest.fixture(scope="module")
def ubodt_index(graph1):
    df = build_ubodt(graph1, 100.0)
    return UbodtIndex(graph1, df)


def test_build_ubodt_golden(ubodt_index):
    rows = [
        (r["source"], r["source_next"], r["target_prev"], r["target"], r["cost"])
        for r in ubodt_sorted(ubodt_index.ubodt).collect()
    ]
    assert len(rows) == 15
    assert rows == GOLDEN_UBODT


def test_ubodt_paths(ubodt_index):
    assert ubodt_index.path("w1", "w4").nodes == ["w1", "w3", "w4"]
    assert ubodt_index.path("w1", "w7").nodes == ["w1", "w2", "w5", "w7"]
    assert ubodt_index.path("w3", "w2") is None
    assert ubodt_index.dist("w1", "w4") == 10.0
    assert ubodt_index.size() == 15


def test_ubodt_by_source_target(ubodt_index):
    sources = ubodt_index.by_target("w7")
    assert sources == [
        (0.0, "w5"),
        (0.0, "w6"),
        (3.0, "w4"),
        (15.0, "w2"),
        (23.0, "w3"),
        (30.0, "w1"),
    ]
    assert sources[:4] == ubodt_index.by_target("w7", 15.0)
    targets = ubodt_index.by_source("w2")
    assert targets == [(0.0, "w5"), (15.0, "w7")]
    assert targets[:1] == ubodt_index.by_source("w2", 10.0)


def test_ubodt_paths_df(ubodt_index, graph1, spark):
    pairs = spark.createDataFrame(
        [(0, 1, 4), (1, 1, 7), (2, 3, 2)], "qid long, source long, target long"
    )
    got = {r["qid"]: r for r in ubodt_index.paths_df(pairs).collect()}
    assert list(got[0]["nodes"]) == [1, 3, 4] and got[0]["dist"] == 10.0
    assert list(got[1]["nodes"]) == [1, 2, 5, 7] and got[1]["dist"] == 30.0
    assert 2 not in got  # unreachable pair dropped


def test_ubodt_dump_load_roundtrip(ubodt_index, graph1, spark, tmp_path):
    from networkx_graph_spark.operators.ubodt import dump_ubodt, load_ubodt

    p = str(tmp_path / "ubodt.parquet")
    dump_ubodt(ubodt_index.ubodt, p, num_partitions=4)
    loaded = UbodtIndex(graph1, load_ubodt(spark, p))
    assert loaded.dump() == ubodt_index.dump()
    assert loaded.path("w1", "w4").nodes == ["w1", "w3", "w4"]


def test_path_build(graph1):
    path2 = build_path(graph1, ["w1", "w3", "w4"], start_offset=5.0, end_offset=17.0)
    assert path2.dist == 32.0
    assert path2.to_dict()["start"] == ("w1", 5.0)
    assert path2.to_dict()["end"] == ("w4", 17.0)
    path2 = build_path(graph1, ["w1", "w3", "w4"], start_offset=5.12345, end_offset=27.0)
    assert path2.dist == 34.877
    assert path2.start_offset == 5.123
    assert path2.end_offset == 20.0
    path2 = build_path(
        graph1,
        ["w1", "w3", "w4"],
        start_offset=5.12345,
        end_offset=27.0,
        binding=("w3", (5.0, 5.0, "something")),
    )
    assert path2.binding == ("w3", (5.0, 5.0, "something"))
    path2 = build_path(graph1, ["w1"], start_offset=1.8, end_offset=3.3)
    assert path2.dist == 1.5
    with pytest.raises(ValueError, match="missing node no_such_road"):
        build_path(graph1, ["w1", "w3", "no_such_road"])
    with pytest.raises(ValueError, match="invalid binding node no_such_road"):
        build_path(
            graph1,
            ["w1", "w3", "w4"],
            binding=("no_such_road", (5.0, 5.0, "x")),
        )


def test_along_slice_locate(graph1):
    # the sinks-detour path (test_basic.py:294-357)
    path = shortest_path(graph1, "w1", "w7", cutoff=40.0, sinks=["w5"])
    assert path.nodes == ["w1", "w3", "w4", "w6", "w7"]

    assert path_along(graph1, path, 5.0) == ("w3", 5.0)
    assert path_along(graph1, path, 5.0123456) == ("w3", 5.012)
    assert path_along(graph1, path, 0) == path_along(graph1, path, -1) == ("w1", 10.0)
    assert path_along(graph1, path, 1e-3) == ("w3", 1e-3)
    assert path_along(graph1, path, 33.0) == path_along(graph1, path, 34.0) == ("w7", 0.0)
    assert path_along(graph1, path, 33.0 - 1e-3) == ("w6", 2.999)

    assert path_slice(graph1, path, 2, 5).to_dict() == {
        "dist": 3.0,
        "nodes": ["w3"],
        "start": ("w3", 2.0),
        "end": ("w3", 5.0),
    }
    assert path_slice(graph1, path, 2, 15).to_dict() == {
        "dist": 13.0,
        "nodes": ["w3", "w4"],
        "start": ("w3", 2.0),
        "end": ("w4", 5.0),
    }
    assert path_slice(graph1, path, 10, 30).to_dict() == {
        "dist": 20.0,
        "nodes": ["w3", "w4"],
        "start": ("w3", 10.0),
        "end": ("w4", 20.0),
    }

    subpath = path_slice(graph1, path, 5, 25)
    assert subpath.to_dict() == {
        "dist": 20.0,
        "nodes": ["w3", "w4"],
        "start": ("w3", 5.0),
        "end": ("w4", 15.0),
    }
    assert path_offsets(graph1, subpath) == [-5.0, 5.0]
    assert path_locate(graph1, subpath, ("w3", 10.0)) == 5.0
    assert path_locate(graph1, subpath, ("w4", 10.0)) == 15.0
    assert path_locate(graph1, subpath, ("w3", 4.98)) is None
    assert path_locate(graph1, subpath, ("w3", 4.99)) == 0.0
    assert path_locate(graph1, subpath, ("w4", 30.0)) is None

    assert path_slice(graph1, path, -1, 0).to_dict() == {
        "dist": 0.0,
        "nodes": ["w1"],
        "start": ("w1", 10.0),
        "end": ("w1", 10.0),
    }
    assert path_slice(graph1, path, 3, 2).to_dict() == {
        "dist": 0.0,
        "nodes": ["w3"],
        "start": ("w3", 3.0),
        "end": ("w3", 3.0),
    }


def test_sequences(graph1):
    from networkx_graph_spark.operators.linear import encode_sequences, search_for_seqs

    path = shortest_path(graph1, "w1", "w7", cutoff=40.0, sinks=["w5"])
    seqs = encode_sequences(graph1, [["w3", "w4"], ["w4", "w6", "w7"], ["w2", "w5"]])
    hits = search_for_seqs(graph1, path, seqs, quick_return=False)
    assert set(hits) == {1, 2}
    assert [p.nodes for p in hits[1]] == [["w3", "w4"]]
    assert [p.nodes for p in hits[2]] == [["w4", "w6", "w7"]]
    quick = search_for_seqs(graph1, path, seqs, quick_return=True)
    assert len(quick) == 1
