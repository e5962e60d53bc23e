"""Spark-native directed graph with node weights ("road-segment-as-node").

Data model (SURVEY.md §1): the reference ``DiGraph``
(/root/reference/src/main.cpp:343-1994) stores

- nodes with exactly one built-in attribute ``length`` (default 1.0,
  /root/reference/src/main.cpp:70-73), rounded half-up on ingest
  (/root/reference/src/main.cpp:366-368);
- weightless directed edges (/root/reference/src/main.cpp:75-77);
- forward and reverse adjacency simultaneously (/root/reference/src/main.cpp:1015).

Here the graph is a pair of DataFrames:

- ``vertices (id BIGINT, node STRING, length DOUBLE)``
- ``edges (src BIGINT, dst BIGINT)``

Reverse adjacency is a role swap (projection — free); traversal cost
"length of the node you relax out of" is materialized once as
``edges_w (src, dst, weight)`` with ``weight = length(src)`` (forward) or
``weight = length(dst-as-src)`` (reverse), so every downstream kernel is a
plain weighted-edge relaxation.

Scale notes: ``edges_w`` is hash-partitioned by ``src`` (the superstep join
key) so every frontier-join reuses one partitioning; vertices join for the
weight column happens once at build. Degree stats are computed here and
drive hub-salting decisions in the kernels.
"""

from __future__ import annotations

from functools import cached_property
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bucketed as store
from .bucketed import _fs_read_text, _fs_write_text
from .indexer import Indexer
from .rounding import round_half_up, round_scale

VERTICES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("node", T.StringType(), False),
        T.StructField("length", T.DoubleType(), False),
    ]
)
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)


class SparkDiGraph:
    """Immutable ("frozen") node-weighted digraph over DataFrames.

    The reference's freeze/cache lifecycle (/root/reference/src/main.cpp:996-1004)
    is the *default* here: DataFrames are immutable; "reset" is a rebuild.
    """

    def __init__(
        self,
        spark: SparkSession,
        vertices: DataFrame,
        edges: DataFrame,
        round_n: Optional[int] = 3,
        indexer: Optional[Indexer] = None,
        num_partitions: Optional[int] = None,
        edges_src_partitioned: bool = False,
    ):
        self.spark = spark
        self.round_n = round_n
        self.scale = round_scale(round_n)
        self.indexer = indexer
        self.num_partitions = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.vertices = vertices
        self.edges = edges
        # True when ``edges`` comes from a source that already REPORTS
        # HashPartitioning(src, num_partitions) (a bucketed-table scan from
        # ``load``): the forward ``edges_w`` build then skips its explicit
        # repartition — zero exchanges to become traversal-ready.
        self.edges_src_partitioned = edges_src_partitioned
        # same edge rows bucketed by dst (bucketed load only) — feeds an
        # exchange-free ``edges_w_rev``
        self._edges_rev_scan: Optional[DataFrame] = None

    # ---------------------------------------------------------------- build
    @classmethod
    def from_lists(
        cls,
        spark: SparkSession,
        nodes: Sequence[tuple[str, float]] = (),
        edges: Sequence[tuple[str, str]] = (),
        round_n: Optional[int] = 3,
    ) -> "SparkDiGraph":
        """Build from explicit (node, length) / (src, dst) lists with the
        exact reference add_node/add_edge semantics:

        - lengths rounded half-up at ingest (/root/reference/src/main.cpp:366-368);
        - add_edge auto-creates missing endpoints with length 1.0
          (/root/reference/src/main.cpp:375-389);
        - ids assigned by the order-dependent Indexer rule.
        """
        idx = Indexer()
        scale = round_scale(round_n)
        lengths: dict[int, float] = {}
        for name, length in nodes:
            i = idx.id(name)
            lengths[i] = round_half_up(float(length), scale)
        edge_ids: list[tuple[int, int]] = []
        seen = set()
        for a, b in edges:
            ia, ib = idx.id(a), idx.id(b)
            lengths.setdefault(ia, 1.0)
            lengths.setdefault(ib, 1.0)
            if (ia, ib) not in seen:
                seen.add((ia, ib))
                edge_ids.append((ia, ib))
        inv = {v: k for k, v in idx.index().items()}
        vrows = [(i, inv[i], float(l)) for i, l in lengths.items()]
        vdf = spark.createDataFrame(vrows, VERTICES_SCHEMA)
        edf = spark.createDataFrame(edge_ids or [], EDGES_SCHEMA)
        return cls(spark, vdf, edf, round_n=round_n, indexer=idx)

    @classmethod
    def from_edge_df(
        cls,
        spark: SparkSession,
        edges: DataFrame,
        vertices: Optional[DataFrame] = None,
        round_n: Optional[int] = 3,
        default_length: float = 1.0,
    ) -> "SparkDiGraph":
        """Build from an integer edge DataFrame ``(src, dst)``; vertices not
        listed get ``default_length`` (auto-create semantics of add_edge)."""
        # (Measured and rejected: persisting this deduped edge table to
        # spare the edges_w build one re-execution of the caller's edge
        # pipeline was a wash at tri-graph scale — the cache write cost
        # what the recompute saved — and adds a raw-edge-sized cache.)
        edges = edges.select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        ).distinct()
        endpoint_ids = edges.select(F.col("src").alias("id")).unionByName(
            edges.select(F.col("dst").alias("id"))
        ).distinct()
        if vertices is None:
            vdf = endpoint_ids.select(
                "id",
                F.col("id").cast("string").alias("node"),
                F.lit(float(default_length)).alias("length"),
            )
        else:
            # listed vertices with a NULL node/length get the same defaults
            # as unlisted endpoints, whether or not they touch an edge
            vcols = (
                "id",
                F.coalesce(F.col("node"), F.col("id").cast("string")).alias("node"),
                F.coalesce(F.col("length"), F.lit(float(default_length)))
                .cast("double")
                .alias("length"),
            )
            vdf = endpoint_ids.join(vertices, "id", "left").select(*vcols)
            extra = vertices.join(endpoint_ids, "id", "left_anti").select(*vcols)
            vdf = vdf.unionByName(extra)
        return cls(spark, vdf, edges, round_n=round_n)

    # ------------------------------------------------------------ accessors
    def _cached_vertices(self) -> DataFrame:
        """Persist the vertex table on first real use. Graphs built via
        ``from_edge_df`` derive their vertex table from a distinct-endpoints
        chain over the edges; without a persist, every accessor that needs
        it (name→id lookups, the driver maps, the ``edges_w`` /
        ``edges_w_rev`` builds) re-runs that full dedup shuffle."""
        if not self.__dict__.get("_v_persisted"):
            self.vertices = self.vertices.persist()
            self._v_persisted = True
        return self.vertices

    @cached_property
    def ids(self) -> DataFrame:
        """Dictionary DF (node STRING, id BIGINT)."""
        return self._cached_vertices().select("node", "id")

    def _vertex_maps(self) -> tuple[dict, dict]:
        """One guarded collect builds BOTH driver maps (each previously
        ran its own count + collect); the Row list is dropped immediately
        so only the two dicts stay resident."""
        v = self._cached_vertices()
        n = v.count()
        if n > 2_000_000:
            raise RuntimeError(
                "driver-side vertex maps are a fixture-scale convenience; "
                f"graph has {n} vertices — use DataFrame joins instead"
            )
        # Arrow transfer (session.py enables arrow.pyspark) — the row-based
        # collect() pickled every Row; toPandas moves the three columns as
        # columnar batches (measured ~2x faster on the ~300k-vertex tri
        # graph driver-map build)
        pdf = v.select("id", "length", "node").toPandas()
        lengths = dict(zip(pdf["id"].tolist(), pdf["length"].tolist()))
        names = dict(zip(pdf["id"].tolist(), pdf["node"].tolist()))
        self.__dict__["lengths_map"] = lengths
        self.__dict__["names_map"] = names
        return lengths, names

    def vertex_length(self, vid: Optional[int]) -> Optional[float]:
        """Length of ONE vertex (None when absent) without building the
        full driver-side maps: kernel ENTRY points need a single source
        length + existence check, and paying the |V|-row toPandas (plus
        its count guard) for that dominated the prep of fresh-graph SSSP
        calls. Uses the maps when they are already cached."""
        if vid is None:
            return None
        if "lengths_map" in self.__dict__:
            return self.__dict__["lengths_map"].get(vid)
        row = (
            self._cached_vertices()
            .filter(F.col("id") == vid)
            .select("length")
            .head(1)
        )
        return float(row[0]["length"]) if row else None

    @cached_property
    def lengths_map(self) -> dict[int, float]:
        """Driver-side id->length map — ONLY for fixture-scale graphs
        (path decoration of collected results). Guarded by size."""
        return self._vertex_maps()[0]

    @cached_property
    def names_map(self) -> dict[int, str]:
        return self._vertex_maps()[1]

    @cached_property
    def min_length(self) -> float:
        """Least vertex length, read off ``lengths_map`` (no Spark job once
        the map is built). Positive means every relaxation step adds a
        positive weight, which lets a point query prune rows at exactly
        its target's distance (``operators.sssp``)."""
        return min(self.lengths_map.values(), default=0.0)

    @cached_property
    def edges_w(self) -> DataFrame:
        """Forward traversal edges ``(src, dst, weight=length(src))``,
        hash-partitioned by src (the frontier-join key) and persisted."""
        ew = self.edges.join(
            self._cached_vertices().select(
                F.col("id").alias("src"), F.col("length").alias("weight")
            ),
            "src",
        ).select("src", "dst", "weight")
        if not self.edges_src_partitioned:
            # bucketed-scan edges already report HashPartitioning(src, P);
            # everything else needs the explicit exchange once
            ew = ew.repartition(self.num_partitions, "src")
        # src-sort within partitions before caching: the in-memory scan
        # reports the ordering, so every superstep's sort-merge
        # frontier⋈edges join skips re-sorting the (large) edge side
        ew = ew.sortWithinPartitions("src").persist()
        ew.count()
        return ew

    @cached_property
    def edges_w_rev(self) -> DataFrame:
        """Reverse traversal edges: role-swapped, ``weight = length`` of the
        node being relaxed out of in the *reverse* walk (the original dst).
        A bucketed load supplies ``_edges_rev_scan`` (same rows bucketed by
        dst): the join + alias-aware projection then already carry
        HashPartitioning on the new ``src`` and the exchange is skipped."""
        base = self._edges_rev_scan if self._edges_rev_scan is not None else self.edges
        ew = (
            base.join(
                self._cached_vertices().select(
                    F.col("id").alias("dst"), F.col("length").alias("weight")
                ),
                "dst",
            )
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
        if self._edges_rev_scan is None:
            ew = ew.repartition(self.num_partitions, "src")
        # same pre-sorted cache as edges_w (skip the per-superstep sort)
        ew = ew.sortWithinPartitions("src").persist()
        ew.count()
        return ew

    def unpersist(self):
        for attr in ("edges_w", "edges_w_rev"):
            if attr in self.__dict__:
                self.__dict__[attr].unpersist()
                del self.__dict__[attr]
        if self.__dict__.get("_v_persisted"):
            self.vertices.unpersist()
            self._v_persisted = False
        # the doubled-state edge table operators/zigzag.py caches per graph
        se = self.__dict__.pop("_zigzag_state_edges", None)
        if se is not None:
            se.unpersist()

    # -------------------------------------------------- name/id translation
    @cached_property
    def _ids_by_name(self) -> dict[str, int]:
        """``names_map`` inverted (first id per name). Built only from an
        existing ``names_map``: a name lookup never pays for the |V|-row
        maps by itself."""
        out: dict[str, int] = {}
        for i, n in self.__dict__["names_map"].items():
            out.setdefault(n, i)
        return out

    def node_id(self, name: str) -> Optional[int]:
        if self.indexer is not None:
            return self.indexer.get_id(name)
        if "names_map" in self.__dict__:
            return self._ids_by_name.get(name)
        row = self.ids.filter(F.col("node") == name).head(1)
        return row[0]["id"] if row else None

    def node_ids(self, names: Iterable[str]) -> dict[str, Optional[int]]:
        if self.indexer is not None:
            return {n: self.indexer.get_id(n) for n in names}
        if "names_map" in self.__dict__:
            return {n: self._ids_by_name.get(n) for n in names}
        names = list(names)
        rows = self.ids.filter(F.col("node").isin(names)).collect()
        got = {r["node"]: r["id"] for r in rows}
        return {n: got.get(n) for n in names}

    # -------------------------------------------------------- neighborhoods
    def successors_df(self, ids: Optional[Sequence[int]] = None) -> DataFrame:
        e = self.edges
        if ids is not None:
            e = e.filter(F.col("src").isin(list(ids)))
        return e.select("src", "dst")

    def predecessors_df(self, ids: Optional[Sequence[int]] = None) -> DataFrame:
        e = self.edges
        if ids is not None:
            e = e.filter(F.col("dst").isin(list(ids)))
        return e.select("src", "dst")

    def successors(self, name: str) -> list[str]:
        """str -> [str], reference parity (/root/reference/src/main.cpp:432-435)."""
        i = self.node_id(name)
        if i is None:
            return []
        nm = self.names_map
        rows = self.edges.filter(F.col("src") == i).select("dst").collect()
        return sorted(nm[r["dst"]] for r in rows)

    def predecessors(self, name: str) -> list[str]:
        i = self.node_id(name)
        if i is None:
            return []
        nm = self.names_map
        rows = self.edges.filter(F.col("dst") == i).select("src").collect()
        return sorted(nm[r["src"]] for r in rows)

    @cached_property
    def sibs_under_next(self) -> DataFrame:
        """(a, b): a and b are *siblings under a common next-set*, i.e.
        they share a common PREDECESSOR — built from the forward adjacency
        in the reference (/root/reference/src/main.cpp:1041-1053): every
        node with >1 successors makes those successors mutual siblings.
        Wedge self-join on src; excludes a==b (:1050-1052)."""
        e1 = self.edges.select("src", F.col("dst").alias("a"))
        e2 = self.edges.select("src", F.col("dst").alias("b"))
        return (
            e1.join(e2, "src")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
            .distinct()
        )

    @cached_property
    def sibs_under_prev(self) -> DataFrame:
        """(a, b): siblings under a common prev-set, i.e. they share a
        common SUCCESSOR (/root/reference/src/main.cpp:1054-1066)."""
        e1 = self.edges.select(F.col("src").alias("a"), "dst")
        e2 = self.edges.select(F.col("src").alias("b"), "dst")
        return (
            e1.join(e2, "dst")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
            .distinct()
        )

    def nodes_map(self) -> dict[str, dict]:
        """String-keyed node view, reference `G.nodes` parity
        (/root/reference/src/main.cpp:418-421). Fixture-scale collect;
        the DF-level view is `vertices`."""
        return {
            r["node"]: {"length": r["length"]} for r in self.vertices.collect()
        }

    def edges_map(self) -> dict[tuple[str, str], dict]:
        """String-keyed edge view (/root/reference/src/main.cpp:422-426)."""
        nm = self.names_map
        return {
            (nm[r["src"]], nm[r["dst"]]): {} for r in self.edges.collect()
        }

    # -------------------------------------------------------- persistence
    _table_ns = staticmethod(store.namespace)

    @classmethod
    def _bucketed_tables(cls, path: str) -> list[tuple[str, str, str]]:
        """(subdir, bucket column, catalog table) of a bucketed save:
        vertices by id, edges by src, and a second edge copy by dst for
        reverse traversal."""
        ns = cls._table_ns(path)
        return [
            (sub, col, f"graph_{ns}_{sub}")
            for sub, col in (("vertices", "id"), ("edges", "src"), ("edges_rev", "dst"))
        ]

    def save(self, path: str, bucketed: bool = False) -> None:
        """Persist as a parquet layout: {path}/vertices, {path}/edges,
        {path}/meta.json. Vertices/edges write hash-partitioned on their
        join keys so a re-load starts co-located.

        ``bucketed=True`` writes them instead as tables of the
        ``networkx_graph_spark.bucketed`` store (vertices by id, edges by
        src, plus a second edge copy by dst for reverse traversal;
        ``num_partitions`` buckets). ``load`` reads them back as scans
        that REPORT their hash partitioning, so the reloaded graph's
        ``edges_w`` AND ``edges_w_rev`` builds need no exchange at all, in
        this session or in a fresh process (which re-registers the
        catalog tables from the specs recorded with the files)."""
        import json
        import os

        tables = self._bucketed_tables(path)
        if bucketed:
            for sub, col, table in tables:
                df = self.vertices if sub == "vertices" else self.edges
                store.write(df, os.path.join(path, sub), [col], self.num_partitions, table)
        else:
            # a prior bucketed save may have registered catalog tables over
            # these same dirs; drop them so the catalog never disagrees
            # with the (now non-bucketed) files on disk
            store.drop(self.spark, *(t for _, _, t in tables))
            v = self.vertices.repartition(self.num_partitions, "id")
            e = self.edges.repartition(self.num_partitions, "src")
            v.write.mode("overwrite").parquet(os.path.join(path, "vertices"))
            e.write.mode("overwrite").parquet(os.path.join(path, "edges"))
        _fs_write_text(
            self.spark,
            os.path.join(path, "meta.json"),
            json.dumps(
                {
                    "round_n": self.round_n,
                    "bucketed": self.num_partitions if bucketed else None,
                }
            ),
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SparkDiGraph":
        """Load a ``save`` layout. A bucketed save reloads as bucketed
        scans when every dir still carries its recorded bucket spec;
        otherwise (a dir rewritten since, an older save) it falls back to
        the plain parquet files: correct, one exchange per direction."""
        import json
        import os

        meta = json.loads(_fs_read_text(spark, os.path.join(path, "meta.json")))
        buckets = meta.get("bucketed")
        if buckets:
            try:
                v, e, er = [
                    store.read(spark, os.path.join(path, sub), [col], buckets, table)
                    for sub, col, table in cls._bucketed_tables(path)
                ]
            except store.READ_ERRORS:
                pass
            else:
                g = cls(
                    spark, v, e,
                    round_n=meta.get("round_n"),
                    num_partitions=buckets,
                    edges_src_partitioned=True,
                )
                g._edges_rev_scan = er
                return g
        return cls(
            spark,
            spark.read.parquet(os.path.join(path, "vertices")),
            spark.read.parquet(os.path.join(path, "edges")),
            round_n=meta.get("round_n"),
        )

    def sibs_under_next_map(self) -> dict[str, set[str]]:
        """String-keyed sibling map, reference accessor parity
        (/root/reference/src/main.cpp:391-403). Fixture-scale collect."""
        nm = self.names_map
        out: dict[str, set[str]] = {}
        for r in self.sibs_under_next.collect():
            out.setdefault(nm[r["a"]], set()).add(nm[r["b"]])
        return out

    def sibs_under_prev_map(self) -> dict[str, set[str]]:
        nm = self.names_map
        out: dict[str, set[str]] = {}
        for r in self.sibs_under_prev.collect():
            out.setdefault(nm[r["a"]], set()).add(nm[r["b"]])
        return out

    # ------------------------------------------------------------ stats
    @cached_property
    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_degree")
        )

    @cached_property
    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("in_degree")
        )
