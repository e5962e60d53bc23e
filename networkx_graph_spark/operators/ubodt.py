"""UBODT: upper-bounded origin-destination table (bounded all-pairs).

Reference: ``build_ubodt`` loops a sequential Dijkstra over every node
(/root/reference/src/main.cpp:950-988; its parallel variant is an empty
stub, :990-994). Here the build is ONE multi-source run of the batched
SSSP kernel — every vertex seeds its own ``qid`` and all queries relax
together; the ``first_hop`` (``source_next``) is carried as a kernel
payload column instead of re-walking the pmap per row
(/root/reference/src/main.cpp:976-980).

Table schema (UbodtRecord, /root/reference/src/main.cpp:304-341):
``(source, target, source_next, target_prev, cost)``; cost rounded
half-up on the graph grid (:982-984). Canonical sort for dump parity:
(source, cost, source_next, target_prev, target) — the record's
strict-weak order (:316-327). At rest it is a parquet table partitioned
by source-hash; ``by_source``/``by_target`` are partition-pruned scans
(/root/reference/src/main.cpp:2153-2179's presorted vectors ≈ sorted
parquet layout).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import SparkDiGraph
from ..plans.supersteps import SuperstepRunner
from ..rounding import round_col
from ..session import local_df
from .sssp import NEG_INF, PathResult, bounded_sssp


def build_ubodt(
    graph: SparkDiGraph,
    thresh: float,
    runner=None,
    name: str = "ubodt",
    resume: bool = False,
) -> DataFrame:
    """-> DataFrame (source, target, source_next, target_prev, cost).

    The build seeds EVERY vertex (one multi-source kernel run) — at web
    scale this is a long job; pass a ``SuperstepRunner`` with a
    ``checkpoint_dir`` (+ ``resume=True`` after a crash) to make it
    restartable mid-iteration (north rule)."""
    if thresh < 0:
        return local_df(
            graph.spark,
            [],
            "source long, target long, source_next long, target_prev long, cost double",
        )
    seeds = graph.edges_w.select(
        F.col("src").alias("qid"),
        F.col("dst").alias("node"),
        F.lit(0.0).alias("dist"),
        F.col("src").alias("prev"),
        F.lit(NEG_INF).alias("prev_dist"),
        F.col("dst").alias("first_hop"),
    )
    state = bounded_sssp(
        graph.spark,
        graph.edges_w,
        seeds,
        float(thresh),
        payload_cols=["first_hop"],
        runner=runner,
        name=name,
        resume=resume,
    )
    return (
        state.filter(F.col("node") != F.col("qid"))  # dmap.erase(start)
        .select(
            F.col("qid").alias("source"),
            F.col("node").alias("target"),
            F.col("first_hop").alias("source_next"),
            F.col("prev").alias("target_prev"),
            round_col(F.col("dist"), graph.scale).alias("cost"),
        )
    )


def ubodt_sorted(ubodt: DataFrame) -> DataFrame:
    """Canonical record order (/root/reference/src/main.cpp:316-327)."""
    return ubodt.orderBy("source", "cost", "source_next", "target_prev", "target")


def dump_ubodt(ubodt: DataFrame, path: str, num_partitions: Optional[int] = None):
    """Persist as parquet. (The reference's raw packed 40-byte binary
    format and its md5 golden, /root/reference/tests/test_basic.py:1584-1595,
    are format-specific; value equality is the gate here.) Partitioned by
    source hash so by_source lookups prune."""
    w = ubodt.repartition(num_partitions or 32, "source").sortWithinPartitions(
        "source", "cost"
    )
    w.write.mode("overwrite").parquet(path)


def load_ubodt(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


class UbodtIndex:
    """Query surface of ``ShortestPathWithUbodt``
    (/root/reference/src/main.cpp:2006-2180)."""

    def __init__(self, graph: SparkDiGraph, ubodt: DataFrame):
        self.graph = graph
        self.ubodt = ubodt.persist()
        self._n = self.ubodt.count()
        self._local: Optional[dict] = None

    def size(self) -> int:
        return self._n

    def _lookup(self) -> dict:
        """Driver-side map for fixture-scale chain walking."""
        if self._local is None:
            if self._n > 5_000_000:
                raise RuntimeError("driver lookup map is fixture-scale only")
            self._local = {
                (r["source"], r["target"]): r for r in self.ubodt.collect()
            }
        return self._local

    def dist(self, source: str, target: str) -> Optional[float]:
        sid, tid = self.graph.node_id(source), self.graph.node_id(target)
        if sid is None or tid is None:
            return None
        rec = self._lookup().get((sid, tid))
        return None if rec is None else rec["cost"]

    def path(self, source: str, target: str) -> Optional[PathResult]:
        """O(path-len) source_next chain (/root/reference/src/main.cpp:2128-2148)."""
        sid, tid = self.graph.node_id(source), self.graph.node_id(target)
        if sid is None or tid is None:
            return None
        lk = self._lookup()
        rec = lk.get((sid, tid))
        if rec is None:
            return None
        dist = rec["cost"]
        nodes = [sid]
        cur = rec["source_next"]
        while cur != tid:
            nxt = lk.get((cur, tid))
            if nxt is None:
                return None
            nodes.append(cur)
            cur = nxt["source_next"]
        nodes.append(tid)
        nm = self.graph.names_map
        return PathResult(dist, [nm[i] for i in nodes]).with_graph(self.graph)

    def paths_df(self, pairs: DataFrame, max_iter: int = 10_000) -> DataFrame:
        """Batch path reconstruction: (qid, source, target) ->
        (qid, dist, nodes ARRAY<BIGINT>). Iterative source_next-following
        join — the distributed equivalent of the chain walk; loop count =
        longest path, each round one join against the (persisted) table."""
        u = self.ubodt.select(
            F.col("source").alias("_s"),
            F.col("target").alias("_t"),
            F.col("source_next").alias("_n"),
            F.col("cost").alias("_c"),
        )
        init = (
            pairs.join(
                u, (pairs["source"] == u["_s"]) & (pairs["target"] == u["_t"])
            )
            .select(
                pairs["qid"],
                pairs["target"],
                F.col("_c").alias("dist"),
                F.array(pairs["source"]).alias("nodes"),
                F.col("_n").alias("head"),
            )
            .withColumn("done", F.col("head") == F.col("target"))
        )

        # one action per round: the pending count rides each checkpoint
        def step(cur: DataFrame, i: int, prev):
            todo = cur.filter(~F.col("done"))
            stepped = (
                todo.join(
                    u,
                    (todo["head"] == u["_s"]) & (todo["target"] == u["_t"]),
                    "left",
                )
                .select(
                    todo["qid"],
                    todo["target"],
                    todo["dist"],
                    F.when(
                        u["_n"].isNotNull(),
                        F.concat(todo["nodes"], F.array(todo["head"])),
                    )
                    .otherwise(todo["nodes"])
                    .alias("nodes"),
                    F.coalesce(u["_n"], F.lit(None).cast("long")).alias("head"),
                )
                .withColumn("done", F.col("head").isNull() | (F.col("head") == F.col("target")))
            )
            return cur.filter(F.col("done")).unionByName(stepped), {
                "pending": F.coalesce(F.sum((~F.col("done")).cast("long")), F.lit(0))
            }

        cur = SuperstepRunner(self.graph.spark).run(
            "ubodt_paths", init, step, max_iter=max_iter, converged_key="pending"
        ).state
        return (
            cur.filter(F.col("head").isNotNull())
            .select(
                "qid",
                "dist",
                F.concat("nodes", F.array("target")).alias("nodes"),
            )
        )

    def by_source(
        self, source: str, cutoff: Optional[float] = None
    ) -> list[tuple[float, str]]:
        """Sorted reachable targets (/root/reference/src/main.cpp:2055-2064)."""
        sid = self.graph.node_id(source)
        if sid is None:
            return []
        df = self.ubodt.filter(F.col("source") == sid)
        if cutoff is not None:
            df = df.filter(F.col("cost") <= cutoff)
        rows = df.select("cost", "target").orderBy("cost", "target").collect()
        nm = self.graph.names_map
        return [(r["cost"], nm[r["target"]]) for r in rows]

    def by_target(
        self, target: str, cutoff: Optional[float] = None
    ) -> list[tuple[float, str]]:
        tid = self.graph.node_id(target)
        if tid is None:
            return []
        df = self.ubodt.filter(F.col("target") == tid)
        if cutoff is not None:
            df = df.filter(F.col("cost") <= cutoff)
        rows = df.select("cost", "source").orderBy("cost", "source").collect()
        nm = self.graph.names_map
        return [(r["cost"], nm[r["source"]]) for r in rows]

    def dump(self) -> list[tuple]:
        """Canonically-sorted records (value parity with dump_ubodt)."""
        return [
            (r["source"], r["target"], r["source_next"], r["target_prev"], r["cost"])
            for r in ubodt_sorted(self.ubodt).collect()
        ]

    def unpersist(self):
        self.ubodt.unpersist()


# ---------------------------------------------------------------- binary IO
def dump_ubodt_binary(ubodt: DataFrame, path: str) -> bool:
    """Reference-exact binary dump: canonically-sorted packed 40-byte
    records (4 x int64 + double, little-endian) — the format of
    ``Dump_Ubodt`` (/root/reference/src/main.cpp:2113-2125). Matches the
    reference md5 golden (/root/reference/tests/test_basic.py:1584-1595).
    Driver-side write (the table is a bounded materialized view; for
    cluster-scale tables use the parquet dump)."""
    import struct

    rows = ubodt_sorted(ubodt).collect()
    with open(path, "wb") as f:
        for r in rows:
            f.write(
                struct.pack(
                    "<qqqqd",
                    r["source"],
                    r["target"],
                    r["source_next"],
                    r["target_prev"],
                    r["cost"],
                )
            )
    return True


def load_ubodt_binary(spark, path: str) -> DataFrame:
    """Reference-exact binary load (``Load_Ubodt``,
    /root/reference/src/main.cpp:2096-2112)."""
    import struct

    rows = []
    with open(path, "rb") as f:
        while True:
            chunk = f.read(40)
            if len(chunk) < 40:
                break
            s, t, sn, tp, c = struct.unpack("<qqqqd", chunk)
            rows.append((s, t, sn, tp, c))
    return local_df(
        spark,
        rows,
        "source long, target long, source_next long, target_prev long, cost double",
    )
