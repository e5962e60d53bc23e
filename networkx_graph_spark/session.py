"""SparkSession factory with scale-appropriate defaults.

Single place where engine-wide Spark configs live so tests, bench and the
driver contract all run with the same posture:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (vectorized pandas-UDF transfer — the only sanctioned Python path);
- UTC session timezone (DuckDB oracle comparisons are TZ-naive);
- shuffle partitions sized to cores, not the 200 default.

``local_df`` is the one way query code builds a small table on the driver.
``kernel_conf`` is the one way a kernel overrides session conf; the
per-kernel overrides and the measurements behind them are in
``KERNEL_CONF``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def get_spark(
    app_name: str = "networkx_graph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; a real cluster would
        # size this to ~2-3x total executor cores (or let AQE coalesce down
        # from a high initial number).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(1, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy: sort-merge stays the default. MEASURED this round
        # (BENCH/r06/bench_a2_shj.json vs bench_a1.json): a global
        # preferSortMergeJoin=false + AQE shuffled-hash rewrite regressed
        # the superstep kernels (pagerank_powerlaw 24.3->36.0s, cc_powerlaw
        # 14.5->18.5s — per-superstep hash-map rebuilds beat re-sorts only
        # on paper here) and was a wash for the wedge joins (triangles
        # 5.4s vs 5.6s warm either way). Guide §3.1's advice to pick
        # deliberately, applied: deliberately sort-merge.
        # 300s default broadcastTimeout is a known failure mode for long
        # degraded stages on busy hosts/clusters: the action thread throws
        # while the broadcast stage is still computing, killing the whole
        # job (seen in the 64M-edge endurance run under host contention)
        .config("spark.sql.broadcastTimeout", "3600")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows: Sequence[tuple], ddl: str) -> DataFrame:
    """A driver-built table (``rows`` of tuples, schema ``ddl``) as a
    ``LocalRelation``: the rows travel to the JVM once as an Arrow table and
    every scan or broadcast of the result stays in the JVM.
    ``createDataFrame(<python list>)`` is a parallelized PythonRDD instead,
    so each scan starts Python workers (an empty *pandas* frame falls back
    to that path too, hence the explicit pyarrow Table). Doubles, ``-inf``
    included, round-trip bit-exactly."""
    schema = to_arrow_schema(DataType.fromDDL(ddl))
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


# Per-kernel session conf, applied with ``kernel_conf`` for the duration of
# one kernel call. Each decision is per kernel and carries its measurement:
# - pagerank: AQE off. ``localCheckpoint`` keeps the state's hash(id)
#   partitioning and id-sort only from a non-adaptive executed plan (under
#   AQE the checkpointed scan reports unknown partitioning and every
#   superstep re-exchanges and re-sorts the vertex state twice). 16M edges,
#   5 iterations, warm: 23.7 s with AQE off vs 27.5 s with it on. There is
#   no skew for AQE to split: in-degree hubs collapse in the map-side
#   partial sum, and out-degree hubs are far below a partition. Under an
#   adversarial src hub AQE off still wins: 4.0M distinct edges
#   (``powerlaw_edges(1M, 3.6M)`` plus 400k out-edges of vertex 0, which
#   then owns 10.4% of them), tol=0, 5 iterations, local[4] on a 4-vCPU
#   host, 4 shuffle partitions, 3 alternating warm pairs: 16.7 s median
#   (16.0-17.2) off vs 19.4 s (18.0-21.7) on. A src hub costs time in the
#   state⋈edges join, which a salted dst aggregation cannot split.
# - sssp (every ``bounded_sssp`` caller: pairs, single source, bindings,
#   UBODT): AQE off. A point query's supersteps move a few hundred rows,
#   so its time is in Spark jobs, and under AQE every shuffle stage of a
#   superstep runs as its own job. perfbench road_paths on a 4-vCPU host,
#   10 paired untraced runs: pass_s 9.11 -> 6.33 s median (faster in
#   10/10); traced, 33 -> 14 jobs per query. A dense UBODT build (70x70
#   grid, threshold 12, 180k rows) is not slower: 6.5 s warm median with
#   AQE on vs 6.1 s off. The min-merge aggregation is map-side partial,
#   so hub vertices need no skew-join split.
# - connected components keep AQE: 16.9 s with it vs 41.2 s without at
#   bench scale.
# - zigzag keeps AQE: no workload measures it.
# - path enumeration (``paths._enumerate_paths``) keeps AQE. With it off a
#   call runs fewer jobs but takes longer: 10 alternating warm pairs,
#   local[4], 4 shuffle partitions, AQE on vs off: graph1
#   ``all_paths_from(w1, 60)`` 39 vs 16 jobs, 2.92 vs 3.27 s median (off
#   slower in 10/10); a 6x6 grid, 112 paths, 63 vs 25 jobs, 7.41 vs
#   16.49 s (off slower in 10/10).
KERNEL_CONF: dict[str, dict[str, str]] = {
    "pagerank": {"spark.sql.adaptive.enabled": "false"},
    "sssp": {"spark.sql.adaptive.enabled": "false"},
}


@contextmanager
def kernel_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set the SQL ``confs`` for the block and restore them exactly as they
    were when it exits, also when it raises: a key that was set gets its
    old value back, a key that was unset is unset again. Calls are
    driver-sequential; another query running on the same session
    concurrently would see the kernel's conf. Only ``confs`` keys are read
    (``getAll`` costs ~25 ms); ``contains`` tells unset from set-to-default."""
    before = {k: spark.conf.get(k) if spark.conf._jconf.contains(k) else None for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
