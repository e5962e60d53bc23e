#!/usr/bin/env python
"""spark-submit driver for the link-graph kernels (north-rule launch path:
``spark-submit --py-files`` on a multi-executor cluster, resumable from
durable checkpoints).

    python tools/build_pyfiles.py
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/networkx_graph_spark.zip \
        tools/submit_job.py pagerank \
        --edges /path/to/edges_parquet --output /path/to/out \
        --checkpoint-dir /shared/ckpt --bucketed --tol 1e-6 [--resume]

Inputs (one of):
  --edges PATH   parquet with (src BIGINT, dst BIGINT)
  --pages PATH   parquet/Iceberg-style table with
                 (url, warc_ts, html, text, lang); url-normalized edges
                 are built via the Arrow extraction pipeline
                 (networkx_graph_spark.sources.pages)

Kernels: pagerank | cc | lpa | triangles | build-graph (pages/edges ->
saved SparkDiGraph artifact; --bucketed makes the reload exchange-free).

Per-superstep metrics + lineage land in {checkpoint-dir}/{job}/metrics.jsonl;
--resume restarts mid-iteration from the newest durable checkpoint, for
pagerank, lpa and every cc --algorithm (hashmin | twophase | blocked).
--bucketed keeps the vertex state hash-co-partitioned by id across
supersteps; of the cc variants only hashmin's state is keyed by id.
The summary JSON line on stdout is machine-parseable.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="submit_job")
    p.add_argument(
        "kernel",
        choices=["pagerank", "cc", "lpa", "triangles", "build-graph"],
    )
    p.add_argument("--edges", help="edge parquet path (src, dst)")
    p.add_argument("--pages", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True, help="result parquet path")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--bucketed", action="store_true",
                   help="durable co-partitioned checkpoints (bucketed "
                        "tables); for build-graph: save bucketed graph "
                        "tables (zero-exchange reload)")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--fuse", type=int, default=1)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--algorithm", default="twophase",
                   help="cc variant: hashmin | twophase | blocked")
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument("--name", default=None, help="checkpoint job name")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if bool(args.edges) == bool(args.pages):
        print("exactly one of --edges / --pages is required", file=sys.stderr)
        return 2
    if args.kernel == "cc" and args.bucketed and args.algorithm in ("twophase", "blocked"):
        # the runner rejects this at call time; fail fast at the CLI
        # instead of after the session + input scan are up
        print(
            f"--bucketed is not supported with cc --algorithm "
            f"{args.algorithm} (checkpoints bucket by id, which is not its "
            f"state's key); use --algorithm hashmin",
            file=sys.stderr,
        )
        return 2

    # On a cluster, spark-submit provides the session; getOrCreate attaches
    # to it. Local smoke runs get a plain builder with sane defaults.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"nxg-{args.kernel}").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # survive long degraded stages (shared/busy hosts): the 300s default
    # broadcast timeout aborts the whole job if any broadcast-exchange
    # stage is starved past it
    spark.conf.set("spark.sql.broadcastTimeout", "3600")

    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    if args.edges:
        edges = spark.read.parquet(args.edges).select("src", "dst")
    else:
        from networkx_graph_spark.sources.pages import (
            encode_edges,
            pages_to_edges,
            read_pages,
        )

        # path -> parquet; table identifier (e.g. an Iceberg
        # catalog.db.pages) -> spark.read.table
        pages = read_pages(spark, args.pages)
        edges, _ids = encode_edges(pages_to_edges(pages))

    nparts = args.num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # every aggregation of a superstep then plans with the kernel's
    # partition count (bucketed checkpoints require bucket_count to match)
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    runner_kw = {}
    if args.checkpoint_dir:
        runner_kw = dict(checkpoint_dir=args.checkpoint_dir)
        if args.bucketed:
            runner_kw.update(bucket_cols=["id"], bucket_count=nparts)
    runner = SuperstepRunner(spark, **runner_kw) if runner_kw else None
    name = args.name or args.kernel

    t0 = time.time()
    summary = {"kernel": args.kernel, "output": args.output}
    if args.kernel == "pagerank":
        from networkx_graph_spark.kernels.pagerank import pagerank

        res = pagerank(
            edges, damping=args.damping, tol=args.tol, max_iter=args.max_iter,
            runner=runner, name=name, resume=args.resume,
            num_partitions=nparts, fuse=args.fuse,
        )
    elif args.kernel == "cc":
        from networkx_graph_spark.kernels.components import connected_components

        res = connected_components(
            edges, algorithm=args.algorithm, max_iter=args.max_iter,
            runner=runner, name=name, resume=args.resume,
        )
    elif args.kernel == "lpa":
        from networkx_graph_spark.kernels.lpa import label_propagation

        res = label_propagation(
            edges, max_iter=args.max_iter, runner=runner, name=name,
            resume=args.resume,
        )
    elif args.kernel == "build-graph":
        # pages/edges -> traversal-ready saved graph artifact: with
        # --bucketed the save writes bucketed tables that later jobs
        # (fresh processes too) reload with zero exchanges
        from networkx_graph_spark.graph import SparkDiGraph

        g = SparkDiGraph.from_edge_df(spark, edges)
        g.save(args.output, bucketed=args.bucketed)
        summary.update(
            vertices=g.vertices.count(),
            edges=g.edges.count(),
            bucketed=bool(args.bucketed),
            wall_sec=round(time.time() - t0, 3),
        )
        print(json.dumps(summary))
        return 0
    else:  # triangles
        from networkx_graph_spark.kernels.triangles import triangle_count

        n_tri = triangle_count(edges)
        spark.createDataFrame([(int(n_tri),)], "triangles long").write.mode(
            "overwrite"
        ).parquet(args.output)
        summary.update(triangles=int(n_tri), wall_sec=round(time.time() - t0, 3))
        print(json.dumps(summary))
        return 0

    res.state.write.mode("overwrite").parquet(args.output)
    summary.update(
        iterations=res.iterations,
        converged=res.converged,
        rows=spark.read.parquet(args.output).count(),
        wall_sec=round(time.time() - t0, 3),
        iter_walls=[round(m.get("wall_sec", 0.0), 3) for m in res.metrics],
        resumed=args.resume,
        checkpoint_dir=args.checkpoint_dir,
        bucketed=bool(args.bucketed and args.checkpoint_dir),
    )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
