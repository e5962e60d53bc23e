#!/usr/bin/env python
"""Capture .explain("formatted") plans for every bench query path into
plans/r06/<query>_<label>.txt  (label = before|after).

Iterative kernels (pagerank, cc, sssp) run at reduced scale with
``SuperstepRunner._materialize`` patched to dump the FIRST supersteps'
physical plans — the plan shape is scale- and
iteration-invariant, so a small run documents the superstep structure the
bench executes. Non-iterative queries explain their result DataFrame
directly at sf0.01.

Usage: python BENCH/r06/capture_plans.py before|after [query,...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

SF_DIR = "/root/testdata/sf0.01"
OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "plans", "r06")


def explain_str(df, mode="formatted"):
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def write(label, name, sections):
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}_{label}.txt")
    with open(path, "w") as f:
        for title, text in sections:
            f.write(f"===== {title} =====\n{text}\n\n")
    print(f"wrote {path}")


class SuperstepPlanTap:
    """Patch the runner's superstep-materialization seam to record the
    first superstep plans of the next kernel invocation."""

    def __init__(self):
        self.plans: list[tuple[str, str]] = []

    def __enter__(self):
        from networkx_graph_spark.plans import supersteps

        self._orig_mat = supersteps.SuperstepRunner._materialize
        tap = self

        def materialize(self, plan, name, i, durable):
            if len(tap.plans) < 2:
                tap.plans.append(
                    (f"superstep materialize #{len(tap.plans)}", explain_str(plan))
                )
            return tap._orig_mat(self, plan, name, i, durable)

        supersteps.SuperstepRunner._materialize = materialize
        return self

    def __exit__(self, *exc):
        from networkx_graph_spark.plans import supersteps

        supersteps.SuperstepRunner._materialize = self._orig_mat
        return False


def cap_pagerank(spark, label):
    from networkx_graph_spark.kernels.pagerank import pagerank
    from networkx_graph_spark.sources.datagen import powerlaw_edges

    edges = powerlaw_edges(spark, 20_000, 80_000).distinct().persist()
    edges.count()
    with SuperstepPlanTap() as tap:
        res = pagerank(edges, tol=0.0, max_iter=4, fuse=2)
        res.state.count()
    write(label, "pagerank_powerlaw", tap.plans)
    edges.unpersist()


def cap_cc(spark, label):
    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.sources.datagen import powerlaw_edges

    edges = powerlaw_edges(spark, 20_000, 20_000).distinct().persist()
    edges.count()
    with SuperstepPlanTap() as tap:
        res = connected_components(edges, algorithm="twophase", max_iter=30)
        res.state.count()
    write(label, "cc_powerlaw", tap.plans)
    edges.unpersist()


def cap_sssp(spark, label):
    from pyspark.sql import functions as F

    from networkx_graph_spark.contract import tri_edges
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import shortest_paths

    e = tri_edges(spark, SF_DIR)
    g = SparkDiGraph.from_edge_df(spark, e)
    src = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .agg(F.min("o_custkey"))
        .collect()[0][0]
    )
    with SuperstepPlanTap() as tap:
        gen = shortest_paths(g, str(src), cutoff=3.5)
        gen.dists_df().count()
        sections = list(tap.plans)
    sections.append(("dists_df", explain_str(gen.dists_df())))
    write(label, "sssp_tri", sections)
    g.unpersist()


def cap_triangles(spark, label):
    from networkx_graph_spark.kernels.triangles import _oriented
    from networkx_graph_spark.sources.datagen import powerlaw_edges
    from pyspark.sql import functions as F

    edges = powerlaw_edges(spark, 20_000, 100_000).persist()
    edges.count()
    o = _oriented(edges)
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c")
    closed = wedges.join(
        o.select(F.col("src").alias("a"), F.col("dst").alias("c")), ["a", "c"]
    )
    write(
        label,
        "triangles_powerlaw",
        [("oriented", explain_str(o)), ("closed-wedges (count input)", explain_str(closed))],
    )
    edges.unpersist()


def cap_pages(spark, label):
    from networkx_graph_spark.sources.pages import pages_to_edges
    from networkx_graph_spark.sources.pages_synth import synth_pages

    pages = synth_pages(spark, 500).persist()
    pages.count()
    write(label, "pages_ingest", [("pages_to_edges", explain_str(pages_to_edges(pages)))])
    pages.unpersist()


def cap_minhash(spark, label):
    from networkx_graph_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    write(
        label,
        "minhash_dedup",
        [("minhash_lsh_pairs", explain_str(minhash_lsh_pairs(docs, threshold=0.2)))],
    )


def cap_cosine(spark, label):
    from pyspark.sql import functions as F

    from networkx_graph_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    write(
        label,
        "cosine_topk",
        [("cosine_topk", explain_str(cosine_topk(emb, queries, k=10)))],
    )


def cap_revenue(spark, label):
    from networkx_graph_spark.contract import q_revenue_agg

    write(label, "revenue_agg", [("q_revenue_agg", explain_str(q_revenue_agg(spark, SF_DIR)))])


CAPS = {
    "pagerank_powerlaw": cap_pagerank,
    "cc_powerlaw": cap_cc,
    "sssp_tri": cap_sssp,
    "triangles_powerlaw": cap_triangles,
    "pages_ingest": cap_pages,
    "minhash_dedup": cap_minhash,
    "cosine_topk": cap_cosine,
    "revenue_agg": cap_revenue,
}


def main():
    label = sys.argv[1] if len(sys.argv) > 1 else "before"
    subset = sys.argv[2].split(",") if len(sys.argv) > 2 else list(CAPS)
    from networkx_graph_spark.session import get_spark

    spark = get_spark(app_name="plan-capture", master="local[8]")
    for name in subset:
        CAPS[name](spark, label)
    spark.stop()


if __name__ == "__main__":
    main()
