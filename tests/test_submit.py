"""North-rule launch path: spark-submit --py-files with the packaged zip
(tools/build_pyfiles.py + tools/submit_job.py) must run a kernel
end-to-end in a FRESH process that imports the package only from the zip,
write the result parquet, and resume from durable checkpoints."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit():
    exe = shutil.which("spark-submit")
    if exe:
        return [exe]
    # fall back to the pyspark-bundled launcher
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return [cand]
    pytest.skip("spark-submit not available")


def test_submit_pagerank_pyfiles(spark, tmp_path):
    from pyspark.sql import functions as F

    from networkx_graph_spark.kernels.pagerank import pagerank

    edges_rows = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0)]
    e = spark.createDataFrame(edges_rows, "src long, dst long")
    edges_path = str(tmp_path / "edges")
    e.write.parquet(edges_path)
    expect = {r["id"]: r["rank"] for r in pagerank(e, tol=-1.0, max_iter=3).state.collect()}

    # package the zip and launch a fresh driver whose ONLY import path to
    # the package is --py-files (cwd is tmp_path, not the repo root)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "build_pyfiles.py")],
        check=True, capture_output=True,
    )
    zip_path = os.path.join(ROOT, "dist", "networkx_graph_spark.zip")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cmd = _spark_submit() + [
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=2",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(ROOT, "tools", "submit_job.py"),
        "pagerank", "--edges", edges_path, "--output", out_path,
        "--checkpoint-dir", ckpt, "--tol", "-1", "--max-iter", "3",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd, cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert summary["iterations"] == 3 and summary["rows"] == len(expect)
    got = {
        r["id"]: r["rank"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert set(got) == set(expect)
    assert all(abs(got[k] - expect[k]) < 1e-12 for k in got)
    # durable metrics/lineage were written by the submitted job
    assert os.path.exists(os.path.join(ckpt, "pagerank", "metrics.jsonl"))


def test_submit_cli_rejects_invalid_combinations(tmp_path):
    """Argument combinations the library would reject at runtime fail fast
    at the CLI (before any session or input scan comes up)."""
    from tools.submit_job import main

    base = ["--edges", "x", "--output", str(tmp_path / "o")]
    ck = ["--checkpoint-dir", str(tmp_path / "ck")]
    # twophase (the default) and blocked CC reject bucketed runners
    assert main(["cc", *base, *ck, "--bucketed"]) == 2
    assert main(["cc", *base, *ck, "--bucketed", "--algorithm", "blocked"]) == 2


def test_submit_build_graph(spark, tmp_path):
    """build-graph kernel: edges parquet -> saved traversal-ready graph
    (bucketed), loadable via SparkDiGraph.load as bucketed scans by a
    later job whose catalog has none of the build's tables."""
    import json

    from networkx_graph_spark.graph import SparkDiGraph
    from tools.submit_job import main

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    src = str(tmp_path / "edges_pq")
    e.write.parquet(src)
    out = str(tmp_path / "graph_out")
    rc = main(["build-graph", "--edges", src, "--output", out, "--bucketed"])
    assert rc == 0
    ns = SparkDiGraph._table_ns(out)

    def drop_tables():
        for sub in ("vertices", "edges", "edges_rev"):
            spark.sql(f"DROP TABLE IF EXISTS graph_{ns}_{sub}")

    try:
        drop_tables()
        g = SparkDiGraph.load(spark, out)
        assert g.edges_src_partitioned
        assert g.vertices.count() == 4 and g.edges.count() == 4
        assert json.load(open(f"{out}/meta.json"))["bucketed"] == g.num_partitions
        g.unpersist()
    finally:
        drop_tables()
