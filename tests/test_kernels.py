"""Canonical link-graph kernels vs pure-Python/numpy oracles (SURVEY.md §2.8).

Oracle graph: deterministic seeded digraph, small enough for exact
driver-side reference implementations.
"""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from networkx_graph_spark.kernels.components import connected_components
from networkx_graph_spark.kernels.lpa import label_propagation
from networkx_graph_spark.kernels.pagerank import pagerank
from networkx_graph_spark.kernels.triangles import triangle_count, triangle_count_per_vertex


def _random_edges(n=60, m=150, seed=7):
    rng = random.Random(seed)
    es = set()
    while len(es) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            es.add((a, b))
    return sorted(es)


@pytest.fixture(scope="module")
def edges_df(spark):
    df = spark.createDataFrame(_random_edges(), "src long, dst long")
    df = df.persist()
    df.count()
    return df


def _pagerank_oracle(edges, damping=0.85, tol=1e-12, max_iter=500):
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, v in edges:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.zeros(n)
        dangling = sum(r[i] for i in range(n) if out[i] == 0)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        new = (1 - damping) / n + damping * (contrib + dangling / n)
        if np.max(np.abs(new - r)) <= tol:
            r = new
            break
        r = new
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_vs_oracle(spark, edges_df):
    res = pagerank(edges_df, tol=1e-9, max_iter=200)
    assert res.converged
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = _pagerank_oracle(_random_edges())
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, k
    # ranks sum to 1
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _cc_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("algorithm", ["hashmin", "twophase"])
def test_components_vs_oracle(spark, edges_df, algorithm):
    res = connected_components(edges_df, algorithm=algorithm)
    assert res.converged
    got = {r["id"]: r["component"] for r in res.state.collect()}
    want = _cc_oracle(_random_edges())
    assert got == want


def test_components_disconnected(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)], "src long, dst long"
    )
    for algo in ("hashmin", "twophase"):
        got = {
            r["id"]: r["component"]
            for r in connected_components(df, algorithm=algo).state.collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}, algo


def _lpa_oracle(edges, max_iter=20):
    from collections import Counter

    nbrs = {x: set() for e in edges for x in e}  # self-loop endpoints too
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    labels = {v: v for v in nbrs}
    for _ in range(max_iter):
        new = {}
        for v in nbrs:
            # most frequent neighbour label, ties to the smallest; a vertex
            # with no neighbour keeps its label
            counts = Counter(labels[u] for u in nbrs[v])
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]), default=(labels[v],))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    return labels


def test_lpa_vs_oracle(spark, edges_df):
    res = label_propagation(edges_df, max_iter=20)
    got = {r["id"]: r["label"] for r in res.state.collect()}
    want = _lpa_oracle(_random_edges(), max_iter=res.iterations)
    assert got == want


def test_cc_lpa_follow_session_partitions(spark):
    """CC and LPA plan with the session's shuffle partition count; their
    answers must not depend on it. One graph holds a hub with 20 leaves, a
    15-node chain, a triangle, an isolated pair, a duplicate edge and a
    self-loop on an otherwise isolated vertex."""
    from networkx_graph_spark.session import kernel_conf

    edges = (
        [(0, i) for i in range(1, 21)] + [(1, 0)]
        + [(i, i + 1) for i in range(100, 114)]
        + [(200, 201), (201, 202), (202, 200)]
        + [(300, 301), (300, 301)]
        + [(400, 400)]
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    want_cc = _cc_oracle(edges)
    for parts in ("1", "3"):
        with kernel_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            for algo in ("hashmin", "twophase", "blocked"):
                got = {
                    r["id"]: r["component"]
                    for r in connected_components(e, algorithm=algo).state.collect()
                }
                assert got == want_cc, (algo, parts)
            got = {
                r["id"]: r["label"]
                for r in label_propagation(e, max_iter=3).state.collect()
            }
            assert got == _lpa_oracle(edges, max_iter=3), parts


def _triangles_oracle(edges):
    from collections import defaultdict

    nbrs = defaultdict(set)
    for u, v in edges:
        if u != v:
            nbrs[u].add(v)
            nbrs[v].add(u)
    total = 0
    per = defaultdict(int)
    nodes = sorted(nbrs)
    for a in nodes:
        for b in nbrs[a]:
            if b <= a:
                continue
            for c in nbrs[a] & nbrs[b]:
                if c > b:
                    total += 1
                    per[a] += 1
                    per[b] += 1
                    per[c] += 1
    return total, dict(per)


def test_triangles_vs_oracle(spark, edges_df):
    want_total, want_per = _triangles_oracle(_random_edges())
    assert triangle_count(edges_df) == want_total
    got = {r["id"]: r["triangles"] for r in triangle_count_per_vertex(edges_df).collect()}
    for v in got:
        assert got[v] == want_per.get(v, 0), v


def test_pagerank_checkpoint_resume(spark, edges_df, tmp_path):
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    d = str(tmp_path / "ck")
    r1 = SuperstepRunner(spark, checkpoint_dir=d)
    full = pagerank(edges_df, tol=1e-9, max_iter=6, runner=r1, name="pr")
    a = {r["id"]: r["rank"] for r in full.state.collect()}
    # simulate a crash after iteration 3: delete later checkpoints, resume
    import shutil, os

    for entry in os.listdir(os.path.join(d, "pr")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 3:
            shutil.rmtree(os.path.join(d, "pr", entry))
    r2 = SuperstepRunner(spark, checkpoint_dir=d)
    resumed = pagerank(
        edges_df, tol=1e-9, max_iter=6, runner=r2, name="pr", resume=True
    )
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12
    # metrics lineage was written
    assert os.path.exists(os.path.join(d, "pr", "metrics.jsonl"))


def test_cc_blocked_matches_twophase(spark):
    """Block-centric CC (CSR kernel reuse) must produce identical
    components to the two-phase star algorithm, including on a
    high-diameter chain where blocking collapses supersteps."""
    from pyspark.sql import functions as F

    from networkx_graph_spark.kernels.components import connected_components

    # chain of 120 + a separate triangle + an isolated self-loop vertex
    rows = [(i, i + 1) for i in range(120)]
    rows += [(500, 501), (501, 502), (502, 500), (900, 900)]
    e = spark.createDataFrame(rows, "src long, dst long")
    blocked = {
        r["id"]: r["component"]
        for r in connected_components(e, algorithm="blocked").state.collect()
    }
    two = {
        r["id"]: r["component"]
        for r in connected_components(e, algorithm="twophase").state.collect()
    }
    assert blocked == two
    assert blocked[120] == 0 and blocked[502] == 500 and blocked[900] == 900


def test_pagerank_fusion_equivalence(spark):
    """Fused iteration (k power iterations per Spark job) must run the
    exact iteration count and agree with fuse=1 to FP-reassociation noise."""
    from networkx_graph_spark.kernels.pagerank import pagerank

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (5, 0)], "src long, dst long"
    )  # 4 is dangling
    r1 = pagerank(e, tol=-1.0, max_iter=7, fuse=1)
    r2 = pagerank(e, tol=-1.0, max_iter=7, fuse=2)
    assert r1.iterations == r2.iterations == 7
    a = {r["id"]: r["rank"] for r in r1.state.collect()}
    b = {r["id"]: r["rank"] for r in r2.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)
    assert abs(sum(a.values()) - 1.0) < 1e-9


def test_pagerank_fused_resume_iteration_count(spark, edges_df, tmp_path):
    """fuse>1 + checkpoint resume must run EXACTLY max_iter sub-iterations:
    the remainder is planned from the runner's outer index, not a
    process-local counter (a fresh-process resume starts that counter at
    0 and would overshoot)."""
    import os
    import shutil

    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    d = str(tmp_path / "ckf")
    r1 = SuperstepRunner(spark, checkpoint_dir=d)
    full = pagerank(edges_df, tol=-1.0, max_iter=7, fuse=2, runner=r1, name="prf")
    assert full.iterations == 7
    a = {r["id"]: r["rank"] for r in full.state.collect()}
    # checkpoints are numbered by power iteration; at fuse=2 the durable
    # ones are iterations 1, 3, 5 and 6. Crash after iteration 1 (= 2
    # iterations done); emulate a FRESH process: a new runner + a new
    # pagerank() call whose internal state starts cold
    for entry in os.listdir(os.path.join(d, "prf")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 1:
            shutil.rmtree(os.path.join(d, "prf", entry))
    r2 = SuperstepRunner(spark, checkpoint_dir=d)
    resumed = pagerank(
        edges_df, tol=-1.0, max_iter=7, fuse=2, runner=r2, name="prf", resume=True
    )
    assert resumed.iterations == 7  # not 8: counted from the runner's index
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_cc_twophase_stops_exactly_under_hash_collisions(spark, monkeypatch):
    """The two-phase stop rule is exact: with every edge hashing to the
    same value, consecutive different edge sets of equal size share a
    signature, and only the anti-join tells them apart. The components
    must still be union-find's."""
    from networkx_graph_spark.kernels.components import connected_components

    monkeypatch.setattr(F, "xxhash64", lambda *c: F.lit(0).cast("long"))
    rows = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102), (102, 100)]
    e = spark.createDataFrame(rows, "src long, dst long")
    res = connected_components(e, algorithm="twophase")
    assert res.converged
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert got == _cc_oracle(rows)


def test_cc_blocked_checkpoint_resume(spark, tmp_path):
    """Crash/resume parity for block-centric CC on the caller's runner: a
    chain over ids i*1024 puts every vertex in its own block, so each
    superstep crosses one block boundary. Crash after superstep 2; the
    resumed run re-enters at 3 and ends on the same components."""
    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    rows = [(i * 1024, (i + 1) * 1024) for i in range(7)]
    e = spark.createDataFrame(rows, "src long, dst long")
    d = str(tmp_path / "ckb")
    full = connected_components(
        e, algorithm="blocked", runner=SuperstepRunner(spark, checkpoint_dir=d),
        name="ccb",
    )
    a = {r["id"]: r["component"] for r in full.state.collect()}
    assert a == _cc_oracle(rows)
    assert full.iterations > 3  # crash point must be mid-fixpoint
    _crash_after(d, "ccb", 2)
    resumed = connected_components(
        e, algorithm="blocked", runner=SuperstepRunner(spark, checkpoint_dir=d),
        name="ccb", resume=True,
    )
    b = {r["id"]: r["component"] for r in resumed.state.collect()}
    assert a == b
    assert resumed.metrics[0]["iteration"] == 3
    assert resumed.converged


def test_cc_blocked_raises_on_max_iter_exhaustion(spark):
    """A truncated blocked run must raise, not silently return wrong
    components as converged=True."""
    import pytest as _pytest

    from networkx_graph_spark.kernels.components import connected_components

    # chain of 40 with block_width=1024 -> everything lands in one block and
    # converges in ~2 supersteps; max_iter=1 cuts the boundary round off
    rows = [(i, i + 1) for i in range(40)]
    e = spark.createDataFrame(rows, "src long, dst long")
    ok = connected_components(e, algorithm="blocked", max_iter=50)
    assert ok.converged and ok.iterations >= 1
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(e, algorithm="blocked", max_iter=1)


def test_pagerank_durable_bucketed_checkpoints(spark, edges_df, tmp_path):
    """Durable bucketed checkpoints must (a) keep results identical,
    (b) read back with hashpartitioning(id) so the next superstep's
    id-keyed joins need no vertex-state exchange, (c) resume."""
    import os
    import shutil

    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = str(tmp_path / "ckb")
    r = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts
    )
    res = pagerank(edges_df, tol=-1.0, max_iter=6, runner=r, name="prb")
    a = {row["id"]: row["rank"] for row in res.state.collect()}
    plain = pagerank(edges_df, tol=-1.0, max_iter=6)
    b = {row["id"]: row["rank"] for row in plain.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)

    # co-partitioning evidence: an id-keyed non-broadcast join of two
    # checkpoint scans plans with bucketed scans and NO shuffle exchange
    # (broadcast is disabled for the probe — at cluster scale the vertex
    # state is never broadcastable, which is exactly when bucketing pays)
    tbls = sorted(
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("ckpt_") and "_prb_" in t.name
    )
    assert tbls, "bucketed checkpoint tables missing"
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table(tbls[-1])
        joined = t.alias("x").join(spark.table(tbls[-1]).alias("y"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "Bucketed: true" in plan, plan
    assert "Exchange" not in plan, plan

    # full superstep shape: state ⋈ cedges -> groupBy(id) -> ⋈ state.
    # With the bucketed state the ONLY shuffle left is the contribution
    # aggregation (inherent); the two vertex-state exchanges are gone.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from pyspark.sql import functions as F

        nparts2 = int(spark.conf.get("spark.sql.shuffle.partitions"))
        st = spark.table(tbls[-1])
        ce = (
            edges_df.select("src", "dst", F.lit(0.5).alias("inv_deg"))
            .repartition(nparts2, "src")
            .persist()
        )
        ce.count()
        contribs = (
            st.join(ce, st["id"] == ce["src"])
            .select(ce["dst"].alias("id"), (st["rank"] * ce["inv_deg"]).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        step_plan = (
            st.join(contribs, "id", "left")
            ._jdf.queryExecution().executedPlan().toString()
        )
        ce.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    # the cached cedges' one-time build plan (REPARTITION_BY_NUM, echoed
    # inside InMemoryRelation) is not a per-superstep shuffle — count only
    # the live ENSURE_REQUIREMENTS exchanges the superstep would run
    n_exchanges = sum(
        1
        for ln in step_plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ENSURE_REQUIREMENTS" in ln
    )
    assert n_exchanges == 1, f"expected 1 exchange (contribution agg), got {n_exchanges}\n{step_plan}"
    assert "Bucketed: true" in step_plan

    # resume: crash after iteration 2 (catalog entry for it was already
    # rotated away -> parquet fallback), rerun to 6, identical ranks
    for entry in os.listdir(os.path.join(d, "prb")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(d, "prb", entry))
    r2 = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts
    )
    resumed = pagerank(
        edges_df, tol=-1.0, max_iter=6, runner=r2, name="prb", resume=True
    )
    c = {row["id"]: row["rank"] for row in resumed.state.collect()}
    assert set(a) == set(c)
    assert all(abs(a[k] - c[k]) < 1e-12 for k in a)
    for t in tbls:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cc_lpa_durable_bucketed_checkpoints(spark, tmp_path):
    """Durable bucketed checkpoints for hash-min CC and LPA: identical
    results to the plain path, and resumable."""
    import os
    import shutil

    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.kernels.lpa import label_propagation
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = [(i, i + 1) for i in range(25)] + [(100, 101), (101, 102), (102, 100)]
    e = spark.createDataFrame(rows, "src long, dst long")
    d = str(tmp_path / "ckcc")

    r = SuperstepRunner(spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts)
    cc_d = {
        row["id"]: row["component"]
        for row in connected_components(
            e, algorithm="hashmin", runner=r, name="ccd"
        ).state.collect()
    }
    cc_p = {
        row["id"]: row["component"]
        for row in connected_components(e, algorithm="hashmin").state.collect()
    }
    assert cc_d == cc_p

    r2 = SuperstepRunner(spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts)
    lpa_d = {
        row["id"]: row["label"]
        for row in label_propagation(e, max_iter=4, runner=r2, name="lpad").state.collect()
    }
    lpa_p = {
        row["id"]: row["label"]
        for row in label_propagation(e, max_iter=4).state.collect()
    }
    assert lpa_d == lpa_p

    # resume CC from iteration 1
    for entry in os.listdir(os.path.join(d, "ccd")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 1:
            shutil.rmtree(os.path.join(d, "ccd", entry))
    r3 = SuperstepRunner(spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts)
    cc_r = {
        row["id"]: row["component"]
        for row in connected_components(
            e, algorithm="hashmin", runner=r3, name="ccd", resume=True
        ).state.collect()
    }
    assert cc_r == cc_p
    for t in spark.catalog.listTables():
        if t.name.startswith("ckpt_") and ("_ccd_" in t.name or "_lpad_" in t.name):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_cc_twophase_rejects_bucketed_runner(spark, tmp_path):
    import pytest as _pytest

    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    r = SuperstepRunner(
        spark, checkpoint_dir=str(tmp_path / "x"), bucket_cols=["id"], bucket_count=4
    )
    with _pytest.raises(ValueError, match="bucket_cols"):
        connected_components(e, algorithm="twophase", runner=r)


def test_pagerank_fresh_process_resume_bucketed_and_exact_dm(
    spark, edges_df, tmp_path
):
    """Fresh-process resume (catalog tables gone, only durable files left)
    must (a) re-register the bucketed external table so the resumed scan
    keeps hashpartitioning(id) — no vertex-state exchange at the seam —
    and (b) seed the dangling-mass literal from the RECORDED metrics value
    rather than re-aggregating the loaded state."""
    import os
    import shutil

    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = str(tmp_path / "ckf")
    r = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts
    )
    full = pagerank(edges_df, tol=-1.0, max_iter=6, runner=r, name="prf2")
    a = {row["id"]: row["rank"] for row in full.state.collect()}

    # crash after iteration 2 + fresh process: drop EVERY ckpt_* catalog
    # entry for this job (a new JVM's catalog starts empty)
    for entry in os.listdir(os.path.join(d, "prf2")):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > 2:
            shutil.rmtree(os.path.join(d, "prf2", entry))
    for t in list(spark.catalog.listTables()):
        if t.name.startswith("ckpt_") and "_prf2_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    r2 = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts
    )
    # the re-registered resume scan must be bucketed (exchange-free seam).
    # A bare scan won't report bucketing (autoBucketedScan disables it
    # when nothing downstream benefits), so probe with the operation that
    # matters: a non-broadcast id-keyed join, as every superstep performs
    st, nxt = r2.resume("prf2")
    assert nxt == 3
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = st.alias("x").join(st.alias("y"), "id")
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "Bucketed: true" in plan, plan
    assert "Exchange" not in plan, plan
    # the recorded dangling mass is what the resumed kernel must use
    rec = r2.metrics_for("prf2", 2)
    assert rec is not None and "dangling_mass" in rec

    resumed = pagerank(
        edges_df, tol=-1.0, max_iter=6, runner=r2, name="prf2", resume=True
    )
    b = {row["id"]: row["rank"] for row in resumed.state.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)

    # a MISMATCHED bucket spec must NOT be trusted (declaring the wrong
    # placement over existing files silently mis-places rows): resume
    # falls back to the plain, re-exchanged parquet read
    for t in list(spark.catalog.listTables()):
        if t.name.startswith("ckpt_") and "_prf2_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    r3 = SuperstepRunner(
        spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=nparts * 2
    )
    st3, _ = r3.resume("prf2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe3 = st3.alias("x").join(st3.alias("y"), "id")
        plan3 = probe3._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "Bucketed: true" not in plan3, plan3
    assert "Exchange" in plan3, plan3  # the safe re-exchanged fallback
    for t in list(spark.catalog.listTables()):
        if t.name.startswith("ckpt_") and "_prf2_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_metrics_for_skips_torn_lines(tmp_path):
    """metrics_for must survive a torn (partial) JSON line at a kill seam
    and return the newest record for the requested iteration."""
    import json
    import os

    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    class _S:  # metrics_for never touches spark
        pass

    d = str(tmp_path / "ckm")
    os.makedirs(os.path.join(d, "job"), exist_ok=True)
    with open(os.path.join(d, "job", "metrics.jsonl"), "w") as f:
        f.write(json.dumps({"iteration": 0, "dangling_mass": 0.25}) + "\n")
        f.write(json.dumps({"iteration": 1, "dangling_mass": 0.125}) + "\n")
        f.write('{"iteration": 2, "dangl')  # torn write at SIGKILL
    r = SuperstepRunner.__new__(SuperstepRunner)
    r.spark = _S()
    r.checkpoint_dir = d
    rec = r.metrics_for("job", 1)
    assert rec == {"iteration": 1, "dangling_mass": 0.125}
    assert r.metrics_for("job", 2) is None
    assert r.metrics_for("job", 7) is None


def _crash_after(ckpt_dir, name, keep_through):
    """Simulate a SIGKILL after iteration ``keep_through``: remove every
    later per-iteration checkpoint dir, as the endurance demo does at
    bench scale (BENCH/endurance_run.py)."""
    import os
    import shutil

    for entry in os.listdir(os.path.join(ckpt_dir, name)):
        if entry.startswith("iter=") and int(entry.split("=")[1]) > keep_through:
            shutil.rmtree(os.path.join(ckpt_dir, name, entry))


def test_cc_hashmin_checkpoint_resume(spark, tmp_path):
    """Crash/resume parity for hash-min CC (reference semantics: exact
    component ids at convergence). A 10-chain needs ~10 hash-min rounds;
    crash after round 3, resume in a fresh runner, labels must match the
    uninterrupted run exactly (integers: bitwise)."""
    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    rows = [(i, i + 1) for i in range(10)] + [(500, 501), (900, 900)]
    e = spark.createDataFrame(rows, "src long, dst long")
    d = str(tmp_path / "ck")
    full = connected_components(
        e, algorithm="hashmin", runner=SuperstepRunner(spark, checkpoint_dir=d),
        name="cc",
    )
    a = {r["id"]: r["component"] for r in full.state.collect()}
    # one superstep per hop of the chain plus the confirming one; each
    # counts the vertices whose label fell (10 on the chain + 501 first)
    assert full.iterations == 11
    assert [m["cnt"] for m in full.metrics] == [11, 9, 8, 7, 6, 5, 4, 3, 2, 1, 0]
    _crash_after(d, "cc", 3)
    resumed = connected_components(
        e, algorithm="hashmin", runner=SuperstepRunner(spark, checkpoint_dir=d),
        name="cc", resume=True,
    )
    b = {r["id"]: r["component"] for r in resumed.state.collect()}
    assert a == b
    # the seam is real: the resumed run re-entered at iteration 4,
    # not 0 (per-partition lineage + metrics, north rule)
    assert resumed.metrics[0]["iteration"] == 4
    assert resumed.converged


def test_cc_twophase_checkpoint_resume(spark, tmp_path):
    """Same parity for the two-phase star algorithm (O(log n) rounds), on
    plain parquet checkpoints and on checkpoints bucketed by the edge
    state's key ``u`` (the resume reads those bucketed, no fallback)."""
    from networkx_graph_spark.kernels.components import connected_components
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = [(i, i + 1) for i in range(60)] + [(500, 501), (501, 502), (900, 900)]
    e = spark.createDataFrame(rows, "src long, dst long")
    for leg, kw in (("ck2", {}), ("ck2u", dict(bucket_cols=["u"], bucket_count=nparts))):
        d = str(tmp_path / leg)
        full = connected_components(
            e, algorithm="twophase", runner=SuperstepRunner(spark, checkpoint_dir=d, **kw),
            name="cc2",
        )
        a = {r["id"]: r["component"] for r in full.state.collect()}
        assert full.iterations > 2  # crash point must be mid-fixpoint
        _crash_after(d, "cc2", 1)
        resumed = connected_components(
            e, algorithm="twophase", runner=SuperstepRunner(spark, checkpoint_dir=d, **kw),
            name="cc2", resume=True,
        )
        b = {r["id"]: r["component"] for r in resumed.state.collect()}
        assert a == b, leg
        assert resumed.metrics[0]["iteration"] == 2
        assert "resume_fallback" not in resumed.metrics[0]
    for t in spark.catalog.listTables():
        if t.name.startswith("ckpt_") and "_cc2_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_lpa_checkpoint_resume(spark, tmp_path):
    """Crash/resume parity for label propagation: fixed 5 supersteps,
    crash after round 2, resumed labels must match exactly (the mode
    tie-break is deterministic, so integer labels are bitwise)."""
    from networkx_graph_spark.kernels.lpa import label_propagation
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    rows = [(i, i + 1) for i in range(20)] + [(5, 15), (2, 18), (500, 501)]
    e = spark.createDataFrame(rows, "src long, dst long")
    d = str(tmp_path / "ck3")
    full = label_propagation(
        e, max_iter=5, runner=SuperstepRunner(spark, checkpoint_dir=d), name="lp"
    )
    a = {r["id"]: r["label"] for r in full.state.collect()}
    _crash_after(d, "lp", 2)
    resumed = label_propagation(
        e, max_iter=5, runner=SuperstepRunner(spark, checkpoint_dir=d),
        name="lp", resume=True,
    )
    b = {r["id"]: r["label"] for r in resumed.state.collect()}
    assert a == b
    assert resumed.metrics[0]["iteration"] == 3
    assert resumed.iterations == 5


def test_pagerank_assume_distinct_parity(spark, edges_df):
    """assume_distinct=True on a distinct-by-construction edge table must
    reproduce the default path exactly — and must NOT dedupe: a table
    WITH duplicates then legitimately double-counts them."""
    from networkx_graph_spark.kernels.pagerank import pagerank
    from pyspark.sql import functions as F

    a = {r["id"]: r["rank"]
         for r in pagerank(edges_df, tol=-1.0, max_iter=5).state.collect()}
    b = {r["id"]: r["rank"]
         for r in pagerank(edges_df, tol=-1.0, max_iter=5,
                           assume_distinct=True).state.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12, k
    # duplicate-edge input where the dup provably shifts weight: 0->1
    # twice plus 0->2 once. Dedup: both successors get 1/2 of rank(0);
    # assume_distinct: node 1 gets 2/3, node 2 gets 1/3.
    dup = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2)], "src long, dst long"
    )
    with_dedup = {r["id"]: r["rank"]
                  for r in pagerank(dup, tol=-1.0, max_iter=1).state.collect()}
    without = {r["id"]: r["rank"]
               for r in pagerank(dup, tol=-1.0, max_iter=1,
                                 assume_distinct=True).state.collect()}
    assert abs(with_dedup[1] - with_dedup[2]) < 1e-15
    assert without[1] > without[2] + 1e-3
    # the deduped run equals the explicitly-distinct run
    clean = {r["id"]: r["rank"]
             for r in pagerank(dup.distinct(), tol=-1.0, max_iter=1).state.collect()}
    for k in clean:
        assert abs(with_dedup[k] - clean[k]) < 1e-12, k


def test_pagerank_plan_distinct_sniff(spark):
    """Redundant-dedup elimination: the kernel skips its ingest dedup ONLY
    when the input plan literally ends in Deduplicate over exactly
    (src, dst); any other shape — raw duplicates, a wider distinct, a
    subset dropDuplicates — keeps the dedup and the dedup semantics."""
    from pyspark.sql import functions as F

    from networkx_graph_spark.kernels.pagerank import (
        _plan_is_distinct_on,
        pagerank,
    )

    df = spark.range(12).select(
        (F.col("id") % 3).alias("src"), (F.col("id") % 4 + 1).alias("dst")
    )
    assert not _plan_is_distinct_on(df, ("src", "dst"))
    assert _plan_is_distinct_on(df.distinct(), ("src", "dst"))
    assert _plan_is_distinct_on(df.distinct().persist(), ("src", "dst"))
    assert not _plan_is_distinct_on(
        df.withColumn("w", F.lit(1)).distinct(), ("src", "dst")
    )
    assert not _plan_is_distinct_on(df.dropDuplicates(["src"]), ("src", "dst"))
    # duplicate input WITHOUT a distinct plan still dedups (no weight shift)
    dup = spark.createDataFrame([(0, 1), (0, 1), (0, 2)], "src long, dst long")
    r = {x["id"]: x["rank"] for x in pagerank(dup, tol=-1.0, max_iter=1).state.collect()}
    assert abs(r[1] - r[2]) < 1e-15
    # sniffed distinct input reproduces the explicit-dedup result
    a = {x["id"]: x["rank"]
         for x in pagerank(dup.distinct(), tol=-1.0, max_iter=2).state.collect()}
    b = {x["id"]: x["rank"]
         for x in pagerank(dup.distinct(), tol=-1.0, max_iter=2,
                           assume_distinct=True).state.collect()}
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12, k


def test_lpa_winner_tie_break(spark):
    """The min-struct vote winner must keep the window semantics: max
    count, ties to the smallest label. 0-1-2 triangle plus pendant 3-4:
    node 1 sees labels {0, 2} with equal count -> picks 0."""
    from networkx_graph_spark.kernels.lpa import label_propagation

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4)], "src long, dst long"
    )
    res = label_propagation(e, max_iter=1)
    labels = {r["id"]: r["label"] for r in res.state.collect()}
    # each vertex of the triangle adopts the min neighbour label after 1 round
    assert labels[1] == 0 and labels[2] == 0 and labels[0] == 1
    assert labels[3] == 4 or labels[3] == 3  # symmetric pair swaps labels


def test_bucketed_resume_rejects_mixed_spec_dir(spark, edges_df, tmp_path):
    """Two runs with different bucket specs sharing a job dir: a resume
    whose latest complete checkpoint was written under the OTHER spec
    must fall back to the plain parquet read (never register a bucketed
    table over mismatched files), and still produce correct ranks. So
    must a same-session resume whose iteration dir was rewritten as plain
    parquet while its ckpt_* table is still live."""
    import os
    import shutil

    from networkx_graph_spark.kernels.pagerank import pagerank
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    d = str(tmp_path / "ckm")
    r16 = SuperstepRunner(spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=16)
    full = pagerank(edges_df, tol=-1.0, max_iter=4, runner=r16,
                    name="prm", num_partitions=16)
    expect = {r["id"]: r["rank"] for r in full.state.collect()}
    # drop the session catalog entries so resume exercises the
    # fresh-process path (re-registration / plain-read fallback)
    for i in range(5):
        spark.sql(f"DROP TABLE IF EXISTS {r16._table_name('prm', i)}")
    # a NEW run with bucket_count=4 resumes from the count=16 files:
    # the per-iteration spec mismatches, so registration must refuse
    # and the plain read must serve the state
    r4 = SuperstepRunner(spark, checkpoint_dir=d, bucket_cols=["id"], bucket_count=4)
    got = r4.resume("prm")
    assert got is not None
    state, nxt = got
    # plan must NOT claim a bucketed scan (no ckpt_ table registered)
    assert not spark.catalog.tableExists(r4._table_name("prm", nxt - 1))
    resumed = pagerank(edges_df, tol=-1.0, max_iter=4, runner=r4,
                       name="prm", resume=True, num_partitions=4)
    for k, v in expect.items():
        # same iteration count resumed under a different partitioning:
        # identical math up to FP summation order
        assert abs({r["id"]: r["rank"] for r in resumed.state.collect()}[k] - v) < 1e-12
    # the fallback is recorded on the first record of a resumed run that
    # has supersteps left (the run above had none)
    more = pagerank(edges_df, tol=-1.0, max_iter=5, runner=r4,
                    name="prm", resume=True, num_partitions=4)
    assert more.metrics[0]["iteration"] == 4
    assert "bucket spec" in more.metrics[0]["resume_fallback"]

    # same session, live table, plain-rewritten dir: iterations 2 and 3
    # keep their catalog entries after a 4-superstep run; iteration 3's
    # files are then replaced by a plain parquet copy (no bucket spec)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d2 = str(tmp_path / "cks")
    rs = SuperstepRunner(spark, checkpoint_dir=d2, bucket_cols=["id"], bucket_count=nparts)
    pagerank(edges_df, tol=-1.0, max_iter=4, runner=rs, name="prs")
    it3 = os.path.join(d2, "prs", "iter=00003")
    spark.read.parquet(it3).write.parquet(it3 + "_plain")
    shutil.rmtree(it3)
    shutil.move(it3 + "_plain", it3)
    try:
        assert spark.catalog.tableExists(rs._table_name("prs", 3))
        rs2 = SuperstepRunner(spark, checkpoint_dir=d2, bucket_cols=["id"], bucket_count=nparts)
        res = pagerank(edges_df, tol=-1.0, max_iter=6, runner=rs2, name="prs", resume=True)
        assert res.metrics[0]["iteration"] == 4
        assert "resume_fallback" in res.metrics[0]
        got = {r["id"]: r["rank"] for r in res.state.collect()}
        want = {
            r["id"]: r["rank"]
            for r in pagerank(edges_df, tol=-1.0, max_iter=6).state.collect()
        }
        assert set(got) == set(want)
        assert all(abs(got[k] - want[k]) < 1e-12 for k in want)
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("ckpt_") and ("_prs_" in t.name or "_prm_" in t.name):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
