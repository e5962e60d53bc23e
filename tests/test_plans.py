"""Physical-plan discipline: projections and filters must reach the
parquet scans (PLANS.md); scans that read every column for a 2-column
projection are wrong at 100 TB."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _scan_lines(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "ReadSchema" in ln or "PushedFilters" in ln], plan


def test_column_pruning_reaches_scan(spark):
    from networkx_graph_spark.contract import q_doc_tokens

    df = q_doc_tokens(spark, SF_DIR)
    lines, plan = _scan_lines(df)
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas
    for ln in schemas:
        # documents has (doc_id, url, lang, text, ...); the query needs
        # only doc_id + text — lang/url must be pruned from the scan
        assert "lang" not in ln and "url" not in ln


def test_filter_pushdown_reaches_scan(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 5
    )
    plan = emb._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]" in plan


def test_kernel_join_uses_partial_aggregation(spark):
    """The PageRank contribution sum must be map-side partial (partial_sum
    HashAggregate below the exchange) — the hub-skew reducer."""
    from networkx_graph_spark.contract import tri_edges

    e = tri_edges(spark, SF_DIR)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    plan = deg._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan


def _count_jobs(spark, fn, broadcasts=False):
    """Run fn() under a dedicated job group and count the blocking driver
    ACTIONS it scheduled. Two classes of job id are excluded, because they
    are children of a single action, not extra barriers: (a) AQE
    shuffle-stage materializations (AQE is disabled for the measurement),
    (b) broadcast-exchange jobs (submitted from the broadcast thread pool;
    their callsite is the CompletableFuture lambda). ``broadcasts=True``
    counts the broadcast-exchange jobs too: each one is a Spark job the
    driver waits for before its action's stage can start."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup("jobcount"))
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # group id only (setJobGroup would overwrite every job DESCRIPTION,
    # erasing the broadcast-thread callsite we filter on)
    sc.setLocalProperty("spark.jobGroup.id", "jobcount")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    new_ids = set(tracker.getJobIdsForGroup("jobcount")) - before
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    actions = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() not in new_ids:
            continue
        desc = j.description().get() if j.description().isDefined() else j.name()
        if broadcasts or "CompletableFuture" not in desc:
            actions += 1
    return actions


def test_sssp_one_job_per_superstep(spark):
    """The SSSP kernel must schedule exactly one Spark job per superstep
    (+1 for the seed checkpoint): convergence count and p2p target hits
    ride the state-checkpoint action as Observation metrics, never as
    separate isEmpty/collect jobs."""
    from networkx_graph_spark.operators.sssp import bounded_sssp

    # chain 0->1->...->6: 6 improving supersteps + 1 confirming round
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, float("-inf"))],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    jobs = _count_jobs(
        spark, lambda: bounded_sssp(spark, edges, seeds, cutoffs=100.0).collect()
    )
    # 1 seed checkpoint + 7 supersteps + 1 final collect
    assert jobs <= 9, f"expected <=9 jobs (1 seed + 7 supersteps + collect), got {jobs}"


def test_csr_kernels_one_job_per_superstep(spark, graph1, monkeypatch):
    """Both block-centric kernels (bounded_sssp_csr and zigzag_sssp with
    use_csr=True) schedule one Spark job per superstep plus one for the
    init checkpoint: the improved-row count rides the state-checkpoint
    action, and the min-label merge adds no job."""
    from networkx_graph_spark.operators.sssp_csr import bounded_sssp_csr
    from networkx_graph_spark.operators.zigzag import (
        _graph_state_edges,
        state_id,
        zigzag_sssp,
    )
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    supersteps: list[int] = []
    run = SuperstepRunner.run

    def counted_run(self, *args, **kwargs):
        result = run(self, *args, **kwargs)
        supersteps.append(result.iterations)
        return result

    monkeypatch.setattr(SuperstepRunner, "run", counted_run)
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, float("-inf"))],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    jobs = _count_jobs(
        spark,
        lambda: bounded_sssp_csr(spark, edges, seeds, 100.0, num_blocks=3, block_width=2),
    )
    # blocks of width 2 over a 0..6 chain: one block crossing per superstep
    assert supersteps == [4], supersteps
    assert jobs == 1 + supersteps[0], f"expected 1 init + {supersteps[0]} supersteps, got {jobs}"

    _graph_state_edges(graph1)  # the per-graph state-edge build is not a superstep
    sid = graph1.node_id("w4")
    supersteps.clear()
    jobs = _count_jobs(
        spark,
        lambda: zigzag_sssp(graph1, [state_id(sid, 1), state_id(sid, -1)], 30.0, use_csr=True),
    )
    assert len(supersteps) == 1 and supersteps[0] > 1, supersteps
    assert jobs == 1 + supersteps[0], f"expected 1 init + {supersteps[0]} supersteps, got {jobs}"


def test_point_query_non_adaptive_supersteps(spark, graph1, monkeypatch):
    """A point query on an AQE-on session: every SSSP superstep executes a
    non-adaptive plan (under AQE each shuffle stage would be its own job),
    the query costs one seed checkpoint, one job per superstep and one
    chain collect, and the session's AQE is on again afterwards."""
    from networkx_graph_spark.operators.sssp import shortest_path
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    # pre-warm the graph's lazy one-time builds
    graph1.edges_w
    graph1.names_map
    graph1.lengths_map
    plans: list[tuple[str, str]] = []
    supersteps: list[int] = []
    materialize, run = SuperstepRunner._materialize, SuperstepRunner.run

    def captured(self, plan, name, i, durable):
        out = materialize(self, plan, name, i, durable)
        plans.append((name, plan._jdf.queryExecution().executedPlan().getClass().getSimpleName()))
        return out

    def counted_run(self, *args, **kwargs):
        result = run(self, *args, **kwargs)
        supersteps.append(result.iterations)
        return result

    monkeypatch.setattr(SuperstepRunner, "_materialize", captured)
    monkeypatch.setattr(SuperstepRunner, "run", counted_run)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    p = shortest_path(graph1, "w1", "w7", 100.0)
    assert (p.dist, p.nodes) == (30.0, ["w1", "w2", "w5", "w7"])
    kinds = [kind for name, kind in plans if name == "sssp"]
    assert kinds and "AdaptiveSparkPlanExec" not in kinds, kinds
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    supersteps.clear()
    jobs = _count_jobs(spark, lambda: shortest_path(graph1, "w1", "w7", 100.0))
    assert len(supersteps) == 1, supersteps
    assert jobs == 1 + supersteps[0] + 1, (
        f"expected 1 seed + {supersteps[0]} supersteps + 1 chain collect, got {jobs}"
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_point_query_converges_on_dead_frontier(spark, graph1, monkeypatch):
    """A point query stops on the superstep after which no row may relax
    (``live == 0``), not one no-op superstep later. On graph1, whose
    lengths are all positive, rows at exactly the target distance are
    pruned too, so w1->w4 and w3->w6 take 2 supersteps (one superstep
    more before either rule). The zero-length ``_TIE`` graph keeps the
    ``<=`` prune and its 4 supersteps, and a kernel run with no targets
    or sinks has ``live == cnt`` on every record."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.sssp import (
        bounded_sssp,
        shortest_path,
        shortest_paths_pairs,
    )
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    results = []
    run = SuperstepRunner.run

    def recorded_run(self, *args, **kwargs):
        result = run(self, *args, **kwargs)
        results.append(result)
        return result

    monkeypatch.setattr(SuperstepRunner, "run", recorded_run)
    assert graph1.min_length > 0
    for source, target, want in [
        ("w1", "w4", (10.0, ["w1", "w3", "w4"])),
        ("w3", "w6", (20.0, ["w3", "w4", "w6"])),
    ]:
        results.clear()
        p = shortest_path(graph1, source, target, 100.0)
        assert (p.dist, p.nodes) == want
        (r,) = results
        assert r.converged and r.iterations == 2, (source, target, r.metrics)
        assert r.metrics[-1]["live"] == 0
        assert all(m["live"] > 0 for m in r.metrics[:-1]), r.metrics

    tie = SparkDiGraph.from_lists(
        spark,
        [("n0", 1.0), ("n1", 0.0), ("n2", 0.0), ("n3", 0.0)],
        [("n0", "n3"), ("n1", "n2"), ("n2", "n1"), ("n3", "n2")],
    )
    assert tie.min_length == 0
    results.clear()
    got = shortest_paths_pairs(tie, [("n0", "n2", 4.0), ("n3", "n1", 4.0)])
    assert [(p.dist, p.nodes) for p in got.values()] == [
        (0.0, ["n1", "n2"]),
        (0.0, ["n3", "n2", "n1"]),
    ]
    (r,) = results
    assert r.iterations == 4, r.metrics
    tie.unpersist()

    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame(
        [(0, 0, 0.0, -1, float("-inf"))],
        "qid long, node long, dist double, prev long, prev_dist double",
    )
    results.clear()
    bounded_sssp(spark, edges, seeds, cutoffs=100.0)
    (r,) = results
    assert r.iterations == 7, r.metrics
    assert [m["live"] for m in r.metrics] == [m["cnt"] for m in r.metrics]


_PAIRS = [("w1", "w7", 100.0), ("w3", "w6", 100.0)]


def _paths_of(results):
    return [None if p is None else (p.dist, p.nodes, p.binding) for p in results]


def _pairs(g):
    from networkx_graph_spark.operators.sssp import shortest_paths_pairs

    return _paths_of(shortest_paths_pairs(g, _PAIRS).values())


def _pairs_mixed_cutoffs(g):
    from networkx_graph_spark.operators.sssp import shortest_paths_pairs

    return _paths_of(shortest_paths_pairs(g, [_PAIRS[0], ("w3", "w6", 90.0)]).values())


def _pairs_sinks(g):
    from networkx_graph_spark.operators.sssp import shortest_paths_pairs

    return _paths_of(shortest_paths_pairs(g, _PAIRS, sinks=["w2"]).values())


def _tree_sinks(g):
    from networkx_graph_spark.operators.sssp import shortest_paths

    return sorted(shortest_paths(g, "w1", 100.0, sinks=["w2"]).dists().items())


def _first_binding(g):
    from networkx_graph_spark.operators.bindings import (
        encode_bindings,
        shortest_path_to_bindings,
    )

    b = encode_bindings(g, {"w7": [(3, 4, "obj")]})
    return _paths_of(shortest_path_to_bindings(g, "w3", 50.0, b, direction=1))


_W1_W7 = (30.0, ["w1", "w2", "w5", "w7"], None)
_W3_W6 = (20.0, ["w3", "w4", "w6"], None)


@pytest.mark.parametrize(
    "query, want",
    [
        (_pairs, [_W1_W7, _W3_W6]),
        (_pairs_mixed_cutoffs, [_W1_W7, _W3_W6]),
        (_pairs_sinks, [(33.0, ["w1", "w3", "w4", "w6", "w7"], None), _W3_W6]),
        (_tree_sinks, [("w2", 0.0), ("w3", 0.0), ("w4", 10.0), ("w6", 30.0), ("w7", 33.0)]),
        (_first_binding, [None, (26.0, ["w3", "w4", "w6", "w7"], ("w7", (3.0, 4.0, "obj")))]),
    ],
    ids=["pairs", "pairs_mixed_cutoffs", "pairs_sinks", "tree_sinks", "first_binding"],
)
def test_pairs_supersteps_scan_no_driver_tables(spark, graph1, monkeypatch, query, want):
    """A query batch carries its cutoffs, sinks, target pairs and prune
    bound into the supersteps as plan literals: no SSSP superstep's
    executed plan scans a driver-built table, and with broadcast jobs
    counted a call costs one seed broadcast, one init checkpoint, one
    checkpoint and one edge broadcast per superstep, and one collect
    (the chain walk, or the tree's distances)."""
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    # pre-warm the graph's lazy one-time builds
    graph1.edges_w
    graph1.edges_w_rev
    graph1.names_map
    graph1.lengths_map
    plans: list[tuple[str, str]] = []
    supersteps: list[int] = []
    materialize, run = SuperstepRunner._materialize, SuperstepRunner.run

    def captured(self, plan, name, i, durable):
        out = materialize(self, plan, name, i, durable)
        plans.append((name, plan._jdf.queryExecution().executedPlan().toString()))
        return out

    def counted_run(self, *args, **kwargs):
        result = run(self, *args, **kwargs)
        supersteps.append(result.iterations)
        return result

    monkeypatch.setattr(SuperstepRunner, "_materialize", captured)
    monkeypatch.setattr(SuperstepRunner, "run", counted_run)
    assert query(graph1) == want
    sssp_plans = [plan for name, plan in plans if name == "sssp"]
    assert len(sssp_plans) > 1
    for plan in sssp_plans:
        assert "LocalTableScan" not in plan, plan

    supersteps.clear()
    jobs = _count_jobs(spark, lambda: query(graph1), broadcasts=True)
    assert len(supersteps) == 1, supersteps
    budget = 1 + 1 + 2 * supersteps[0] + 1
    assert jobs <= budget, (
        f"expected <= 1 seed broadcast + 1 init + 2 x {supersteps[0]} supersteps"
        f" + 1 collect = {budget} jobs, got {jobs}"
    )


def _set_literal_values(expr) -> int:
    """Values held in the literal sets of a Catalyst expression: ``InSet``
    and ``In`` lists, map literals and literal ``map(...)`` calls."""
    kind = expr.getClass().getSimpleName()
    kids = expr.children()
    n = 0
    if kind == "InSet":
        n = expr.hset().size()
    elif kind == "In":
        n = expr.list().size()
    elif kind == "CreateMap":
        n = kids.size() // 2
    elif kind == "Literal" and expr.dataType().typeName() == "map":
        n = expr.value().numElements()
    return n + sum(_set_literal_values(kids.apply(i)) for i in range(kids.size()))


def test_bindings_target_literal_grows_with_queries_plus_bindings(spark, monkeypatch):
    """A bindings batch's target test is one binding-node set and one
    source per query, so the literal in an SSSP superstep's ``hits``
    metric holds at most |Q| + |B| values, not one per (query, binding
    node) pair. Sources v10..v19 are binding nodes themselves, whose own
    binding is no target: each finds the next one."""
    from networkx_graph_spark.graph import SparkDiGraph
    from networkx_graph_spark.operators.bindings import (
        encode_bindings,
        shortest_path_to_bindings_pairs,
    )
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    names = [f"v{i}" for i in range(70)]
    g = SparkDiGraph.from_lists(
        spark, [(n, 1.0) for n in names], list(zip(names, names[1:]))
    )
    nq, bound_nodes = 20, names[10:60]
    b = encode_bindings(g, {n: [(0.0, 0.0, n)] for n in bound_nodes})
    plans = []
    materialize = SuperstepRunner._materialize

    def captured(self, plan, name, i, durable):
        if name == "sssp":
            plans.append(plan._jdf.queryExecution().optimizedPlan())
        return materialize(self, plan, name, i, durable)

    monkeypatch.setattr(SuperstepRunner, "_materialize", captured)
    got = shortest_path_to_bindings_pairs(
        g, [(n, None) for n in names[:nq]], 100.0, b, direction=1
    )
    for i, (_, fwd) in enumerate(got):
        end = max(10, i + 1)
        assert (fwd.dist, fwd.nodes) == (float(end - i - 1), names[i : end + 1]), i
    assert plans
    for plan in plans:
        hits, stack = [], [plan]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "CollectMetrics":
                ms = node.metrics()
                hits += [ms.apply(j) for j in range(ms.size()) if ms.apply(j).name() == "hits"]
            kids = node.children()
            stack += [kids.apply(j) for j in range(kids.size())]
        assert len(hits) == 1
        values = _set_literal_values(hits[0])
        assert values <= nq + len(bound_nodes), values
    g.unpersist()


def test_pagerank_one_job_per_superstep(spark):
    """PageRank at fuse=1: one job per iteration plus fixed setup jobs
    (vertex count, edge persist count, dangling count)."""
    from networkx_graph_spark.kernels.pagerank import pagerank

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (5, 0)], "src long, dst long"
    )
    jobs = _count_jobs(spark, lambda: pagerank(e, tol=-1.0, max_iter=5).state.collect())
    # 3 setup counts + 1 init checkpoint + 5 supersteps + 1 collect = 10
    assert jobs <= 10, f"expected <=10 jobs, got {jobs}"


def test_runner_table_namespace(spark, tmp_path):
    """Catalog checkpoint-table names are namespaced by checkpoint_dir so
    two runs sharing a kernel name cannot DROP each other's entries."""
    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    r1 = SuperstepRunner(spark, checkpoint_dir=d1, bucket_cols=["id"], bucket_count=4)
    r2 = SuperstepRunner(spark, checkpoint_dir=d2, bucket_cols=["id"], bucket_count=4)
    assert r1._table_name("sssp", 3) != r2._table_name("sssp", 3)
    # same dir -> same name (resume must find its own table)
    r1b = SuperstepRunner(spark, checkpoint_dir=d1, bucket_cols=["id"], bucket_count=4)
    assert r1._table_name("sssp", 3) == r1b._table_name("sssp", 3)


def test_namespace_of_uri_ignores_working_dir(tmp_path, monkeypatch):
    """A scheme-qualified URI names the same tables from any working dir;
    a relative local path still resolves against the working dir."""
    from networkx_graph_spark.bucketed import namespace

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    uri = f"file://{tmp_path}/g"
    seen = {}
    for wd in ("a", "b"):
        monkeypatch.chdir(tmp_path / wd)
        seen[wd] = (namespace(uri), namespace("g"), namespace(str(tmp_path / wd / "g")))
    assert seen["a"][0] == seen["b"][0]
    assert seen["a"][1] != seen["b"][1]
    for wd in ("a", "b"):
        assert seen[wd][1] == seen[wd][2]


def _bindings_fwd(g):
    from networkx_graph_spark.operators.bindings import (
        all_paths_to_bindings,
        encode_bindings,
    )

    return all_paths_to_bindings(
        g, "w1", 50.0, encode_bindings(g, {"w7": [(3, 4, "obj")]}), direction=1
    )


def _bindings_fwd_endings(g):
    from networkx_graph_spark.operators.bindings import (
        all_paths_to_bindings,
        encode_bindings,
    )

    return all_paths_to_bindings(
        g, "w1", 50.0, encode_bindings(g, {"w7": [(3, 4, "obj")]}), direction=1,
        with_endings=True,
    )


def _paths_from(g):
    from networkx_graph_spark.operators.paths import all_paths_from

    return all_paths_from(g, "w1", 60.0)


def _paths_to(g):
    from networkx_graph_spark.operators.paths import all_paths_to

    return all_paths_to(g, "w7", 30.0)


def _paths_p2p(g):
    from networkx_graph_spark.operators.paths import all_paths

    return all_paths(g, "w1", "w7", 80.0)


@pytest.mark.parametrize(
    "fixture, query, budget",
    [
        ("graph1", _bindings_fwd, 6),
        ("graph1", _bindings_fwd_endings, 6),
        ("graph1", _paths_from, 6),
        ("graph1", _paths_to, 5),
        ("graph2", _paths_p2p, 5),
    ],
    ids=["bindings_fwd", "bindings_fwd_endings", "all_paths_from", "all_paths_to", "all_paths"],
)
def test_bindings_enumeration_one_job_per_round(request, spark, fixture, query, budget):
    """Path enumeration runs ONE driver action per round (flagged state +
    Observation live-count): the seed round's checkpoint, one per later
    round, one final collect, and no isEmpty or per-round collect jobs.
    Each budget is the measured count on local[4] with warm graphs; the
    endings ride the binding loop, so they add no job."""
    g = request.getfixturevalue(fixture)
    # pre-warm the graph's lazy one-time builds so the gate measures the
    # enumeration loop itself
    g.edges_w
    g.edges_w_rev
    g.names_map
    g.lengths_map
    jobs = _count_jobs(spark, lambda: query(g))
    assert jobs <= budget, f"expected <={budget} driver actions, got {jobs}"


def _shortest_path(g):
    from networkx_graph_spark.operators.sssp import shortest_path

    return shortest_path(g, "w1", "w7", 100.0)


def _shortest_to_bindings(g):
    from networkx_graph_spark.operators.bindings import (
        encode_bindings,
        shortest_path_to_bindings,
    )

    return shortest_path_to_bindings(g, "w1", 50.0, encode_bindings(g, {"w7": [(3, 4, "obj")]}))


@pytest.mark.parametrize(
    "query",
    [_shortest_path, _shortest_to_bindings, _paths_from, _bindings_fwd, _bindings_fwd_endings],
    ids=[
        "shortest_path", "shortest_path_to_bindings", "all_paths_from",
        "all_paths_to_bindings", "all_paths_to_bindings_endings",
    ],
)
def test_one_shot_queries_free_their_state(spark, query):
    """A query that decodes its answer on the driver releases its
    converged state's checkpoint blocks before it returns: no RDD the
    call creates is still cached afterwards. (Counting all cached RDDs
    would not do: a dropped checkpoint is also released whenever a JVM
    garbage collection lets Spark's cleaner reach it.)"""
    from networkx_graph_spark.graph import SparkDiGraph
    from tests.conftest import GRAPH1_EDGES, GRAPH1_NODES

    sc = spark.sparkContext
    g = SparkDiGraph.from_lists(spark, GRAPH1_NODES, GRAPH1_EDGES)
    first = query(g)  # also builds the graph's cached tables
    mark = sc.emptyRDD().id()
    assert query(g) == first
    left = [r.id() for r in sc._jsc.sc().getRDDStorageInfo() if r.id() > mark]
    assert left == []
    g.unpersist()


def test_cosine_topk_two_stage_plan(spark):
    """The exact cosine re-rank must execute as a TWO-stage top-k:
    Catalyst's InferWindowGroupLimit turns the row_number window +
    rank<=k filter into a per-partition Partial WindowGroupLimit BELOW
    the per-qid exchange (each map partition truncated to <= k rows per
    query) and a Final above it — the shuffle carries k·P rows per
    query, never the full scored corpus. This gate pins that shape so a
    refactor (different window function, lost rank filter) cannot
    silently reintroduce the single-reducer-per-query plan."""
    from networkx_graph_spark.contract import q_embed_topk

    df = q_embed_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    i_final = plan.find("WindowGroupLimit")
    assert i_final >= 0 and ", Final" in plan, plan
    i_exch = plan.find("Exchange hashpartitioning(qid", i_final)
    assert i_exch > i_final, "per-qid exchange must sit below the Final limit"
    i_partial = plan.find("WindowGroupLimit", i_exch)
    assert i_partial > i_exch and ", Partial" in plan[i_partial:], (
        "map-side Partial WindowGroupLimit must sit below the exchange "
        "(otherwise the full scored corpus shuffles into one task per "
        "query)\n" + plan
    )


def test_runner_contract_countdown(spark):
    """The superstep engine's contract on a toy countdown loop of 10
    supersteps: (a) one Spark job per superstep plus one for the init
    checkpoint; (b) the cached-RDD count stays flat across supersteps
    (each superstep frees the previous state's checkpoint blocks);
    (c) one JSON-serializable record per superstep carrying iteration,
    wall_sec and the step's metrics, handed back to the next step as
    ``prev`` — a decimal(38,0) sum included."""
    import json

    from networkx_graph_spark.plans.supersteps import SuperstepRunner

    sc = spark.sparkContext
    first_rdd = sc.emptyRDD().id()
    cached: list[int] = []
    prevs: list = []

    def step(state, i, prev):
        infos = sc._jsc.sc().getRDDStorageInfo()
        cached.append(sum(1 for r in infos if r.id() > first_rdd))
        prevs.append(prev)
        return state.select("id", (F.col("left") - 1).alias("left")), {
            "left": F.max("left"),
            "sig": F.sum(F.xxhash64("id", "left").cast("decimal(38,0)")),
        }

    init = spark.range(8).select("id", F.lit(10).alias("left"))
    res = []
    jobs = _count_jobs(
        spark,
        lambda: res.append(
            SuperstepRunner(spark).run("countdown", init, step, max_iter=50,
                                       converged_key="left")
        ),
    )
    out = res[0]
    assert out.converged and out.iterations == 10
    assert jobs == 11, f"expected 1 init + 10 superstep jobs, got {jobs}"
    assert max(cached) - min(cached) <= 1, cached  # async unpersist may lag one
    assert len(out.metrics) == 10
    for i, rec in enumerate(out.metrics):
        assert rec["iteration"] == i and rec["left"] == 9 - i
        assert isinstance(rec["wall_sec"], float)
        assert isinstance(rec["sig"], int)
        assert json.loads(json.dumps(rec)) == rec
    assert prevs[0] is None and prevs[1:] == out.metrics[:-1]
    assert out.state.columns == ["id", "left"]


def test_supersteps_only_in_the_runner():
    """Operators and kernels hand their loops to SuperstepRunner: neither
    an Observation nor a localCheckpoint is built outside plans/, and no
    loop probes emptiness with a job of its own (``isEmpty``). The
    triangle counter's one-off localCheckpoint is not a loop."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "networkx_graph_spark"
    allowed = {("kernels/triangles.py", "localCheckpoint(")}
    found = set()
    for sub in ("operators", "kernels"):
        for path in sorted((pkg / sub).glob("*.py")):
            rel = f"{sub}/{path.name}"
            for token in re.findall(r"\b(?:Observation|localCheckpoint|isEmpty)\(", path.read_text()):
                found.add((rel, token))
    assert found - allowed == set(), sorted(found - allowed)


def test_kernels_run_on_the_callers_runner():
    """Every resumable loop runs on the caller's runner: each
    ``SuperstepRunner(`` built in ``kernels/`` or in the block-centric
    loop (``operators/sssp_csr.py``) is the default of ``runner or ...``,
    never a runner of its own that would drop a caller's checkpoint dir,
    buckets or ``resume``."""
    import ast
    import pathlib

    def is_runner(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "SuperstepRunner"
        )

    pkg = pathlib.Path(__file__).resolve().parent.parent / "networkx_graph_spark"
    paths = [*sorted((pkg / "kernels").glob("*.py")), pkg / "operators" / "sssp_csr.py"]
    built, defaults = set(), set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if is_runner(node):
                built.add((path.name, node.lineno))
            if (
                isinstance(node, ast.BoolOp)
                and isinstance(node.op, ast.Or)
                and [ast.unparse(v) for v in node.values[:-1]] == ["runner"]
                and is_runner(node.values[-1])
            ):
                defaults.add((path.name, node.values[-1].lineno))
    assert built, "no SuperstepRunner construction found"
    assert built == defaults, sorted(built - defaults)


def test_no_parallelized_tables_on_the_query_path():
    """Operators, kernels and the id indexer build their driver-side
    tables with ``session.local_df`` (a LocalRelation), never with
    ``createDataFrame`` over a Python list, whose every scan starts Python
    workers. Graph constructors and the contract's oracle tables are
    one-time inputs, not query-path tables. In the operators the one
    broadcast driver table is the SSSP seed sources
    (``sssp.source_seeds``); every other query input is a plan literal,
    and nothing is cross-joined."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "networkx_graph_spark"
    paths = [*sorted((pkg / "operators").glob("*.py")), *sorted((pkg / "kernels").glob("*.py"))]
    paths.append(pkg / "indexer.py")
    found = [
        str(p.relative_to(pkg)) for p in paths if "createDataFrame(" in p.read_text()
    ]
    assert found == [], found

    texts = {p.name: p.read_text() for p in sorted((pkg / "operators").glob("*.py"))}
    assert [n for n, text in texts.items() if "crossJoin(" in text] == []
    counts = {n: text.count("F.broadcast(") for n, text in texts.items()}
    assert {n: c for n, c in counts.items() if c} == {"sssp.py": 1}, counts
    seeds = next(
        fn for fn in ast.parse(texts["sssp.py"]).body
        if isinstance(fn, ast.FunctionDef) and fn.name == "source_seeds"
    )
    assert "F.broadcast(" in ast.get_source_segment(texts["sssp.py"], seeds)
