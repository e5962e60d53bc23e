"""Driver-contract queries: every operator exposed as a named DataFrame
query with a DuckDB-SQL oracle where expressible (__spark_entry__.py).

Conventions that keep the value-hash comparison honest:

- every computed column is aliased identically in Spark and SQL;
- float outputs are rounded (round 6) in BOTH engines — the remaining
  risk is a value sitting within accumulated-FP distance of a rounding
  boundary, which the fixed-iteration designs keep negligible;
- iterative kernels are pinned to a FIXED round count in oracle-checked
  queries (k-round hash-min, 5-iteration PageRank) so both engines compute
  the same deterministic function; full-convergence variants are exposed
  as rows-only checks;
- timestamps compare as formatted strings (no TZ/NTZ ambiguity);
- fixture-graph reference goldens use VALUES oracles transcribed from
  /root/reference/tests/test_basic.py.

The derived graph for testdata-driven kernels is the tripartite
customer -> order -> part DAG:
  (o_custkey -> 1e6+o_orderkey) ∪ (1e6+l_orderkey -> 2e6+l_partkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAMPING = 0.85
PR_ITERS = 5
CC_ROUNDS = 4

TRI_EDGES_SQL = """
  SELECT DISTINCT o_custkey AS src, 1000000 + o_orderkey AS dst FROM orders
  UNION
  SELECT DISTINCT 1000000 + l_orderkey AS src, 2000000 + l_partkey AS dst FROM lineitem
"""


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    lineitem = _read(spark, sf_dir, "lineitem")
    a = orders.select(
        F.col("o_custkey").alias("src"), (F.lit(1_000_000) + F.col("o_orderkey")).alias("dst")
    )
    b = lineitem.select(
        (F.lit(1_000_000) + F.col("l_orderkey")).alias("src"),
        (F.lit(2_000_000) + F.col("l_partkey")).alias("dst"),
    )
    return a.unionByName(b).distinct()


# ------------------------------------------------------------ kernels
def q_degrees(spark, sf_dir):
    e = tri_edges(spark, sf_dir)
    out_deg = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))
    in_deg = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))
    nodes = e.select(F.col("src").alias("id")).unionByName(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    return (
        nodes.join(out_deg, "id", "left")
        .join(in_deg, "id", "left")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


SQL_DEGREES = f"""
WITH edges AS ({TRI_EDGES_SQL}),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
od AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
idg AS (SELECT dst AS id, count(*) AS in_degree FROM edges GROUP BY dst)
SELECT nodes.id, coalesce(od.out_degree, 0) AS out_degree, coalesce(idg.in_degree, 0) AS in_degree
FROM nodes LEFT JOIN od ON od.id = nodes.id LEFT JOIN idg ON idg.id = nodes.id
"""


def q_cc_hashmin_k(spark, sf_dir):
    """CC_ROUNDS rounds of hash-min label propagation (fixed, deterministic)."""
    from .kernels.components import connected_components

    return connected_components(tri_edges(spark, sf_dir), max_iter=CC_ROUNDS).state


def _sql_cc_hashmin() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, CC_ROUNDS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT r.id, least(r.component, coalesce(min(rn.component), r.component)) AS component
  FROM {prev} r
  LEFT JOIN sym s ON s.dst = r.id
  LEFT JOIN {prev} rn ON rn.id = s.src
  GROUP BY r.id, r.component)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({TRI_EDGES_SQL}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
r0 AS (SELECT DISTINCT src AS id, src AS component FROM sym),
{','.join(rounds)}
SELECT id, component FROM {prev}
"""


def q_pagerank_fixed(spark, sf_dir):
    """PR_ITERS power iterations with dangling-mass redistribution,
    round(rank, 6)."""
    from .kernels.pagerank import pagerank

    e = tri_edges(spark, sf_dir)
    res = pagerank(e, damping=DAMPING, tol=-1.0, max_iter=PR_ITERS)
    return res.state.select("id", F.round("rank", 6).alias("rank"))


def _sql_pagerank() -> str:
    steps = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""d{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0) AS dm FROM {prev} r LEFT JOIN deg ON deg.id = r.id WHERE deg.id IS NULL),
c{i} AS (
  SELECT e.dst AS id, sum(r.rank / deg.od) AS contrib
  FROM edges e JOIN {prev} r ON r.id = e.src JOIN deg ON deg.id = e.src GROUP BY e.dst),
r{i} AS (
  SELECT nodes.id,
         (1 - {DAMPING}) / (SELECT n FROM nn) +
         {DAMPING} * ((SELECT dm FROM d{i}) / (SELECT n FROM nn) + coalesce(c.contrib, 0)) AS rank
  FROM nodes LEFT JOIN c{i} c ON c.id = nodes.id)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({TRI_EDGES_SQL}),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
deg AS (SELECT src AS id, count(*) AS od FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{','.join(steps)}
SELECT id, round(rank, 6) AS rank FROM {prev}
"""


TRI_HASH_EDGES_SQL = """
  SELECT DISTINCT l_orderkey % 500 AS src, (l_partkey * 13 + l_suppkey) % 500 AS dst
  FROM lineitem WHERE l_orderkey % 500 <> (l_partkey * 13 + l_suppkey) % 500
"""


def _tri_hash_edges(spark, sf_dir):
    """TRI_HASH_EDGES_SQL in Spark: the hashed lineitem edge table."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        ((F.col("l_partkey") * 13 + F.col("l_suppkey")) % 500).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()


def q_triangle_count(spark, sf_dir):
    from .kernels.triangles import triangle_count

    n = triangle_count(_tri_hash_edges(spark, sf_dir))
    return spark.createDataFrame([(n,)], "n_triangles long")


def q_triangle_per_vertex(spark, sf_dir):
    """Per-vertex triangle participation counts (K4 companion surface —
    kernels/triangles.triangle_count_per_vertex) over the same hashed
    edge table as triangle_count."""
    from .kernels.triangles import triangle_count_per_vertex

    return triangle_count_per_vertex(_tri_hash_edges(spark, sf_dir))


# K4 merged surface: per-vertex counts + the global count as an id=-1
# sentinel row (one driver row covers both kernel entry points; vertex ids
# are non-negative, so the sentinel cannot collide)
SQL_TRIANGLES_MERGED = f"""
WITH e AS ({TRI_HASH_EDGES_SQL}),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1 JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
verts AS (SELECT DISTINCT src AS v FROM e UNION SELECT DISTINCT dst AS v FROM e),
cnt AS (
  SELECT v, count(*) AS n FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri UNION ALL SELECT z AS v FROM tri
  ) GROUP BY v)
SELECT verts.v AS id, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS triangles
FROM verts LEFT JOIN cnt ON cnt.v = verts.v
UNION ALL
SELECT CAST(-1 AS BIGINT) AS id, (SELECT count(*) FROM tri) AS triangles
"""


def q_triangles_merged(spark, sf_dir):
    """K4 through BOTH kernel entry points in one driver row: the
    per-vertex counts (kernels/triangles.triangle_count_per_vertex) plus
    the global triangle_count as an id=-1 sentinel row."""
    per = q_triangle_per_vertex(spark, sf_dir)
    tot = q_triangle_count(spark, sf_dir)
    return per.unionByName(
        tot.select(
            F.lit(-1).cast("long").alias("id"),
            F.col("n_triangles").alias("triangles"),
        )
    )


def _with_variants(sql: str, variants: list[str]) -> str:
    """Tag an oracle's rows with each variant label (cross join) — the
    oracle counterpart of a query that runs two equivalent kernel variants
    and must produce identical rows for each."""
    vals = ", ".join(f"('{v}')" for v in variants)
    return (
        f"WITH __base AS MATERIALIZED ({sql})\n"
        f"SELECT v.variant AS variant, b.* FROM __base b "
        f"CROSS JOIN (VALUES {vals}) AS v(variant)"
    )


def q_sssp_dag(spark, sf_dir):
    """Bounded SSSP (reference cost semantics, unit lengths) from the
    smallest customer over the tripartite DAG, cutoff 1.5."""
    from .graph import SparkDiGraph
    from .operators.sssp import shortest_paths

    e = tri_edges(spark, sf_dir)
    g = SparkDiGraph.from_edge_df(spark, e)
    src = _read(spark, sf_dir, "orders").agg(F.min("o_custkey")).collect()[0][0]
    gen = shortest_paths(g, str(src), cutoff=1.5)
    out = gen.dists_df().select("node", "dist")
    g.unpersist()
    return out


SQL_SSSP_DAG = """
WITH RECURSIVE edges AS ({tri}),
srcv AS (SELECT min(o_custkey) AS s FROM orders),
walk(node, dist) AS (
  SELECT e.dst, 0.0 AS dist FROM edges e, srcv WHERE e.src = srcv.s
  UNION ALL
  SELECT e.dst, w.dist + 1.0 FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist + 1.0 <= 1.5
)
SELECT node, min(dist) AS dist FROM walk GROUP BY node
""".format(tri=TRI_EDGES_SQL)


def q_sssp_csr_dag(spark, sf_dir):
    """Same query as sssp_dag but through the CSR-blocked block-centric
    kernel — both must match the recursive-CTE oracle."""
    from .graph import SparkDiGraph
    from .operators.sssp import source_seeds
    from .operators.sssp_csr import bounded_sssp_csr
    from .session import local_df

    e = tri_edges(spark, sf_dir)
    g = SparkDiGraph.from_edge_df(spark, e)
    src = _read(spark, sf_dir, "orders").agg(F.min("o_custkey")).collect()[0][0]
    seeds = source_seeds(
        g.edges_w, local_df(spark, [(0, int(src), 0.0)], "qid long, sid long, ioff double")
    )
    state = bounded_sssp_csr(spark, g.edges_w, seeds, 1.5, num_blocks=8)
    out = state.filter(F.col("node") != int(src)).select("node", "dist")
    out = out.localCheckpoint(eager=True)
    g.unpersist()
    return out


def q_ubodt_dag(spark, sf_dir):
    """Bounded all-pairs (cost columns) over the tripartite DAG, thresh 1.5."""
    from .graph import SparkDiGraph
    from .operators.ubodt import build_ubodt

    e = tri_edges(spark, sf_dir)
    g = SparkDiGraph.from_edge_df(spark, e)
    out = build_ubodt(g, 1.5).select("source", "target", "cost")
    out = out.localCheckpoint(eager=True)
    g.unpersist()
    return out


SQL_UBODT_DAG = """
WITH RECURSIVE edges AS ({tri}),
walk(source, node, dist) AS (
  SELECT src, dst, 0.0 AS dist FROM edges
  UNION ALL
  SELECT w.source, e.dst, w.dist + 1.0 FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist + 1.0 <= 1.5
)
SELECT source, node AS target, min(dist) AS cost FROM walk
WHERE node <> source GROUP BY source, node
""".format(tri=TRI_EDGES_SQL)


GEO_EDGES_SQL = """
  SELECT 100 + n_nationkey AS src, n_regionkey AS dst FROM nation
  UNION
  SELECT 1000 + s_suppkey AS src, 100 + s_nationkey AS dst FROM supplier
"""


def _geo_edges(spark, sf_dir):
    """GEO_EDGES_SQL in Spark: the supplier->nation->region containment
    graph."""
    nation = _read(spark, sf_dir, "nation")
    supplier = _read(spark, sf_dir, "supplier")
    return (
        nation.select(
            (F.lit(100) + F.col("n_nationkey")).cast("long").alias("src"),
            F.col("n_regionkey").cast("long").alias("dst"),
        )
        .unionByName(
            supplier.select(
                (F.lit(1000) + F.col("s_suppkey")).cast("long").alias("src"),
                (F.lit(100) + F.col("s_nationkey")).cast("long").alias("dst"),
            )
        )
        .distinct()
    )


def q_cc_blocked_geo(spark, sf_dir):
    """Same containment graph, block-centric CC (CSR-kernel reuse) — must
    match the identical recursive-closure oracle as the two-phase run."""
    from .kernels.components import connected_components

    return connected_components(_geo_edges(spark, sf_dir), algorithm="blocked").state


def q_cc_full_geo(spark, sf_dir):
    """Connected components run to FULL convergence (two-phase star
    algorithm) on the supplier->nation->region containment graph — small
    enough that the DuckDB oracle can take the recursive transitive
    closure."""
    from .kernels.components import connected_components

    return connected_components(_geo_edges(spark, sf_dir), algorithm="twophase").state


SQL_CC_FULL_GEO = f"""
WITH RECURSIVE edges AS ({GEO_EDGES_SQL}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM sym
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON s.src = r.b
)
SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
"""


# --------------------------------------------------- reference goldens
def _graph1(spark):
    from .graph import SparkDiGraph

    nodes = [("w1", 10.0), ("w2", 15.0), ("w5", 15.0), ("w3", 10.0),
             ("w4", 20.0), ("w6", 3.0), ("w7", 10.0)]
    edges = [("w1", "w2"), ("w1", "w3"), ("w2", "w5"), ("w3", "w4"),
             ("w4", "w6"), ("w6", "w7"), ("w5", "w7")]
    return SparkDiGraph.from_lists(spark, nodes, edges)


def q_ref_sssp(spark, sf_dir):
    from .operators.sssp import shortest_paths

    g = _graph1(spark)
    gen = shortest_paths(g, "w1", cutoff=200.0)
    rows = [(n, d) for d, n in gen.destinations()]
    g.unpersist()
    return spark.createDataFrame(rows, "node string, dist double")


SQL_REF_SSSP = """
SELECT * FROM (VALUES ('w2', 0.0), ('w3', 0.0), ('w4', 10.0), ('w5', 15.0),
                      ('w6', 30.0), ('w7', 30.0)) AS t(node, dist)
"""


def q_ref_ubodt(spark, sf_dir):
    from .operators.ubodt import build_ubodt

    g = _graph1(spark)
    out = build_ubodt(g, 100.0)
    out = out.localCheckpoint(eager=True)
    g.unpersist()
    return out


SQL_REF_UBODT = """
SELECT * FROM (VALUES
 (1, 2, 2, 1, 0.0), (1, 3, 3, 1, 0.0), (1, 4, 3, 3, 10.0), (1, 5, 2, 2, 15.0),
 (1, 7, 2, 5, 30.0), (1, 6, 3, 4, 30.0), (2, 5, 5, 2, 0.0), (2, 7, 5, 5, 15.0),
 (3, 4, 4, 3, 0.0), (3, 6, 4, 4, 20.0), (3, 7, 4, 6, 23.0), (4, 6, 6, 4, 0.0),
 (4, 7, 6, 6, 3.0), (5, 7, 7, 5, 0.0), (6, 7, 7, 6, 0.0)
) AS t(source, target, source_next, target_prev, cost)
"""


def q_ref_zigzag(spark, sf_dir):
    from .operators.zigzag import shortest_zigzag_path

    g = _graph1(spark)
    gen = shortest_zigzag_path(g, "w4", cutoff=30)
    rows = [(n, d, dist) for (n, d), dist in sorted(gen.dists().items())]
    g.unpersist()
    return spark.createDataFrame(rows, "node string, direction int, dist double")


SQL_REF_ZIGZAG = """
SELECT * FROM (VALUES
 ('w1', -1, 20.0), ('w1', 1, 10.0), ('w2', -1, 10.0), ('w2', 1, 18.0),
 ('w3', -1, 10.0), ('w3', 1, 0.0), ('w4', -1, 0.0), ('w4', 1, 0.0),
 ('w5', -1, 18.0), ('w5', 1, 3.0), ('w6', -1, 0.0), ('w6', 1, 3.0),
 ('w7', -1, 3.0), ('w7', 1, 13.0)
) AS t(node, direction, dist)
"""


def q_ref_all_paths(spark, sf_dir):
    from .operators.paths import all_paths_from

    g = _graph1(spark)
    paths = all_paths_from(g, "w1", cutoff=25.0, offset=5.0)
    rows = [
        (" > ".join(p.nodes), p.dist, p.start_offset, p.end_offset) for p in paths
    ]
    g.unpersist()
    return spark.createDataFrame(
        rows, "path string, dist double, start_offset double, end_offset double"
    )


SQL_REF_ALL_PATHS = """
SELECT * FROM (VALUES
 ('w1 > w2 > w5', 25.0, 5.0, 5.0),
 ('w1 > w3 > w4', 25.0, 5.0, 10.0)
) AS t(path, dist, start_offset, end_offset)
"""


def q_ref_bindings(spark, sf_dir):
    from .operators.bindings import encode_bindings, shortest_path_to_bindings

    g = _graph1(spark)
    b = encode_bindings(g, {"w3": [(1, 3, "obj1")], "w7": [(3, 4, "obj2")]})
    bwd, fwd = shortest_path_to_bindings(g, "w3", 50.0, b, offset=5.0)
    rows = [
        ("backward", " > ".join(bwd.nodes), bwd.dist, bwd.binding[0]),
        ("forward", " > ".join(fwd.nodes), fwd.dist, fwd.binding[0]),
    ]
    g.unpersist()
    return spark.createDataFrame(
        rows, "direction string, path string, dist double, binding_node string"
    )


SQL_REF_BINDINGS = """
SELECT * FROM (VALUES
 ('backward', 'w3', 2.0, 'w3'),
 ('forward', 'w3 > w4 > w6 > w7', 31.0, 'w7')
) AS t(direction, path, dist, binding_node)
"""


# -------------------------------------------------------- pages ingest
N_CONTRACT_PAGES = 60


def q_pages_edges(spark, sf_dir):
    from .sources.pages import pages_to_edges
    from .sources.pages_synth import synth_pages

    pages = synth_pages(spark, N_CONTRACT_PAGES)
    return pages_to_edges(pages).select("src_url", "dst_url")


def _sql_pages_edges() -> str:
    from .sources.pages_synth import expected_edges

    rows = sorted(expected_edges(N_CONTRACT_PAGES))
    values = ",\n ".join(f"('{a}', '{b}')" for a, b in rows)
    return f"SELECT * FROM (VALUES\n {values}\n) AS t(src_url, dst_url)"


# ------------------------------------------------- documents pipeline
def q_doc_tokens(spark, sf_dir):
    from .functions.text import token_count

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
    )


SQL_DOC_TOKENS = """
SELECT doc_id,
       len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
       length(text) AS n_chars_text
FROM documents
"""


def q_doc_dedup(spark, sf_dir):
    """Exercise the real exact-dedup operator (xxhash64 fingerprint
    groups); the oracle groups by the normalized text itself — identical
    groups barring a 64-bit hash collision."""
    from .functions.dedup import exact_duplicates

    docs = _read(spark, sf_dir, "documents")
    return exact_duplicates(docs)


SQL_DOC_DEDUP = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt FROM documents),
g AS (SELECT nt, min(doc_id) AS keep_id, count(*) AS n FROM norm GROUP BY nt)
SELECT norm.doc_id, g.keep_id FROM norm JOIN g USING (nt)
WHERE g.n > 1 AND norm.doc_id <> g.keep_id
"""


JACCARD_THRESHOLD = 0.2


def q_doc_near_dup(spark, sf_dir):
    """Exact word-3-shingle Jaccard pairs >= threshold via inverted-index
    join (complete: J>0 requires a shared shingle)."""
    from .functions.dedup import shingles_col
    from .functions.text import token_count

    docs = _read(spark, sf_dir, "documents").filter(
        token_count(F.col("text")) >= 3
    )
    sh = docs.select(
        F.col("doc_id").alias("id"), F.explode(shingles_col(F.col("text"), 3)).alias("s")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("a"), "s")
    b = sh.select(F.col("id").alias("b"), "s")
    shared = (
        a.join(b, "s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    j = (
        shared.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
        .select(
            "a",
            "b",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias("jac"),
        )
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
    )
    return j.select("a", "b", F.round("jac", 6).alias("jaccard"))


SQL_DOC_NEAR_DUP = f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) >= 3),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM d),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id)
SELECT a, b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
"""


TEXTF_STOPWORDS_SQL = "['the','of','and','to','a','in','is','it','you','that','he','was','for','on','are','as','with','his','they','at','be','this','have','from','or','had','by','not','word','but','what','some','we','can','out','other']"


def q_text_features(spark, sf_dir):
    """The full text-analysis column stack (token counts, BPE-ish counts,
    stopword/punct ratios, mean word length, composite quality, lang
    heuristic) — pure JVM column expressions, oracled in plain SQL."""
    from .functions.text import (
        bpe_token_count,
        lang_guess,
        mean_word_length,
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count,
    )

    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(stopword_ratio(t), 6).alias("sw_ratio"),
        F.round(punct_ratio(t), 6).alias("p_ratio"),
        F.round(mean_word_length(t), 6).alias("mean_wlen"),
        F.round(quality_score(t), 6).alias("quality"),
        lang_guess(t).alias("lang_guess"),
    )


SQL_TEXT_FEATURES = f"""
WITH f AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
         ELSE 0.0 END AS pr
  FROM documents),
g AS (
  SELECT doc_id, text, toks, pr,
    len(toks) AS n_tokens,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> list_contains({{sw}}, x))) * 1.0 / len(toks)
         ELSE 0.0 END AS sw,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
         ELSE 0.0 END AS mwl,
    CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
         WHEN len(list_filter(toks, x -> list_contains({{sw}}, x))) >= 2 THEN 'en'
         ELSE 'other' END AS lang_guess
  FROM f)
SELECT doc_id, n_tokens, n_bpe_tokens,
       round(sw, 6) AS sw_ratio,
       round(pr, 6) AS p_ratio,
       round(mwl, 6) AS mean_wlen,
       round(least(length(text) / 200.0, 1.0) * 0.3
             + least(sw * 4.0, 1.0) * 0.3
             + (1.0 - least(pr * 5.0, 1.0)) * 0.2
             + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.3 END) * 0.2,
             6) AS quality,
       lang_guess
FROM g
""".replace("{sw}", TEXTF_STOPWORDS_SQL)


def q_embed_near_dup(spark, sf_dir):
    """Embedding-space near-duplicate pairs: LSH bucket candidates +
    exact-cosine threshold (seeded deterministic function; frozen sf0.01
    golden)."""
    from .functions.similarity import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    dim = len(emb.head()["embedding"])
    out = embedding_near_dup_pairs(emb, dim=dim, threshold=0.25, num_planes=6)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))


def q_lang_counts(spark, sf_dir):
    return (
        _read(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


SQL_LANG_COUNTS = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"


def q_quality_filter(spark, sf_dir):
    from .functions.text import punct_ratio, token_count

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    ).filter((F.col("n_tokens") >= 30) & (F.col("punct_ratio") <= 0.05))


SQL_QUALITY_FILTER = """
WITH f AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
         ELSE 0.0 END AS pr
  FROM documents)
SELECT doc_id, n_tokens, round(pr, 6) AS punct_ratio FROM f
WHERE n_tokens >= 30 AND pr <= 0.05
"""


# ------------------------------------------------ embeddings pipeline
def q_embed_topk(spark, sf_dir):
    from .functions.similarity import cosine_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    out = cosine_topk(emb, queries, k=5)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


SQL_EMBED_TOPK = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.qid, e.vec_id,
    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
ranked AS (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
  FROM pairs)
SELECT qid, vec_id, round(cosine, 6) AS cosine, rank FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------- events / SQL
def q_event_windows(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "60 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


SQL_EVENT_WINDOWS = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 3) AS total_value
FROM events GROUP BY 1, 2
"""


def q_sessions(spark, sf_dir):
    # native session windows: a user's events merge while each is less
    # than 30 minutes after the last
    ev = _read(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


SQL_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts, value,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events, round(sum(value), 3) AS total_value
FROM sess GROUP BY user_id, sid
"""


def q_revenue_agg(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_REVENUE_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """Top-10 spenders. The ranking is a bounded top-k, so it runs as
    ``orderBy().limit(10)`` (TakeOrderedAndProject: per-partition top-10,
    driver merge) — never a global ``row_number`` window, whose
    SinglePartition exchange would pull every customer through one task at
    10^9-customer scale. Ranks are assigned driver-side on the 10-row
    result and the tiny ranked side is broadcast into the customer join."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    tot = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        F.count("*").alias("n_orders"),
    )
    top10 = tot.orderBy(
        F.col("total_spent").desc(), F.col("o_custkey").asc()
    ).limit(10).collect()
    ranked = spark.createDataFrame(
        [
            (r["o_custkey"], r["total_spent"], r["n_orders"], i + 1)
            for i, r in enumerate(top10)
        ],
        "custkey long, total_spent double, n_orders long, rank int",
    )
    return (
        cust.join(F.broadcast(ranked), cust["c_custkey"] == ranked["custkey"])
        .select("custkey", "c_name", "total_spent", "n_orders", "rank")
    )


SQL_TOP_CUSTOMERS = """
WITH tot AS (
  SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS total_spent,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT custkey, total_spent, n_orders,
         row_number() OVER (ORDER BY total_spent DESC, custkey ASC) AS rank
  FROM tot)
SELECT custkey, c_name, total_spent, n_orders, rank
FROM ranked JOIN customer ON c_custkey = custkey WHERE rank <= 10
"""


# -------------------------------------------- generated-SQL oracles
LPA_ITERS = 5


def _sql_lpa() -> str:
    """Fixed-round synchronous LPA: per round each vertex adopts the most
    frequent neighbor label (ties -> smallest); rounds beyond convergence
    are no-ops, so LPA_ITERS rounds == the kernel's early-stopped state."""
    rounds = []
    prev = "r0"
    for i in range(1, LPA_ITERS + 1):
        rounds.append(
            f"""w{i} AS MATERIALIZED (
  SELECT id, l AS new_label FROM (
    SELECT s.dst AS id, r.label AS l, count(*) AS cnt,
           row_number() OVER (PARTITION BY s.dst
                              ORDER BY count(*) DESC, r.label ASC) AS rk
    FROM sym s JOIN {prev} r ON r.id = s.src
    GROUP BY s.dst, r.label
  ) WHERE rk = 1),
r{i} AS MATERIALIZED (
  SELECT r.id, coalesce(w.new_label, r.label) AS label
  FROM {prev} r LEFT JOIN w{i} w ON w.id = r.id)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({TRI_EDGES_SQL}),
sym AS MATERIALIZED (SELECT src, dst FROM (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) WHERE src <> dst),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
r0 AS (SELECT id, id AS label FROM verts),
{','.join(rounds)}
SELECT id, label FROM {prev}
"""


CC_SHORTCUT_ROUNDS = 8


def _sql_cc_converged(rounds: int = CC_SHORTCUT_ROUNDS) -> str:
    """Full-convergence CC oracle: hash-min + pointer-jump shortcut
    (label <- min(label, label(label))) per round — O(log diameter)
    rounds, so ``rounds`` generations reach the fixpoint on any graph of
    diameter < ~2^rounds. Independent of the two-phase star algorithm the
    Spark side runs; both must produce component = min reachable id."""
    steps = []
    prev = "r0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""n{i} AS MATERIALIZED (
  SELECT r.id, least(r.label, coalesce(min(rn.label), r.label)) AS label
  FROM {prev} r
  LEFT JOIN sym s ON s.dst = r.id
  LEFT JOIN {prev} rn ON rn.id = s.src
  GROUP BY r.id, r.label),
r{i} AS MATERIALIZED (
  SELECT n.id, least(n.label, p.label) AS label
  FROM n{i} n JOIN n{i} p ON p.id = n.label)"""
        )
        prev = f"r{i}"
    return f"""
WITH edges AS ({TRI_EDGES_SQL}),
sym AS MATERIALIZED (SELECT src, dst FROM (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) WHERE src <> dst),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
r0 AS (SELECT id, id AS label FROM verts),
{','.join(steps)}
SELECT id, label AS component FROM {prev}
"""


ZZ_DAG_ROUNDS = 28
ZZ_DAG_CUTOFF = 2.5


def _sql_zigzag_dag(rounds: int = ZZ_DAG_ROUNDS) -> str:
    """Independent zigzag oracle: the doubled-state transition system
    (forward/backward moves, sibling transfers, length-cost flips with
    seed-flip exclusion) built in plain SQL, then ``rounds`` generations of
    sparse Bellman-Ford min-relaxation under the cutoff — enough rounds to
    pass the state graph's hop diameter; extra rounds are idempotent."""
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT se.b AS node, d.dist + se.w AS dist
    FROM {prev} d JOIN se ON se.a = d.node
    WHERE d.dist + se.w <= {ZZ_DAG_CUTOFF}
  ) GROUP BY node)"""
        )
        prev = f"d{i}"
    return f"""
WITH tri AS ({TRI_EDGES_SQL}),
orders_e AS (SELECT src, dst FROM tri WHERE src < 20),
parts_e AS (SELECT t.src, t.dst FROM tri t WHERE t.src IN (SELECT dst FROM orders_e)),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
  SELECT * FROM orders_e UNION ALL SELECT * FROM parts_e)),
srcv AS (SELECT min(src) AS s FROM orders_e),
sib_p AS (SELECT DISTINCT e1.src AS x, e2.src AS y
          FROM e e1 JOIN e e2 ON e1.dst = e2.dst WHERE e1.src <> e2.src),
sib_n AS (SELECT DISTINCT e1.dst AS x, e2.dst AS y
          FROM e e1 JOIN e e2 ON e1.src = e2.src WHERE e1.dst <> e2.dst),
verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
seeds AS (SELECT s * 2 + 1 AS st FROM srcv UNION ALL SELECT s * 2 FROM srcv),
se AS MATERIALIZED (
  SELECT src * 2 + 1 AS a, dst * 2 AS b, 0.0 AS w FROM e
  UNION ALL SELECT dst * 2, src * 2 + 1, 0.0 FROM e
  UNION ALL SELECT x * 2 + 1, y * 2 + 1, 0.0 FROM sib_p
  UNION ALL SELECT x * 2, y * 2, 0.0 FROM sib_n
  UNION ALL SELECT v * 2, v * 2 + 1, 1.0 FROM verts
            WHERE v * 2 NOT IN (SELECT st FROM seeds)
  UNION ALL SELECT v * 2 + 1, v * 2, 1.0 FROM verts
            WHERE v * 2 + 1 NOT IN (SELECT st FROM seeds)
),
d0 AS (SELECT st AS node, 0.0 AS dist FROM seeds),
{','.join(steps)}
SELECT CAST(node // 2 AS VARCHAR) AS node,
       CASE WHEN node % 2 = 1 THEN 1 ELSE -1 END AS direction,
       dist
FROM {prev}
"""


# ------------------------------------------------ rows-only (no oracle)
def q_cc_converged(spark, sf_dir):
    from .kernels.components import connected_components

    return connected_components(tri_edges(spark, sf_dir), algorithm="twophase").state


def q_lpa(spark, sf_dir):
    from .kernels.lpa import label_propagation

    e = tri_edges(spark, sf_dir)
    return label_propagation(e, max_iter=5).state


def q_minhash_pairs(spark, sf_dir):
    from .functions.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, threshold=0.2)
    return out.select("a", "b", F.round("jaccard_est", 6).alias("jaccard_est"))


def q_simhash_pairs(spark, sf_dir):
    from .functions.dedup import simhash_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=6)


def q_ann_lsh(spark, sf_dir):
    from .functions.similarity import ann_topk_lsh

    emb = _read(spark, sf_dir, "embeddings")
    dim = len(emb.head()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
    )
    out = ann_topk_lsh(emb, queries, dim=dim, k=5, num_planes=4)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


N_CONTRACT_MEDIA = 48
MEDIA_FEATURE_DIM = 8


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: deterministic k-means inverted file (quantized centroids ->
    partition-invariant), nprobe nearest-centroid candidates, exact-cosine
    re-rank (seeded deterministic function; frozen sf0.01 golden)."""
    from .functions.similarity import ann_topk_ivf

    emb = _read(spark, sf_dir, "embeddings")
    dim = len(emb.head()["embedding"])
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
    )
    out = ann_topk_ivf(emb, queries, dim=dim, k=5, n_centroids=16, nprobe=3)
    return out.select("qid", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: synth media (binary payload + typed
    meta) -> Arrow mapInPandas feature extraction -> canonicalizable
    exploded shape (media_id, kind, dim_idx, value)."""
    from .functions.multimodal import extract_features, synth_media

    media = synth_media(spark, N_CONTRACT_MEDIA)
    feats = extract_features(media, fake=True, feature_dim=MEDIA_FEATURE_DIM)
    return feats.select(
        "media_id",
        "kind",
        F.posexplode("features").alias("dim_idx", "_v"),
    ).select("media_id", "kind", "dim_idx", F.round("_v", 6).alias("value"))


def _sql_media_features() -> str:
    """Independent pure-Python replay of the deterministic fake decode
    (functions/multimodal.py synth_media + extract_features), emitted as a
    VALUES oracle."""
    import hashlib
    import math

    rows = []
    for i in range(N_CONTRACT_MEDIA):
        h = hashlib.blake2b(f"42|{i}".encode(), digest_size=32).digest()
        kind = ["image", "audio", "video"][i % 3]
        payload = (h * ((64 + i % 128) // 32 + 1))[: 64 + i % 128]
        d = hashlib.blake2b(payload, digest_size=MEDIA_FEATURE_DIM * 4).digest()
        v = [
            float(int.from_bytes(d[4 * j : 4 * j + 4], "little"))
            for j in range(MEDIA_FEATURE_DIM)
        ]
        norm = math.sqrt(sum(x * x for x in v))
        for j, x in enumerate(v):
            rows.append((i, kind, j, round(x / norm, 6)))
    values = ",\n ".join(f"({m}, '{k}', {j}, {val!r})" for m, k, j, val in rows)
    return (
        f"SELECT media_id, kind, dim_idx, CAST(value AS DOUBLE) AS value "
        f"FROM (VALUES\n {values}\n) AS t(media_id, kind, dim_idx, value)"
    )


def q_zigzag_dag(spark, sf_dir):
    """Zigzag destinations over a small slice of the tripartite graph
    (custkey<20) — two-way reachability with sibling transfers."""
    return _zigzag_dag_impl(spark, sf_dir, use_csr=False)


def _zigzag_dag_impl(spark, sf_dir, use_csr: bool):
    from .graph import SparkDiGraph
    from .operators.zigzag import shortest_zigzag_path

    # keep it bounded: orders of the first customers only
    orders = tri_edges(spark, sf_dir).filter(F.col("src") < 20)
    parts = tri_edges(spark, sf_dir).join(
        orders.select(F.col("dst").alias("src")), "src", "left_semi"
    )
    e = orders.unionByName(parts)
    g = SparkDiGraph.from_edge_df(spark, e)
    src = str(orders.agg(F.min("src")).collect()[0][0])
    gen = shortest_zigzag_path(g, src, cutoff=2.5, use_csr=use_csr)
    rows = [(n, d, dist) for (n, d), dist in sorted(gen.dists().items())]
    g.unpersist()
    return spark.createDataFrame(rows, "node string, direction int, dist double")


def q_zigzag_csr_dag(spark, sf_dir):
    """Same zigzag testdata query through the block-centric CSR kernel —
    must match the identical fixed-round Bellman-Ford SQL oracle."""
    return _zigzag_dag_impl(spark, sf_dir, use_csr=True)


# ------------------------------------------------- merged variant rows
# One driver row per distinct oracle: each runs BOTH equivalent kernel
# variants (plain + block-centric CSR) and tags the rows, so the driver
# hash-checks both against the variant-tagged oracle. Keeps the distinct
# registered-query count within the driver's recorded-row budget without
# dropping any surface (round-3 lesson: 53 registered, 50 recorded).


def q_sssp_dag_merged(spark, sf_dir):
    a = q_sssp_dag(spark, sf_dir).withColumn("variant", F.lit("label"))
    b = q_sssp_csr_dag(spark, sf_dir).withColumn("variant", F.lit("csr"))
    return a.unionByName(b)


def q_cc_geo_merged(spark, sf_dir):
    a = q_cc_full_geo(spark, sf_dir).withColumn("variant", F.lit("twophase"))
    b = q_cc_blocked_geo(spark, sf_dir).withColumn("variant", F.lit("blocked"))
    return a.unionByName(b)


def q_zigzag_dag_merged(spark, sf_dir):
    a = q_zigzag_dag(spark, sf_dir).withColumn("variant", F.lit("plain"))
    b = q_zigzag_csr_dag(spark, sf_dir).withColumn("variant", F.lit("csr"))
    return a.unionByName(b)


def build_queries() -> dict:
    """Registry order = driver record order. Unique testdata-scale and
    pipeline surfaces first; graph1/graph2 fixture goldens last — if a
    driver cap ever truncates the tail again, the rows that fall off are
    fixture rows that pytest also covers, not unique surfaces."""
    from .contract_ref import ref_queries

    out = _base_queries()
    out.update(ref_queries())
    return out


def _base_queries() -> dict:
    return {
        "degrees": q_degrees,
        "cc_hashmin_k4": q_cc_hashmin_k,
        "cc_full_geo": q_cc_geo_merged,
        "pagerank_5iter": q_pagerank_fixed,
        "triangle_per_vertex": q_triangles_merged,
        "sssp_dag": q_sssp_dag_merged,
        "ubodt_dag": q_ubodt_dag,
        "ref_sssp_graph1": q_ref_sssp,
        "ref_ubodt_graph1": q_ref_ubodt,
        "ref_zigzag_graph1": q_ref_zigzag,
        "ref_all_paths_graph1": q_ref_all_paths,
        "ref_bindings_graph1": q_ref_bindings,
        "pages_edges": q_pages_edges,
        "doc_tokens": q_doc_tokens,
        "doc_dedup_exact": q_doc_dedup,
        "text_features": q_text_features,
        "embed_near_dup": q_embed_near_dup,
        "doc_near_dup_jaccard": q_doc_near_dup,
        "lang_counts": q_lang_counts,
        "quality_filter": q_quality_filter,
        "embed_topk": q_embed_topk,
        "event_windows": q_event_windows,
        "sessions": q_sessions,
        "revenue_agg": q_revenue_agg,
        "top_customers": q_top_customers,
        # full-convergence / seeded-hash queries (oracled via generated
        # fixed-round SQL or frozen VALUES goldens registered above)
        "cc_converged": q_cc_converged,
        "lpa_5iter": q_lpa,
        "minhash_lsh_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh_topk": q_ann_lsh,
        "ann_ivf_topk": q_ann_ivf,
        "media_features": q_media_features,
        "zigzag_dag": q_zigzag_dag_merged,
    }


def build_oracles() -> dict:
    from .contract_ref import ref_oracles

    out = _base_oracles()
    out.update(ref_oracles())
    return out


def _base_oracles() -> dict:
    return {
        "degrees": SQL_DEGREES,
        "cc_hashmin_k4": _sql_cc_hashmin(),
        "cc_full_geo": _with_variants(SQL_CC_FULL_GEO, ["twophase", "blocked"]),
        "pagerank_5iter": _sql_pagerank(),
        "triangle_per_vertex": SQL_TRIANGLES_MERGED,
        "sssp_dag": _with_variants(SQL_SSSP_DAG, ["label", "csr"]),
        "ubodt_dag": SQL_UBODT_DAG,
        "ref_sssp_graph1": SQL_REF_SSSP,
        "ref_ubodt_graph1": SQL_REF_UBODT,
        "ref_zigzag_graph1": SQL_REF_ZIGZAG,
        "ref_all_paths_graph1": SQL_REF_ALL_PATHS,
        "ref_bindings_graph1": SQL_REF_BINDINGS,
        "pages_edges": _sql_pages_edges(),
        "doc_tokens": SQL_DOC_TOKENS,
        "doc_dedup_exact": SQL_DOC_DEDUP,
        "text_features": SQL_TEXT_FEATURES,
        "doc_near_dup_jaccard": SQL_DOC_NEAR_DUP,
        "lang_counts": SQL_LANG_COUNTS,
        "quality_filter": SQL_QUALITY_FILTER,
        "embed_topk": SQL_EMBED_TOPK,
        "event_windows": SQL_EVENT_WINDOWS,
        "sessions": SQL_SESSIONS,
        "revenue_agg": SQL_REVENUE_AGG,
        "top_customers": SQL_TOP_CUSTOMERS,
        "media_features": _sql_media_features(),
        "lpa_5iter": _sql_lpa(),
        "cc_converged": _sql_cc_converged(),
        "zigzag_dag": _with_variants(_sql_zigzag_dag(), ["plain", "csr"]),
        **_seeded_goldens_oracles(),
    }


def _seeded_goldens_oracles() -> dict:
    """VALUES oracles for the seeded hash functions (MinHash/SimHash/ANN):
    pure deterministic functions of (seed, sf0.01 data), frozen by
    tools/freeze_goldens.py into goldens_sf001.py. The driver contract runs
    at sf=0.01 only (README/TESTDATA.md), which these literals pin."""
    try:
        from . import goldens_sf001 as G
    except ImportError:
        return {}
    from .contract_ref import values_sql

    return {
        "minhash_lsh_pairs": values_sql(
            G.MINHASH_PAIRS,
            [("a", "BIGINT"), ("b", "BIGINT"), ("jaccard_est", "DOUBLE")],
        ),
        "simhash_pairs": values_sql(
            G.SIMHASH_PAIRS, [("a", "BIGINT"), ("b", "BIGINT"), ("hamming", "INTEGER")]
        ),
        "ann_lsh_topk": values_sql(
            G.ANN_TOPK,
            [("qid", "BIGINT"), ("vec_id", "BIGINT"), ("cosine", "DOUBLE"), ("rank", "INTEGER")],
        ),
        "embed_near_dup": values_sql(
            G.EMBED_NEAR_DUP, [("a", "BIGINT"), ("b", "BIGINT"), ("cosine", "DOUBLE")]
        ),
        "ann_ivf_topk": values_sql(
            G.ANN_IVF_TOPK,
            [("qid", "BIGINT"), ("vec_id", "BIGINT"), ("cosine", "DOUBLE"), ("rank", "INTEGER")],
        ),
    }


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """pages-shaped end-to-end: tripartite graph -> PageRank to 1e-6 ->
    top 20 ranked nodes with kind labels."""
    from .kernels.pagerank import pagerank

    e = tri_edges(spark, sf_dir)
    res = pagerank(e, tol=1e-6, max_iter=60)
    kind = (
        F.when(F.col("id") < 1_000_000, F.lit("customer"))
        .when(F.col("id") < 2_000_000, F.lit("order"))
        .otherwise(F.lit("part"))
    )
    return (
        res.state.select("id", kind.alias("kind"), F.round("rank", 8).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("id"))
        .limit(20)
    )
