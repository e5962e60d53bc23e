"""Similarity search over embedding columns (array<float>).

- **Brute-force cosine top-k** (the correctness baseline): queries are a
  small broadcast side; dot products run JVM-side via higher-order array
  functions (``zip_with`` + ``aggregate``) inside whole-stage codegen;
  top-k per query is TWO-stage (``_topk_rerank``): a narrow per-partition
  local top-k then a tiny global merge. At 100 TB this is one
  broadcast-join scan — the only shuffle of the big side is ≤ k rows per
  (query, partition), never the full scored corpus.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  (seeded, partition-invariant — planes derived from blake2b(seed, plane,
  dim)), candidates restricted to matching buckets (with optional
  multi-probe via extra signature permutations), verified by exact
  cosine. Recall/bucket-size trades with ``num_planes``.
- **Embedding near-duplicate pairs**: same LSH buckets + cosine ≥
  threshold — the embedding-space dedup pass.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine_col(a, b):
    d = _dot(a, b)
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def _topk_rerank(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query over ``(qid, vec_id, cosine)`` — the shared
    re-rank tail of ``cosine_topk`` / ``ann_topk_lsh`` / ``ann_topk_ivf``.

    The ``row_number`` window + ``rank <= k`` filter is NOT the
    single-reducer-per-query plan it reads as: Catalyst's
    ``InferWindowGroupLimit`` rewrites it into a TWO-stage physical plan —

        Window (rank over <= k·P rows/query)
          WindowGroupLimit [qid], row_number, k, **Final**
            Exchange hashpartitioning(qid)          <- shuffles k·P rows
              WindowGroupLimit [qid], row_number, k, **Partial**
                Sort [qid, cosine DESC, vec_id]     <- per-partition, narrow
                  <scored scan>

    i.e. every map partition is locally sorted and truncated to at most
    ``k`` rows per qid BEFORE the per-qid exchange, so the shuffle and the
    final per-query task see k·P candidates, never the full scored corpus
    (exactly the "per-partition local top-k + tiny global merge" shape,
    executed JVM-side inside codegen). ``tests/test_plans.py::
    test_cosine_topk_two_stage_plan`` pins the Partial-below-Exchange
    shape so a refactor (e.g. switching to ``rank()`` over a different
    expression, or losing the rank filter) cannot silently reintroduce a
    full-corpus window. A hand-rolled Arrow ``mapInPandas`` local top-k
    stage was measured 6-14x SLOWER than this plan (8M scored rows,
    local[16]: 5-7 s native vs 31-73 s Arrow) — the narrow stage must not
    leave the JVM. Ties break on vec_id for determinism."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "cosine", "rank")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
    exclude_self: bool = True,
) -> DataFrame:
    """(qid, vec_id, cosine, rank): exact top-k by cosine per query.
    ``queries`` is broadcast (small); ties break on vec_id for
    determinism."""
    cross = embeddings.join(F.broadcast(queries))
    cos = cosine_col(F.col(vec_col).cast("array<double>"), F.col(q_vec_col).cast("array<double>"))
    scored = cross.select(
        F.col(q_id_col).alias("qid"),
        F.col(id_col).alias("vec_id"),
        cos.alias("cosine"),
    )
    if exclude_self:
        scored = scored.filter(F.col("qid") != F.col("vec_id"))
    return _topk_rerank(scored, k)


def auto_num_planes(n_vectors: int, target_bucket_size: int = 256) -> int:
    """Corpus-size-aware hyperplane count: expected bucket population is
    ``n / 2^planes``, so ``planes = ceil(log2(n / B))`` keeps candidate
    generation bounded. This matters quadratically for near-dup pair
    enumeration (within-bucket pairs are O(B²) — a FIXED plane count goes
    quadratic as the corpus grows: 12 planes is 4096 buckets, fine at 10^5
    vectors, hopeless at 10^10) and linearly for top-k probing. Recall is
    then recovered structurally (multi-probe / more bands), not by letting
    buckets grow. Floor of 4 keeps tiny corpora from degenerating to a
    handful of mega-buckets with no selectivity."""
    if n_vectors <= 0:
        return 4
    return max(4, math.ceil(math.log2(max(1.0, n_vectors / target_bucket_size))))


def auto_n_centroids(n_vectors: int, nprobe: int = 4) -> int:
    """IVF centroid count: the classic ``k ≈ sqrt(n)`` balances the
    broadcast centroid scan per query (O(k·dim)) against per-cluster
    candidate size (O(n/k)); with ``nprobe`` probes each query touches
    ``nprobe·n/k`` vectors. Clamped to [8, 65536]: beyond 64k centroids
    the Lloyd partial-sum collect (k×dim doubles) stops being
    driver-trivial and a hierarchical (IVF-in-IVF) fit is the right tool."""
    if n_vectors <= 0:
        return 8
    return int(min(65536, max(8, round(math.sqrt(n_vectors)))))


def _planes(seed: int, num_planes: int, dim: int):
    """Deterministic pseudo-random hyperplanes: unit-free gaussian-ish
    values from hashed bytes (Box-Muller over blake2b-derived uniforms)."""
    import numpy as np

    out = np.empty((num_planes, dim), dtype=np.float64)
    for p in range(num_planes):
        for d0 in range(0, dim, 2):
            h = hashlib.blake2b(f"{seed}|{p}|{d0}".encode(), digest_size=16).digest()
            u1 = (int.from_bytes(h[:8], "big") + 1) / (2**64 + 2)
            u2 = int.from_bytes(h[8:], "big") / (2**64)
            r = math.sqrt(-2.0 * math.log(u1))
            out[p, d0] = r * math.cos(2 * math.pi * u2)
            if d0 + 1 < dim:
                out[p, d0 + 1] = r * math.sin(2 * math.pi * u2)
    return out


def lsh_signatures(
    embeddings: DataFrame,
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket BIGINT): random-hyperplane sign signature packed into a
    single long — one Arrow pass over the vectors."""
    import numpy as np

    planes = _planes(seed, num_planes, dim)

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            signs = (mat @ planes.T) >= 0  # (n, planes)
            weights = (1 << np.arange(num_planes, dtype=np.uint64))
            buckets = (signs.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({"id": pdf[id_col], "bucket": buckets})

    return embeddings.select(id_col, vec_col).mapInPandas(
        _sig, schema="id long, bucket long"
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; exact
    cosine re-ranks. Fewer planes → bigger buckets → higher recall.

    ``multi_probe=1`` also probes every bucket at Hamming distance 1 from
    the query signature (the vector ALMOST on a hyperplane lands across it
    half the time — flipping one sign bit recovers those misses). Probes
    stay on the broadcast-tiny query side: num_planes+1 buckets per query;
    the big side is still one bucket equi-join, never a cross product."""
    if multi_probe not in (0, 1):
        raise ValueError("multi_probe supports 0 (exact bucket) or 1")
    sig_e = lsh_signatures(embeddings, dim, num_planes, seed, id_col, vec_col)
    sig_q = lsh_signatures(queries, dim, num_planes, seed, q_id_col, q_vec_col)
    e = embeddings.join(sig_e.withColumnRenamed("id", id_col), id_col)
    q = queries.join(sig_q.withColumnRenamed("id", q_id_col), q_id_col)
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(num_planes)
            ],
        )
        q = q.select(
            q_id_col, q_vec_col, F.explode(probes).alias("qbucket")
        )
    else:
        q = q.withColumnRenamed("bucket", "qbucket")
    cand = (
        e.join(F.broadcast(q.select(q_id_col, "qbucket")),
               F.col("bucket") == F.col("qbucket"))
        .filter(F.col(q_id_col) != F.col(id_col))
        .select(q_id_col, id_col)
        .distinct()
        .join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
    )
    cos = cosine_col(
        F.col(vec_col).cast("array<double>"), F.col(q_vec_col).cast("array<double>")
    )
    scored = cand.select(
        F.col(q_id_col).alias("qid"), F.col(id_col).alias("vec_id"), cos.alias("cosine")
    )
    return _topk_rerank(scored, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cosine): embedding-space near-duplicates — LSH bucket
    equi-join candidates, exact-cosine verified at ``threshold``."""
    sig = lsh_signatures(embeddings, dim, num_planes, seed, id_col, vec_col)
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).join(sig, "id")
    a = e.select(F.col("id").alias("a"), F.col("v").alias("va"), "bucket")
    b = e.select(F.col("id").alias("b"), F.col("v").alias("vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("a") < F.col("b"))
    cos = cosine_col(F.col("va"), F.col("vb"))
    return (
        pairs.select("a", "b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# ------------------------------------------------------------------- IVF
def ivf_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster): nearest centroid by cosine — one Arrow pass, numpy
    matmul against the broadcast (k, dim) centroid matrix; ties break to
    the lowest cluster index (numpy argmax picks the first maximum)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cluster = (mat @ Cn.T).argmax(axis=1).astype(np.int32)
            yield pd.DataFrame({"id": pdf[id_col], "cluster": cluster})

    return embeddings.select(id_col, vec_col).mapInPandas(
        _assign, schema="id long, cluster int"
    )


def ivf_fit(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 64,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic k-means (Lloyd) centroids as a numpy (k, dim) array.

    Determinism under ANY partitioning/parallelism: init picks the first
    ``n_centroids`` vectors in ``xxhash64(id, seed)`` order (a pure
    function of ids), and every updated centroid is QUANTIZED to 6
    decimals — the per-partition FP summation-order jitter (~1e-15) of the
    distributed mean vanishes under quantization, so assignments (and any
    frozen golden built on them) are partition-invariant. Empty clusters
    keep their previous centroid."""
    import numpy as np

    init_rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    C = np.round(
        np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in init_rows]), 6
    )
    for _ in range(iters):
        assign = ivf_assign(embeddings, C, id_col, vec_col)
        j = embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("_v")
        ).join(assign, "id")
        sums = (
            j.select("cluster", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        newC = C.copy()
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(r["cluster"], [None] * dim)[r["pos"]] = r["s"] / r["n"]
        for c, vals in acc.items():
            newC[c] = [v if v is not None else C[c][i] for i, v in enumerate(vals)]
        C = np.round(newC, 6)
    return C


def ann_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 32,
    nprobe: int = 4,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """IVF approximate top-k: k-means-partitioned inverted file; each query
    probes its ``nprobe`` nearest centroids and exact cosine re-ranks the
    candidates. ``nprobe == n_centroids`` degenerates to exact search.
    At scale the assignment column is computed once and stored with the
    vectors (bucketed parquet on ``cluster``), making each query a
    partition-pruned scan of nprobe/k of the data."""
    import numpy as np

    C = ivf_fit(embeddings, dim, n_centroids, iters, seed, id_col, vec_col)
    assign = ivf_assign(embeddings, C, id_col, vec_col).withColumnRenamed("id", id_col)
    e = embeddings.select(id_col, vec_col).join(assign, id_col)

    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def _probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[q_vec_col]])
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ Cn.T
            order = np.argsort(-sims, kind="stable", axis=1)[:, :nprobe]
            rows = [
                (int(q), int(c))
                for q, cs in zip(pdf[q_id_col], order)
                for c in cs
            ]
            yield pd.DataFrame(rows, columns=["qid", "cluster"])

    qprobes = queries.select(q_id_col, q_vec_col).mapInPandas(
        _probes, schema="qid long, cluster int"  # qid is BIGINT everywhere
    ).withColumnRenamed("qid", q_id_col)
    cand = (
        e.join(F.broadcast(qprobes), "cluster")
        .filter(F.col(q_id_col) != F.col(id_col))
        .select(q_id_col, id_col)
        .distinct()
        .join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
    )
    cos = cosine_col(
        F.col(vec_col).cast("array<double>"), F.col(q_vec_col).cast("array<double>")
    )
    scored = cand.select(
        F.col(q_id_col).alias("qid"), F.col(id_col).alias("vec_id"), cos.alias("cosine")
    )
    return _topk_rerank(scored, k)
