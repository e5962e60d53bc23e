"""Training-data pipeline operators over /root/testdata tables:
dedup, similarity, text analysis, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    d.count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()
    e.count()
    return e


def test_text_features(docs):
    from networkx_graph_spark.functions.text import text_features

    feats = text_features(docs).collect()
    by_id = {r["doc_id"]: r for r in feats}
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i in list(raw)[:20]:
        want_tokens = len(raw[i].split())
        assert by_id[i]["n_tokens"] == want_tokens, i
        assert 0.0 <= by_id[i]["quality"] <= 1.0
        assert 0.0 <= by_id[i]["stopword_ratio"] <= 1.0
    # fingerprint equality iff normalized text equality
    fp = {}
    for i, t in raw.items():
        fp.setdefault(" ".join(t.lower().split()), []).append(i)
    for group in fp.values():
        hashes = {by_id[i]["fingerprint"] for i in group}
        assert len(hashes) == 1


def test_exact_dedup(spark):
    from networkx_graph_spark.functions.dedup import exact_duplicates

    d = spark.createDataFrame(
        [
            (1, "hello world foo"),
            (2, "Hello  World   foo"),  # same normalized
            (3, "something else"),
            (4, "hello world foo"),
        ],
        "doc_id long, text string",
    )
    dupes = {(r["doc_id"], r["keep_id"]) for r in exact_duplicates(d).collect()}
    assert dupes == {(2, 1), (4, 1)}


def test_minhash_lsh(spark):
    from networkx_graph_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different text about spark shuffle partitions and joins"
    d = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    got = {(r["a"], r["b"]): r["jaccard_est"] for r in pairs.collect()}
    assert (1, 4) in got and got[(1, 4)] == 1.0
    assert (1, 2) in got or (2, 4) in got  # near-dup found
    assert all(3 not in p for p in got)
    ver = ngram_jaccard_pairs(d, pairs.select("a", "b"))
    vg = {(r["a"], r["b"]): r["jaccard"] for r in ver.collect()}
    assert vg[(1, 4)] == 1.0


def test_simhash(spark):
    from networkx_graph_spark.functions.dedup import simhash_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today ok"
    near = base.replace("today", "tomorrow")
    far = "completely different text about spark shuffle partitions and joins"
    d = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(d, max_hamming=6).collect()}
    assert got.get((1, 4)) == 0
    assert (1, 3) not in got and (2, 3) not in got and (3, 4) not in got


def test_cosine_topk_vs_numpy(emb, spark):
    import numpy as np

    from networkx_graph_spark.functions.similarity import cosine_topk

    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    qids = sorted(vecs)[:3]
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in vecs[q]]) for q in qids],
        "qid long, qvec array<double>",
    )
    got = cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    for q in qids:
        sims = []
        for vid, v in vecs.items():
            if vid == q:
                continue
            c = float(v @ vecs[q] / (np.linalg.norm(v) * np.linalg.norm(vecs[q])))
            sims.append((-c, vid))
        sims.sort()
        want = [vid for _, vid in sims[:5]]
        got_ids = [vid for _, vid, _ in sorted(by_q[q])]
        assert got_ids == want, q
        for rank, vid, cos in by_q[q]:
            assert math.isclose(cos, -sims[rank - 1][0], rel_tol=1e-9)


def test_ann_lsh_recall(emb, spark):
    import numpy as np

    from networkx_graph_spark.functions.similarity import ann_topk_lsh, cosine_topk

    dim = len(emb.head()["embedding"])
    rows = emb.limit(5).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows],
        "qid long, qvec array<double>",
    )
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = ann_topk_lsh(emb, queries, dim=dim, k=5, num_planes=2).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["qid"], set()).add(r["vec_id"])
    ap = {}
    for r in approx:
        ap.setdefault(r["qid"], set()).add(r["vec_id"])
    # recall over the bucketed candidates should be non-trivial
    recalls = [len(ex[q] & ap.get(q, set())) / 5 for q in ex]
    assert sum(recalls) / len(recalls) >= 0.3


def test_embedding_near_dup(spark):
    from networkx_graph_spark.functions.similarity import embedding_near_dup_pairs

    d = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(d, dim=4, threshold=0.99).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_multimodal_plumbing(spark):
    import pytest as _pytest

    from networkx_graph_spark.functions.multimodal import (
        decode_image,
        extract_features,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = extract_features(media, fake=True, feature_dim=8).collect()
    assert len(feats) == 30
    assert all(len(r["features"]) == 8 for r in feats)
    # deterministic across runs
    feats2 = extract_features(synth_media(spark, 30), fake=True, feature_dim=8).collect()
    assert {r["media_id"]: r["features"] for r in feats} == {
        r["media_id"]: r["features"] for r in feats2
    }
    with _pytest.raises(NotImplementedError):
        decode_image(b"xx")


def test_simhash_vectorized_completeness(spark):
    """The blocked candidate join must find EVERY pair within max_hamming
    (pigeonhole over max_hamming+1 blocks), and the signature plan must be
    fully JVM-side (no Arrow/Python nodes)."""
    from pyspark.sql import functions as F

    from networkx_graph_spark.functions.dedup import simhash_pairs, simhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = simhash_signatures(docs)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert not any(
        k in plan for k in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
    )
    sigs = sigs.persist()
    a = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("hb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming")
        )
        .filter(F.col("hamming") <= 6)
    )
    want = sorted(tuple(r) for r in brute.collect())
    got = sorted(tuple(r) for r in simhash_pairs(docs, max_hamming=6).collect())
    sigs.unpersist()
    assert want == got and len(got) > 0


def test_simhash_empty_docs(spark):
    from networkx_graph_spark.functions.dedup import simhash_signatures

    d = spark.createDataFrame(
        [(1, "hello world hello"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {r["id"]: r["simhash"] for r in simhash_signatures(d).collect()}
    assert got[2] == 0 and got[3] == 0 and got[1] != 0


def test_ann_multi_probe_recall(spark):
    """Hamming-1 multi-probe must not lose candidates (superset of the
    exact-bucket probe) and should raise recall vs the exact top-k."""
    from pyspark.sql import functions as F

    from networkx_graph_spark.functions.similarity import ann_topk_lsh, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.head()["embedding"])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["qid"], r["vec_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(mp):
        got = {
            (r["qid"], r["vec_id"])
            for r in ann_topk_lsh(
                emb, queries, dim=dim, k=5, num_planes=4, multi_probe=mp
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    # multi-probe candidates are a superset of the exact-bucket probe, so
    # recall is monotone; absolute recall is data-dependent (these synth
    # embeddings are near-random, the hardest case for LSH)
    assert r1 >= r0
    assert r1 > 0.0


def test_ann_ivf_recall_invariants(spark):
    """IVF ANN: probing every centroid degenerates to exact search
    (recall 1.0); recall is monotone in nprobe."""
    from pyspark.sql import functions as F

    from networkx_graph_spark.functions.similarity import ann_topk_ivf, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.head()["embedding"])
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["qid"], r["vec_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }

    def got(nprobe):
        return {
            (r["qid"], r["vec_id"])
            for r in ann_topk_ivf(
                emb, queries, dim=dim, k=5, n_centroids=8, nprobe=nprobe
            ).collect()
        }

    g1, g4, gall = got(1), got(4), got(8)
    r = lambda g: len(g & exact) / len(exact)  # noqa: E731
    assert gall == exact  # all probes == exact search
    assert r(g1) <= r(g4) <= 1.0


def test_topk_rerank_matches_bruteforce_window(emb, spark):
    """_topk_rerank (shared by cosine/LSH/IVF re-rank) returns exactly
    the global-window top-k rows, partition-count-invariant (the
    WindowGroupLimit Partial stage truncates per partition; result must
    not depend on how the scored rows were partitioned)."""
    from pyspark.sql import Window

    from networkx_graph_spark.functions.similarity import (
        _topk_rerank,
        cosine_col,
    )

    rows = emb.collect()
    qids = sorted(r["vec_id"] for r in rows)[:3]
    queries = spark.createDataFrame(
        [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in rows
            if r["vec_id"] in qids
        ],
        "qid long, qvec array<double>",
    )

    def scored_with(parts):
        return (
            emb.repartition(parts)
            .join(F.broadcast(queries))
            .select(
                F.col("qid"),
                F.col("vec_id"),
                cosine_col(
                    F.col("embedding").cast("array<double>"), F.col("qvec")
                ).alias("cosine"),
            )
            .filter(F.col("qid") != F.col("vec_id"))
        )

    k = 5
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    want = sorted(
        (r["qid"], r["vec_id"], r["rank"])
        for r in scored_with(1)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    )
    for parts in (2, 8):
        got = sorted(
            (r["qid"], r["vec_id"], r["rank"])
            for r in _topk_rerank(scored_with(parts), k).collect()
        )
        assert got == want, parts
