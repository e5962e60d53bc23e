"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The scale posture of each:

- **exact**: fingerprint → groupBy → keep min id. One shuffle on a long
  key; map-side partial agg handles hot fingerprints.
- **MinHash+LSH**: shingle → k minhashes → b bands of r rows → bucket
  equi-join on the banded signature. The bucket join is the only
  pairwise-ish step and it never materializes the full O(n²) pair space;
  skewed buckets (boilerplate-heavy corpora) hit AQE skew splitting.
- **SimHash**: 64-bit signature per doc (Arrow-vectorized numpy, one pass),
  candidate pairing on 16-bit blocks (Hamming ≤ 3 over 4 blocks ⇒ at least
  one block equal — pigeonhole), verify exact Hamming.
- **n-gram Jaccard**: exact verification used on LSH candidates (never on
  the full cross product).

All signatures are pure functions of (seed, content) — partition-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, tokens_col


# --------------------------------------------------------------- exact
def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, keep_id): docs whose normalized text already appeared;
    keep_id = the minimum doc id of the group."""
    fp = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n")
    )
    return (
        fp.join(groups.filter(F.col("n") > 1), "fp")
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(F.col(id_col), "keep_id")
    )


# ------------------------------------------------------------- shingles
def shingles_col(text, n: int = 3):
    """Word n-gram shingles of normalized text (distinct)."""
    toks = tokens_col(text)
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


# --------------------------------------------------------- minhash + LSH
def minhash_signature(docs: DataFrame, id_col="doc_id", text_col="text",
                      num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[num_hashes]).

    Shape matters: higher-order array functions block Spark's
    subexpression elimination, so k inline ``array_min(transform(...))``
    calls would re-tokenize and re-shingle the text k times. Instead:
    shingle ONCE, explode, hash each shingle string ONCE (xxhash64), then
    take k mins of cheap integer re-mixes ``xxhash64(h, i)`` in a single
    map-side-partial aggregation."""
    sh = docs.select(
        F.col(id_col).alias("id"), F.explode(shingles_col(F.col(text_col), shingle_n)).alias("s")
    ).select("id", F.xxhash64("s").alias("h"))
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"_s{i}") for i in range(num_hashes)
    ]
    return (
        sh.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[F.col(f"_s{i}") for i in range(num_hashes)]).alias("sig"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """(a, b, jaccard_est): candidate near-dup pairs from banded LSH,
    scored by full-signature agreement; filtered at ``threshold``."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, shingle_n).persist()
    sigs.count()
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[bi * r + j] for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = banded.select(F.col("id").alias("a"), "band", "bucket")
    b = banded.select(F.col("id").alias("b"), "band", "bucket")
    # dedupe candidate pairs on the narrow (a, b) key FIRST, then join the
    # signatures back — never shuffle/dedupe the 16-long arrays per pair
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .join(sigs.select(F.col("id").alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(sigs.select(F.col("id").alias("b"), F.col("sig").alias("sig_b")), "b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    out = pairs.select(
        "a", "b", (agree.cast("double") / F.lit(float(num_hashes))).alias("jaccard_est")
    )
    return out.filter(F.col("jaccard_est") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (a, b) pairs — the verification
    stage after LSH: join shingle sets in, intersect/union as array ops."""
    sh = docs.select(
        F.col(id_col).alias("id"), shingles_col(F.col(text_col), shingle_n).alias("sh")
    )
    j = (
        candidates.join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select(
        "a", "b", F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard")
    )


# --------------------------------------------------------------- simhash
def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash BIGINT): 64-bit SimHash, fully JVM-side — explode
    tokens → ``xxhash64(token)`` → per-bit majority vote (64 map-side
    partial SUM aggregations in one groupBy), signed-long reassembly
    (bit 63 contributes −2^63). No Python in the per-token path; docs with
    no tokens get signature 0."""
    all_ids = docs.select(F.col(id_col).alias("id")).distinct()
    h = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(F.col(text_col))).alias("t")
    ).select("id", F.xxhash64("t").alias("h"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(64)
    ]
    per = h.groupBy("id").agg(*aggs)
    # bit i set iff 2 * ones_count >= n_tokens
    sig = None
    for i in range(64):
        weight = F.lit(-(1 << 63)) if i == 63 else F.lit(1 << i)
        term = F.when(F.col(f"b{i}") * 2 >= F.col("n"), weight).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    per = per.select("id", sig.cast("long").alias("simhash"))
    return all_ids.join(per, "id", "left").select(
        "id", F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash")
    )


def _block_bounds(num_blocks: int) -> list[tuple[int, int]]:
    """Split 64 bits into ``num_blocks`` contiguous (start, width) blocks."""
    base, rem = divmod(64, num_blocks)
    out, start = [], 0
    for i in range(num_blocks):
        w = base + (1 if i < rem else 0)
        out.append((start, w))
        start += w
    return out


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(a, b, hamming): pairs within Hamming distance ``max_hamming``.
    Candidate generation: split the 64-bit signature into ``max_hamming+1``
    blocks — by pigeonhole, distance ≤ max_hamming implies at least one
    equal block, so an equi-join per block finds ALL such pairs without a
    cross product (complete for any max_hamming ≤ 63)."""
    num_blocks = max_hamming + 1
    if num_blocks > 64:
        raise ValueError("max_hamming must be <= 63")
    sigs = simhash_signatures(docs, id_col, text_col).persist()
    sigs.count()
    bounds = _block_bounds(num_blocks)
    blocks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        (
                            F.col("simhash")
                            if w == 64
                            else F.shiftrightunsigned("simhash", s).bitwiseAND(
                                F.lit((1 << w) - 1)
                            )
                        ).alias("val"),
                    )
                    for i, (s, w) in enumerate(bounds)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.blk", "bb.val")
    a = blocks.select(F.col("id").alias("a"), F.col("simhash").alias("ha"), "blk", "val")
    b = blocks.select(F.col("id").alias("b"), F.col("simhash").alias("hb"), "blk", "val")
    pairs = (
        a.join(b, ["blk", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return pairs.select("a", "b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
