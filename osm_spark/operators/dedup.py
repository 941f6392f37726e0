"""Deduplication operators for web-text corpora.

- exact_dedup:      md5-hash groupBy (exact duplicates)
- minhash_pairs:    MinHash + LSH banding candidate pairs
- simhash:          16-bit SimHash signature
- ngram_jaccard:    exact Jaccard between doc pairs via token explode
- embedding pairs:  see osm_spark.operators.similarity

All hashing is cross-engine-reproducible: token → int via the first 8
hex chars of md5 (Spark ``conv(substr(md5(t),1,8),16,10)``; DuckDB
``('0x'||substr(md5(t),1,8))::BIGINT``), then affine permutations mod
the Mersenne prime 2^31-1 in exact int64 arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE = 2_147_483_647  # 2^31 - 1
# deterministic affine permutation constants (a_j, b_j), a_j < 2^30
MINHASH_PERMS = [
    (976369, 1982627), (403133, 402137), (921023, 1189181), (488801, 6121),
    (683003, 903649), (266083, 1303021), (727369, 202121), (133723, 77377),
]


def token_hash(col: Column) -> Column:
    """token → int64 via md5 prefix (identical in the DuckDB oracle)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_md5, canonical_id, n_dups)."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def tokens(df: DataFrame) -> DataFrame:
    """Distinct whitespace tokens per doc (any run of \\s splits, so
    newline/tab-separated words do not fuse; oracle twin:
    regexp_split_to_array(text, '\\s+'))."""
    return df.select(
        "doc_id", F.explode(F.split(F.col("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "").distinct()


def minhash_signatures(df: DataFrame) -> DataFrame:
    """Per-doc MinHash signature, one column per permutation."""
    toks = tokens(df).withColumn(
        "h", token_hash(F.col("tok")) % F.lit(MERSENNE)
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE)).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


MAX_LSH_BUCKET = 1000  # all-pairs ceiling: <=N^2/2 candidates per bucket


def minhash_pairs(df: DataFrame,
                  max_bucket: int | None = MAX_LSH_BUCKET) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the signature.

    Bands of two consecutive minhashes; pairs (a < b),
    distinct.  The classic shingle→minhash→band→bucket-join pipeline.

    Hot-bucket guard (web corpora have degenerate boilerplate clusters —
    one 100k-doc bucket would be 10^10 all-pairs candidates, and salting
    cannot shrink a genuinely quadratic group): buckets larger than
    ``max_bucket`` switch from all-pairs to STAR pairing — every member
    pairs with the bucket's min id.  That keeps output linear in the
    bucket while preserving exactly the connectivity
    ``dedup_components`` needs (any two members stay joined through the
    min), at the cost that a hot bucket's non-star pairs are not
    individually verified; callers doing pairwise verification should
    treat hot-bucket groups as "cluster then verify against the
    canonical doc".  ``max_bucket=None`` disables the guard (the oracle
    twin).
    """
    key = "doc_id"
    sig = minhash_signatures(df)
    n_bands = len(MINHASH_PERMS) // 2
    bands = sig.select(
        key,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "_",
                        *[F.col(f"mh{2 * b + r}").cast("string")
                          for r in range(2)],
                    ).alias("bkey"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select(key, "bb.band", "bb.bkey")
    if max_bucket is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "bkey")
        bands = bands.withColumn("bsz", F.count("*").over(w)).withColumn(
            "bmin", F.min(key).over(w))
        star = (bands.filter(F.col("bsz") > max_bucket)
                .select(F.col("bmin").alias("id_a"),
                        F.col(key).alias("id_b"))
                .filter(F.col("id_a") < F.col("id_b")))
        bands = bands.filter(F.col("bsz") <= max_bucket).select(
            key, "band", "bkey")
    else:
        star = None
    left = bands.withColumnRenamed(key, "id_a")
    right = bands.withColumnRenamed(key, "id_b")
    pairs = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct()


def simhash16(df: DataFrame) -> DataFrame:
    """16-bit SimHash from token hashes: bit i set iff
    sum(+1/-1 over tokens by bit i of token hash) > 0."""
    toks = tokens(df).withColumn("h", token_hash(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(16):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def ngram_jaccard_consecutive(df: DataFrame) -> DataFrame:
    """Exact token-set Jaccard between each doc and its successor id —
    a bounded, deterministic probe of the Jaccard kernel."""
    key = "doc_id"
    toks = tokens(df)
    t1 = toks.withColumnRenamed(key, "id_a").withColumn("id_b", F.col("id_a") + 1)
    t2 = toks.withColumnRenamed(key, "id_b")
    inter = (
        t1.join(t2, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = toks.groupBy(key).agg(F.count("*").alias("n"))
    sa = sizes.withColumnRenamed(key, "id_a").withColumnRenamed("n", "n_a")
    sb = sizes.withColumnRenamed(key, "id_b").withColumnRenamed("n", "n_b")
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): for every node u, connect each strictly
    LARGER neighbour to min(N(u) ∪ {u})."""
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small, then connect every
    smaller-or-equal neighbour (and u itself) to min(N(u) ∪ {u})."""
    o = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    j = o.join(o.groupBy("u").agg(F.min("v").alias("m")), "u")
    return (
        j.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(j.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 30) -> DataFrame:
    """Dedup clusters: connected components of the near-dup pair graph
    by alternating large-star / small-star rounds (Kiveris et al.) —
    converges in O(log D) rounds rather than the O(D) of plain label
    propagation, so even adversarially long near-dup chains finish in
    ~log2(n) passes.  One localCheckpoint + one small agg action per
    round pair; convergence detected by an (edge count, checksum)
    fixpoint on the canonically-oriented edge set.

    At the fixpoint every component is a star centred at its minimum
    member, stored as (member, min) edges.  Returns (doc_id, comp) with
    comp = min member id of the component (singletons map to
    themselves).  ``edges`` are (id_a, id_b) pairs over ``nodes``'
    ``doc_id``.  Raises if ``max_iter`` round pairs did not converge
    instead of silently returning partial labels.
    """
    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    converged = False
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        # one action per round pair: count + order-insensitive checksum
        # over the canonical orientation (small-star output is already
        # large→small, so (u, v) is canonical)
        cur = tuple(
            e.agg(
                F.count("*"),
                F.sum(F.hash("u", "v").cast("long")),
                F.sum("u"), F.sum("v"),
            ).first()
        )
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} "
            f"large-star/small-star round pairs")
    comp = e.select(F.col("u").alias("doc_id"), F.col("v").alias("comp"))
    return (
        nodes.select("doc_id")
        .join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("comp", F.col("doc_id")).alias("comp"))
    )
