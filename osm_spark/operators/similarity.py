"""Similarity search over embedding vectors (array<float> column).

- ``cosine_topk``: exact brute-force top-k neighbors.  Dot products run
  over **quantized int64 components** (round(x * 1e6)) so partial-sum
  order cannot change the result — bit-reproducible across engines and
  across partitionings; the final cosine is one exact float division.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets shrink
  the candidate set before the same exact ranking (approximate recall).

Both avoid per-row Python entirely: posexplode + equi-join + sum is
whole-stage-codegen JVM work; at 100 TB the self-join is bounded by
bucketing (lsh) or a broadcast of the query side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SAMPLE_A = 2654435761          # Knuth multiplicative scramble
SAMPLE_M = 1 << 31             # (key%M)*A < 2^63: exact in int64

QUANT = 1_000_000


def _quantized_components(emb: DataFrame, key: str = "vec_id",
                          col: str = "embedding") -> DataFrame:
    # floor (not round): identical across engines regardless of half-rule
    return emb.select(
        key, F.posexplode(col).alias("idx", "v")
    ).withColumn("q", F.floor(F.col("v").cast("double") * QUANT).cast("long")).drop("v")


def _norms(comp: DataFrame, key: str) -> DataFrame:
    return comp.groupBy(key).agg(F.sum(F.col("q") * F.col("q")).alias("norm2"))


def _with_cosine(dots: DataFrame, norms: DataFrame, key: str,
                 a_name: str, b_name: str) -> DataFrame:
    """Attach the exact-arithmetic cosine to (a_name, b_name, dot) rows:
    int64 quantized dot over int64 norms, float only at the final
    divide.  THE single home of the module's exactness contract — every
    top-k / near-dup variant and its oracle twin go through here."""
    na = norms.select(F.col(key).alias(a_name), F.col("norm2").alias("na"))
    nb = norms.select(F.col(key).alias(b_name), F.col("norm2").alias("nb"))
    return (
        dots.join(na, a_name).join(nb, b_name)
        .withColumn("cosine", F.col("dot") / (F.sqrt("na") * F.sqrt("nb")))
    )


def _pair_cosines(cand: DataFrame, comp: DataFrame, norms: DataFrame,
                  key: str, a_name: str, b_name: str) -> DataFrame:
    """Cosine for an explicit candidate-pair set (the scale paths:
    LSH buckets, IVF cells) — dot products only for candidate pairs."""
    a = comp.select(F.col(key).alias(a_name), "idx", F.col("q").alias("qa"))
    b = comp.select(F.col(key).alias(b_name), "idx", F.col("q").alias("qb"))
    dots = (
        cand.join(a, [a_name]).join(b, [b_name, "idx"])
        .groupBy(a_name, b_name)
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    return _with_cosine(dots, norms, key, a_name, b_name)


def _topk(cos: DataFrame, k: int) -> DataFrame:
    """(vec_id, neighbor_id, cosine) -> deterministic rank <= k."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(emb: DataFrame, k: int = 3, key: str = "vec_id",
                col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for every vector (self-join).

    Output: (vec_id, neighbor_id, cosine, rank); ties broken by
    neighbor id (deterministic).
    """
    comp = _quantized_components(emb, key, col)
    norms = _norms(comp, key)
    a = comp.select(F.col(key).alias("vec_id"), "idx", F.col("q").alias("qa"))
    b = comp.select(F.col(key).alias("neighbor_id"), "idx", F.col("q").alias("qb"))
    dots = (
        a.join(b, "idx")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .groupBy("vec_id", "neighbor_id")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    return _topk(_with_cosine(dots, norms, key, "vec_id", "neighbor_id"), k)


def cosine_near_dup(emb: DataFrame, threshold: float = 0.95,
                    key: str = "vec_id", col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine)
    with cosine >= threshold.  Same exact quantized arithmetic as
    cosine_topk so the pair set is engine-reproducible.

    ALL-PAIRS (N²·dim before the groupBy) — the exact small-N oracle
    twin.  The scale path is ``cosine_near_dup_bucketed``: identical
    verify arithmetic over LSH-candidate pairs only."""
    comp = _quantized_components(emb, key, col)
    norms = _norms(comp, key)
    a = comp.select(F.col(key).alias("id_a"), "idx", F.col("q").alias("qa"))
    b = comp.select(F.col(key).alias("id_b"), "idx", F.col("q").alias("qb"))
    dots = (
        a.join(b, "idx")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    return (
        _with_cosine(dots, norms, key, "id_a", "id_b")
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_centroids(emb: DataFrame, n_cells: int = 16, n_iter: int = 5,
                  sample: int = 2048, seed: int = 42,
                  key: str = "vec_id", col: str = "embedding") -> np.ndarray:
    """Deterministic IVF coarse quantizer: Lloyd k-means on a seeded
    sample, driver-side numpy (the training set is a sample — tiny
    regardless of table size; assignment below is the distributed part).

    The sample is the top-``sample`` rows under a deterministic KEY
    SCRAMBLE ((key mod 2^31) * 2654435761 mod 2^31 — injective on
    key mod 2^31), not the key-ordered prefix: ids usually correlate
    with content (ordered ingest, per-source ranges), and training on
    a prefix would model only that slice's distribution.  A scrambled
    top-n is a uniform-ish sample, runs as TakeOrdered (no full sort),
    and stays reproducible in the numpy oracle twin."""
    # pmod, not %: Spark's % truncates toward zero, so a negative key would
    # yield a negative scramble and diverge from a floored-mod numpy/DuckDB
    # twin (same sign bug the hash geocode, geocode.id_geo_sql, fixed)
    scramble = F.pmod(F.pmod(F.col(key), F.lit(SAMPLE_M)) * F.lit(SAMPLE_A),
                      F.lit(SAMPLE_M))
    rows = (emb.select(key, col).orderBy(scramble, key)
            .limit(sample).collect())
    X = np.array([np.asarray(r[1], np.float64) for r in rows])
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(len(C)):
            m = a == c
            if m.any():
                C[c] = X[m].mean(axis=0)
    return C


def ivf_assign(emb: DataFrame, centroids: np.ndarray, nprobe: int = 1,
               key: str = "vec_id", col: str = "embedding") -> DataFrame:
    """(key, cell): nearest-centroid assignment (nprobe cells per vector),
    vectorized pandas UDF over the broadcast centroid matrix."""
    from pyspark.sql.functions import pandas_udf

    bc = emb.sparkSession.sparkContext.broadcast(centroids)
    npb = min(nprobe, len(centroids))

    @pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        C = bc.value
        X = np.stack([np.asarray(x, np.float64) for x in v])
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        top = np.argsort(d, axis=1)[:, :npb]
        return pd.Series([r.astype(int).tolist() for r in top])

    return emb.select(key, F.explode(cells(F.col(col))).alias("cell"))


def ivf_topk(emb: DataFrame, k: int = 3, n_cells: int = 16, nprobe: int = 2,
             key: str = "vec_id", col: str = "embedding") -> DataFrame:
    """Approximate top-k via IVF cells: candidates = pairs sharing any of
    the query's ``nprobe`` nearest cells; same exact quantized ranking as
    cosine_topk.  The candidate-set shrink is ~n_cells/nprobe² — the
    inverted-file scale path alongside ``lsh_topk``."""
    C = ivf_centroids(emb, n_cells, key=key, col=col)
    assign = ivf_assign(emb, C, nprobe=nprobe, key=key, col=col)
    comp = _quantized_components(emb, key, col)
    norms = _norms(comp, key)
    ca = assign.select(F.col(key).alias("vec_id"), "cell")
    cb = assign.select(F.col(key).alias("neighbor_id"), "cell")
    cand = (
        ca.join(cb, "cell")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    return _topk(
        _pair_cosines(cand, comp, norms, key, "vec_id", "neighbor_id"), k)


def lsh_planes(dim: int, n_planes: int, table: int = 0) -> list[list[int]]:
    """±1 (Rademacher) hyperplanes from md5 parity — the SimHash form of
    random-hyperplane LSH; same locality-sensitivity guarantee as
    Gaussian planes for angular distance (Charikar 2002).  md5 (not a
    linear congruence, whose low bit is the degenerate alternating
    pattern) gives well-mixed signs AND lets an engine-independent
    oracle (DuckDB md5()) recompute the exact same buckets."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{table}_{p}_{i}".encode())
                     .hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucket_col(col: str, planes: list[list[int]]):
    """Sign-of-dot-product bucket id over QUANT-quantized components —
    exact int64 arithmetic via zip_with/aggregate (JVM-side, no shuffle,
    no float accumulation order)."""
    qarr = F.transform(
        F.col(col).cast("array<double>"),
        lambda v: F.floor(v * QUANT).cast("long"),
    )
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(int(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(qarr, arr, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_buckets(emb: DataFrame, n_planes: int = 4, n_tables: int = 4,
                key: str = "vec_id", col: str = "embedding",
                dim: int | None = None) -> DataFrame:
    """(key, table, bucket): multi-table LSH bucket assignment — one JVM
    projection, no shuffle.  ``dim`` hoistable to avoid the plan-time
    ``first()`` in production pipelines."""
    if dim is None:
        dim = len(emb.select(col).first()[0])
    return emb.select(
        key,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_bucket_col(col, lsh_planes(dim, n_planes, table=t)).alias("bucket"),
                )
                for t in range(n_tables)
            ])
        ).alias("tb"),
    ).select(key, "tb.table", "tb.bucket")


def cosine_near_dup_bucketed(emb: DataFrame, threshold: float = 0.95,
                             n_planes: int = 2, n_tables: int = 8,
                             key: str = "vec_id", col: str = "embedding",
                             dim: int | None = None) -> DataFrame:
    """Near-duplicate pairs at scale: candidates = pairs sharing an LSH
    bucket in ANY table (bucket equi-join — no all-pairs self-join in
    the plan), then the SAME exact quantized cosine verify as
    ``cosine_near_dup``.  Approximate by LSH recall
    (1-(1-p^b)^L); recall vs the all-pairs twin is pytest-gated."""
    buckets = lsh_buckets(emb, n_planes, n_tables, key, col, dim)
    ba = buckets.select(F.col(key).alias("id_a"), "table", "bucket")
    bb = buckets.select(F.col(key).alias("id_b"), "table", "bucket")
    cand = (
        ba.join(bb, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    comp = _quantized_components(emb, key, col)
    norms = _norms(comp, key)
    return (
        _pair_cosines(cand, comp, norms, key, "id_a", "id_b")
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_topk(emb: DataFrame, k: int = 3, n_planes: int = 4, n_tables: int = 4,
             key: str = "vec_id", col: str = "embedding",
             dim: int | None = None) -> DataFrame:
    """Approximate top-k: rank only within random-hyperplane buckets.

    Multi-table LSH: ``n_tables`` independent plane sets; a pair is a
    candidate if it shares a bucket in ANY table (recall ≈ 1-(1-p)^L).
    Same exact quantized ranking as cosine_topk, restricted to candidate
    peers — the candidate-set shrink that makes 100 TB ANN tractable
    (bucket count 2^n_planes scales the self-join down quadratically;
    the table loop multiplies cost linearly, recall exponentially).
    """
    buckets = lsh_buckets(emb, n_planes, n_tables, key, col, dim)
    comp = _quantized_components(emb, key, col)
    norms = _norms(comp, key)
    ba = buckets.select(F.col(key).alias("vec_id"), "table", "bucket")
    bb = buckets.select(F.col(key).alias("neighbor_id"), "table", "bucket")
    cand = (
        ba.join(bb, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    return _topk(
        _pair_cosines(cand, comp, norms, key, "vec_id", "neighbor_id"), k)
