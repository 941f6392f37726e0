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
# hyperplanes per LSH table (2^LSH_PLANES buckets): the recall test gates
# lsh_topk's top-1 recall > 0.6 at this count; 4 planes gave 0.41
LSH_PLANES = 2


def _quantized_components(emb: DataFrame) -> DataFrame:
    # floor (not round): identical across engines regardless of half-rule
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("idx", "v")
    ).withColumn("q", F.floor(F.col("v").cast("double") * QUANT).cast("long")).drop("v")


def _norms(comp: DataFrame) -> DataFrame:
    return comp.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("norm2"))


def _with_cosine(dots: DataFrame, norms: DataFrame,
                 a_name: str, b_name: str) -> DataFrame:
    """Attach the exact-arithmetic cosine to (a_name, b_name, dot) rows:
    int64 quantized dot over int64 norms, float only at the final
    divide.  THE single home of the module's exactness contract — every
    top-k / near-dup variant and its oracle twin go through here."""
    na = norms.select(F.col("vec_id").alias(a_name), F.col("norm2").alias("na"))
    nb = norms.select(F.col("vec_id").alias(b_name), F.col("norm2").alias("nb"))
    return (
        dots.join(na, a_name).join(nb, b_name)
        .withColumn("cosine", F.col("dot") / (F.sqrt("na") * F.sqrt("nb")))
    )


def _pair_cosines(cand: DataFrame, comp: DataFrame, norms: DataFrame,
                  a_name: str, b_name: str) -> DataFrame:
    """Cosine for an explicit candidate-pair set (the scale paths:
    LSH buckets, IVF cells) — dot products only for candidate pairs."""
    a = comp.select(F.col("vec_id").alias(a_name), "idx", F.col("q").alias("qa"))
    b = comp.select(F.col("vec_id").alias(b_name), "idx", F.col("q").alias("qb"))
    dots = (
        cand.join(a, [a_name]).join(b, [b_name, "idx"])
        .groupBy(a_name, b_name)
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    return _with_cosine(dots, norms, a_name, b_name)


def _topk(cos: DataFrame, k: int) -> DataFrame:
    """(vec_id, neighbor_id, cosine) -> deterministic rank <= k."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (self-join).

    Output: (vec_id, neighbor_id, cosine, rank); ties broken by
    neighbor id (deterministic).
    """
    comp = _quantized_components(emb)
    norms = _norms(comp)
    a = comp.select("vec_id", "idx", F.col("q").alias("qa"))
    b = comp.select(F.col("vec_id").alias("neighbor_id"), "idx", F.col("q").alias("qb"))
    dots = (
        a.join(b, "idx")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .groupBy("vec_id", "neighbor_id")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("dot"))
    )
    return _topk(_with_cosine(dots, norms, "vec_id", "neighbor_id"), k)


def ivf_centroids(emb: DataFrame, n_cells: int = 16) -> np.ndarray:
    """Deterministic IVF coarse quantizer: five Lloyd k-means iterations
    on a 2,048-row sample from seed 42, driver-side numpy (the training
    set is a sample — tiny regardless of table size; assignment below
    is the distributed part).

    The sample is the top 2,048 rows under a deterministic KEY
    SCRAMBLE ((key mod 2^31) * 2654435761 mod 2^31 — injective on
    key mod 2^31), not the key-ordered prefix: ids usually correlate
    with content (ordered ingest, per-source ranges), and training on
    a prefix would model only that slice's distribution.  A scrambled
    top-n is a uniform-ish sample, runs as TakeOrdered (no full sort),
    and stays reproducible in the numpy oracle twin."""
    # pmod, not %: Spark's % truncates toward zero, so a negative key would
    # yield a negative scramble and diverge from a floored-mod numpy/DuckDB
    # twin (same sign bug the hash geocode, geocode.id_geo_sql, fixed)
    scramble = F.pmod(F.pmod(F.col("vec_id"), F.lit(SAMPLE_M)) * F.lit(SAMPLE_A),
                      F.lit(SAMPLE_M))
    rows = (emb.select("vec_id", "embedding").orderBy(scramble, "vec_id")
            .limit(2048).collect())
    X = np.array([np.asarray(r[1], np.float64) for r in rows])
    rng = np.random.default_rng(42)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(5):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(len(C)):
            m = a == c
            if m.any():
                C[c] = X[m].mean(axis=0)
    return C


def ivf_assign(emb: DataFrame, centroids: np.ndarray,
               nprobe: int = 1) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment (nprobe cells per vector),
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

    return emb.select("vec_id", F.explode(cells(F.col("embedding"))).alias("cell"))


def ivf_topk(emb: DataFrame, k: int = 3, n_cells: int = 16,
             nprobe: int = 2) -> DataFrame:
    """Approximate top-k via IVF cells: candidates = pairs sharing any of
    the query's ``nprobe`` nearest cells; same exact quantized ranking as
    cosine_topk.  The candidate-set shrink is ~n_cells/nprobe² — the
    inverted-file scale path alongside ``lsh_topk``."""
    C = ivf_centroids(emb, n_cells)
    assign = ivf_assign(emb, C, nprobe=nprobe)
    comp = _quantized_components(emb)
    norms = _norms(comp)
    cb = assign.select(F.col("vec_id").alias("neighbor_id"), "cell")
    cand = (
        assign.join(cb, "cell")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    return _topk(
        _pair_cosines(cand, comp, norms, "vec_id", "neighbor_id"), k)


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


def lsh_buckets(emb: DataFrame, n_tables: int, dim: int | None) -> DataFrame:
    """(vec_id, table, bucket): multi-table LSH bucket assignment over
    ``LSH_PLANES`` planes per table — one JVM projection, no shuffle.
    ``dim`` hoistable to avoid the plan-time ``first()`` in production
    pipelines."""
    if dim is None:
        dim = len(emb.select("embedding").first()[0])
    return emb.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_bucket_col("embedding", lsh_planes(dim, LSH_PLANES, table=t)).alias("bucket"),
                )
                for t in range(n_tables)
            ])
        ).alias("tb"),
    ).select("vec_id", "tb.table", "tb.bucket")


def cosine_near_dup_bucketed(emb: DataFrame, threshold: float = 0.95,
                             dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine) with
    cosine >= threshold, at scale: candidates = pairs sharing a bucket
    of ``LSH_PLANES`` planes in ANY of 8 tables (bucket equi-join — no
    all-pairs self-join in the plan), then the exact quantized cosine
    verify of ``cosine_topk``, so the pair set is engine-reproducible.
    Approximate by LSH recall (1-(1-p^b)^L); recall vs the all-pairs twin
    in ``tests/kernel_oracles.py`` is pytest-gated."""
    buckets = lsh_buckets(emb, 8, dim)
    ba = buckets.select(F.col("vec_id").alias("id_a"), "table", "bucket")
    bb = buckets.select(F.col("vec_id").alias("id_b"), "table", "bucket")
    cand = (
        ba.join(bb, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    comp = _quantized_components(emb)
    norms = _norms(comp)
    return (
        _pair_cosines(cand, comp, norms, "id_a", "id_b")
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_topk(emb: DataFrame, k: int = 3, dim: int | None = None) -> DataFrame:
    """Approximate top-k: rank only within random-hyperplane buckets.

    Multi-table LSH: 4 independent sets of ``LSH_PLANES`` planes; a pair
    is a candidate if it shares a bucket in ANY table (recall ≈
    1-(1-p)^L).  Same exact quantized ranking as cosine_topk, restricted
    to candidate peers — the candidate-set shrink that makes 100 TB ANN
    tractable (bucket count 2^LSH_PLANES scales the self-join down
    quadratically; the table loop multiplies cost linearly, recall
    exponentially).
    """
    buckets = lsh_buckets(emb, 4, dim)
    comp = _quantized_components(emb)
    norms = _norms(comp)
    ba = buckets.select("vec_id", "table", "bucket")
    bb = buckets.select(F.col("vec_id").alias("neighbor_id"), "table", "bucket")
    cand = (
        ba.join(bb, ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    return _topk(
        _pair_cosines(cand, comp, norms, "vec_id", "neighbor_id"), k)
