"""Driver-contract tests: entry() smoke, oracle parity for a fast subset
(the full set runs via tools/check_oracles.py), and pytest-only coverage
of the rows-only operators (lsh_topk, fingerprint)."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from osm_spark.operators import knn as KNN
from tools.check_oracles import TABLES, table_hash

SF_DIR = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# fast subset: one per family; full set in tools/check_oracles.py
ORACLE_SUBSET = ["r15_group_fold", "g06_pip_tag", "g22_tile_assign",
                 "t_minhash_pairs", "s_cosine_topk", "x3_x4_ch_local",
                 "x5_ch_shortcuts", "x7_ch_path", "g17_knn"]
# g17_knn's 32 features take the broadcast path; run it once more on the
# cell-ring path
ORACLE_CASES = [(n, {}) for n in ORACLE_SUBSET] + [
    ("g17_knn", {"BROADCAST_FEATURE_LIMIT": 0})]


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["url", "feature_id", "x", "y"]
    assert any(r.feature_id is not None for r in rows)
    assert all(r.x is not None and r.y is not None for r in rows)


def test_queries_all_have_oracle_or_marked(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query callable is importable and returns a DataFrame lazily
    assert len(qs) >= 25


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name, limits", ORACLE_CASES,
                         ids=ORACLE_SUBSET + ["g17_knn_cells"])
def test_oracle_parity_subset(spark, duck, monkeypatch, name, limits):
    for attr, value in limits.items():
        monkeypatch.setattr(KNN, attr, value)
    sdf = entry_mod.queries()[name](spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entry_mod.oracle_sql()[name])
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(res.columns)
    assert len(srows) == len(drows)
    assert table_hash(srows, sdf.columns) == table_hash(drows, res.columns)


def test_lsh_topk_recall_vs_exact(spark):
    from osm_spark.operators.similarity import cosine_topk, lsh_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(150)
    exact = {(r.vec_id, r.neighbor_id) for r in cosine_topk(emb, k=1).collect()}
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in lsh_topk(emb, k=1).collect()
    }
    # every vector got neighbors; multi-table LSH recall must be strong
    assert {v for v, _ in approx} == {v for v, _ in exact}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.6, recall


def test_fingerprint_matches_python_oracle(spark):
    from osm_spark.operators.textops import fingerprint_udf
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    got = {r.doc_id: r.fp for r in docs.select(
        "doc_id", fingerprint_udf()(F.col("text")).alias("fp")).collect()}
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

    def oracle(s: str) -> int:
        h = 0
        for b in s.encode("utf-8"):
            h = (h * 1000003 + b) % (1 << 64)
        return h - (1 << 64) if h >= (1 << 63) else h

    for did, t in texts.items():
        assert got[did] == oracle(t), did


def test_near_dup_bucketed_recall_and_precision(spark):
    """The LSH-bucketed near-dup path returns a SUBSET of the all-pairs
    pair set (exact verify => perfect precision) with high recall on the
    fixture embeddings."""
    from osm_spark.operators.similarity import cosine_near_dup_bucketed

    from kernel_oracles import cosine_near_dup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in
             cosine_near_dup(emb, threshold=0.4).collect()}
    bucketed = {(r.id_a, r.id_b) for r in
                cosine_near_dup_bucketed(emb, threshold=0.4).collect()}
    assert bucketed <= exact            # precision 1.0 by construction
    assert exact                        # fixture has near-dup pairs
    assert len(bucketed) / len(exact) >= 0.8   # 2-bit x 8-table LSH recall
