"""Python text features (``quality_py``, ``langid_py``, the flattened
``fp``) against the JVM column expressions they replaced, and the plan
shape that lets the WARC text chain cross the Arrow boundary once."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from osm_spark.operators import textops as TX
from osm_spark.sources import warc
from osm_spark.sources import warc_fixture as WF

from kernel_oracles import executed_plan

SF_DIR = "/root/testdata/sf0.001"


# --- reference: the JVM column expressions the Python twins replaced ------


def _occurrences(text: Column, needle: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _norm_ws(text: Column) -> Column:
    return F.trim(F.regexp_replace(text, "\\s+", " "))


def _pad_ws(text: Column) -> Column:
    return F.concat(F.lit(" "), _norm_ws(text), F.lit(" "))


def _token_count(text: Column) -> Column:
    n = _norm_ws(text)
    return F.when(F.length(n) == 0, F.lit(0)).otherwise(
        _occurrences(n, " ") + 1)


def jvm_with_quality(df, text_col="text"):
    t = F.col(text_col)
    n = _norm_ws(t)
    toks = _token_count(t)
    toks_nz = F.nullif(toks, F.lit(0))
    stop = sum(_occurrences(_pad_ws(t), f" {w} ")
               for w in ["the", "a", "of", "and"])
    return (
        df.withColumn("n_chars2", F.length(t))
        .withColumn("n_tokens", toks)
        .withColumn("mean_tok_len", (F.length(n) - toks + 1) / toks_nz)
        .withColumn("stop_ratio", stop / toks_nz)
    )


def jvm_langid_col(text: Column) -> Column:
    padded = _pad_ws(text)
    scores = {
        lang: sum(_occurrences(padded, f" {w} ") for w in ws)
        for lang, ws in TX.LANG_MARKERS.items()
    }
    langs = sorted(scores)
    best = F.greatest(*[scores[lg] for lg in langs])
    out = F.lit("und")
    for lg in reversed(langs):
        out = F.when((scores[lg] == best) & (best > 0), F.lit(lg)).otherwise(out)
    return out


# --- inputs ----------------------------------------------------------------

ADVERSARIAL = [
    None, "", " ", "   ", "\t\n\r", "\x0b", "\x0c",
    "the\x0bcat", "the\x1cthe", "a\x1d of \x1fand", "of\x85the and",
    "the\xa0the the", "the　and of", "der und die", " the ",
    "the the the", " the the the ", "the  the\t\tthe\n", "a a a a a",
    "The AND Of", "THE the The", "und und der die le le et",
    "le chat et les chiens", "le et les el y los", "el y los le et les",
    "der und die the and of",
    "y", " y ", "ö é 中文 the 日本語 and", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 the 𝔱𝔢𝔵𝔱 of",
    "  leading and trailing  ", "the\x1c  the\x85\tof\xa0\xa0and",
    "\u2003the\u3000 \u2028and\x1f", " \x0b ", "\ttabs\tand\tnewlines\nof\rthe\x0cform",
    "x" * 5000 + " the " + "é" * 3000,
]

QUALITY_COLS = ["n_chars2", "n_tokens", "mean_tok_len", "stop_ratio"]


def _texts(spark) -> list:
    docs = [r.text for r in spark.read.parquet(
        f"{SF_DIR}/documents.parquet").select("text").collect()]
    warc_texts = [p["text"] for p in WF.sample_pages()]
    return docs + warc_texts + ADVERSARIAL


def _text_df(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "id long, text string")


def _rows(df, cols):
    return {r.id: tuple(r[c] for c in cols)
            for r in df.select("id", *cols).collect()}


# --- parity ------------------------------------------------------------------


def test_quality_py_twin_parity(spark):
    texts = _texts(spark)
    df = _text_df(spark, texts)
    want = _rows(jvm_with_quality(df), QUALITY_COLS)
    got_df = TX.with_quality(df)
    assert got_df.schema == jvm_with_quality(df).schema
    assert _rows(got_df, QUALITY_COLS) == want
    assert {i: TX.quality_py(t) for i, t in enumerate(texts)} == want


def test_langid_py_twin_parity(spark):
    texts = _texts(spark)
    df = _text_df(spark, texts)
    want = _rows(df.withColumn("lang", jvm_langid_col(F.col("text"))), ["lang"])
    got = _rows(df.withColumn("lang", TX.langid_col(F.col("text"))), ["lang"])
    assert got == want
    assert {i: (TX.langid_py(t),) for i, t in enumerate(texts)} == want
    # the adversarial cases reach every outcome, ties included
    assert {v for (v,) in want.values()} == {"und", "en", "de", "fr", "es"}


def _horner(s):
    if s is None:
        return None
    h = 0
    for b in s.encode("utf-8"):
        h = (h * 1000003 + b) % (1 << 64)
    return h - (1 << 64) if h >= (1 << 63) else h


def test_flattened_fingerprint_matches_horner(spark):
    """One Arrow batch holding NULLs, adjacent and trailing empty
    strings (reduceat's empty-segment trap), multi-byte and one long
    document."""
    texts = ["", "", "a", None, "é中文𝔘", "", "", "the page",
             "long " * 20_000, None, "", "x", ""]
    df = _text_df(spark, texts).coalesce(1)
    got = _rows(df.withColumn("fp", TX.fingerprint_udf()(F.col("text"))),
                ["fp"])
    assert got == {i: (_horner(t),) for i, t in enumerate(texts)}


def test_fingerprint_slabs_match_one_pass(spark, monkeypatch):
    """Cutting a batch into byte-bounded slabs changes no hash."""
    import pandas as pd

    texts = pd.Series(["", "ab", None, "é" * 7, "", "x" * 30, "", "yz", ""])
    fp = TX.fingerprint_udf().func
    want = [_horner(t) for t in texts]
    for slab in (1, 3, 8, 1 << 22):
        monkeypatch.setattr(TX, "_FP_SLAB", slab)
        got = [None if pd.isna(v) else v for v in fp(texts)]
        assert got == want, slab


def test_fingerprint_all_empty_batch(spark):
    df = _text_df(spark, ["", None, ""]).coalesce(1)
    got = _rows(df.withColumn("fp", TX.fingerprint_udf()(F.col("text"))),
                ["fp"])
    assert got == {0: (0,), 1: (None,), 2: (0,)}


# --- plan shape ----------------------------------------------------------------


@pytest.fixture(scope="module")
def warc_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("warc") / "sample.warc.gz")
    WF.write_sample(p)
    return p


def test_text_chain_crosses_arrow_once(spark, warc_path):
    """langid, the quality struct and fp share one ArrowEvalPython node,
    and the struct UDF is evaluated once per row."""
    pages = warc.read_warc_pages_text(spark, warc_path)
    df = TX.with_quality(pages).withColumn(
        "fp", TX.fingerprint_udf()(F.col("text")))
    plan = executed_plan(df)
    assert plan.count("ArrowEvalPython") == 1, plan
    node = next(ln for ln in plan.splitlines() if "ArrowEvalPython" in ln)
    assert node.count("quality(") == 1 and "langid(" in node \
        and "fp(" in node, node


def test_text_projection_runs_no_python_udf(spark, warc_path):
    plan = executed_plan(warc.read_warc_pages_text(spark, warc_path)
                         .select("url", "text"))
    assert "ArrowEvalPython" not in plan, plan
