"""Text analysis for training-data pipelines over the documents table.

The per-document text features (``with_quality``, ``langid_col``,
``fingerprint_udf``) are scalar pandas UDFs, so Catalyst evaluates them
in one ArrowEvalPython node and the text crosses the Arrow boundary
once.  Quality and language id as JVM column expressions take about 22
replace/regexp_replace passes per document: on the WARC ingest chain
(15k pages, local[4] on a 4-CPU VM) that is ~4.8 s of executor CPU per
run; done in the Arrow pass the fingerprint already pays for, the run
takes ~0.4 s of executor CPU.  The Python twins (``quality_py``,
``langid_py``) keep the JVM semantics exactly: Java's ``\\s``
whitespace, a trim of ' ' only, lengths in code points, non-overlapping
counts.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# Java's ``\s`` (java.util.regex without UNICODE_CHARACTER_CLASS), the
# whitespace the JVM regexps and the DuckDB oracle split on.  Not
# Python's: \x1c-\x1f, \x85, \xa0, \u3000 and the like do not split.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

STOPWORDS = ("the", "a", "of", "and")

# marker-word language ID — deterministic arithmetic heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}

# " w " needles, counted non-overlapping on the padded normalized text;
# languages in alphabetical order, so the first maximum wins ties
_STOP_NEEDLES = tuple(f" {w} " for w in STOPWORDS)
_LANG_NEEDLES = tuple((lang, tuple(f" {w} " for w in LANG_MARKERS[lang]))
                      for lang in sorted(LANG_MARKERS))


def _normalized(text: str) -> str:
    """``trim(regexp_replace(text, '\\s+', ' '))``: whitespace runs to one
    space, ' ' trimmed.  Text whose only whitespace is single spaces
    skips the regexp (~20x faster)."""
    if "  " in text or any(c in text for c in "\t\n\x0b\f\r"):
        text = _JAVA_WS.sub(" ", text)
    return text.strip(" ")


def quality_py(text: str | None) -> tuple:
    """(n_chars2, n_tokens, mean_tok_len, stop_ratio) of one document:
    lengths in code points, stopword hits counted non-overlapping on the
    space-padded normalized text, NULL ratios for a zero-token document
    and NULL everything for a NULL one."""
    if text is None:
        return None, None, None, None
    norm = _normalized(text)
    if not norm:
        return len(text), 0, None, None
    n = norm.count(" ") + 1
    pad = f" {norm} "
    stop = sum(pad.count(w) for w in _STOP_NEEDLES)
    return len(text), n, (len(norm) - n + 1) / n, stop / n


def langid_py(text: str | None) -> str:
    """Predicted language = argmax of marker-word counts; ties go to the
    alphabetically first language, no marker at all (or NULL) to 'und'."""
    if text is None:
        return "und"
    pad = f" {_normalized(text)} "
    best, out = 0, "und"
    for lang, needles in _LANG_NEEDLES:
        score = sum(pad.count(w) for w in needles)
        if score > best:
            best, out = score, lang
    return out


_QUALITY_COLS = (("n_chars2", "int", "Int32"), ("n_tokens", "bigint", "Int64"),
                 ("mean_tok_len", "double", "Float64"),
                 ("stop_ratio", "double", "Float64"))


def with_quality(df: DataFrame) -> DataFrame:
    """Quality scoring of the ``text`` column: raw length (n_chars2 — the documents table
    already has n_chars), token count, mean token length, stopword
    ratio (``quality_py`` per row, one struct UDF per row)."""

    @pandas_udf(", ".join(f"{c} {t}" for c, t, _ in _QUALITY_COLS))
    def quality(text: pd.Series) -> pd.DataFrame:
        cols = list(zip(*map(quality_py, text))) or [()] * 4
        return pd.DataFrame({c: pd.array(list(v), dtype=dt)
                             for (c, _, dt), v in zip(_QUALITY_COLS, cols)})

    q = quality(F.col("text"))
    return df.withColumns({c: q[c] for c, _, _ in _QUALITY_COLS})


def langid_col(text: Column) -> Column:
    """Marker-word language id of ``text`` (``langid_py`` per row)."""

    @pandas_udf("string")
    def langid(text: pd.Series) -> pd.Series:
        return pd.Series([langid_py(s) for s in text], dtype=object)

    return langid(text)


_FP_SLAB = 1 << 22   # text bytes per flattened pass: ~100 MB of scratch


def _horner64(enc: list[bytes]) -> np.ndarray:
    """h = sum(b[j] * 1000003^(n-1-j)) mod 2^64 of each byte string, in
    one pass: one byte buffer, one powers table up to the longest
    string, one ``np.add.reduceat`` over the non-empty strings (an empty
    segment would take the next one's first byte).  ~25 bytes of scratch
    per input byte."""
    lens = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
    out = np.zeros(len(enc), dtype=np.uint64)
    nz = lens > 0
    if nz.any():
        ends = np.cumsum(lens)
        powers = np.full(lens.max(), 1000003, dtype=np.uint64)
        powers[0] = 1
        powers = np.cumprod(powers, dtype=np.uint64)   # wraps mod 2^64
        # byte j of a string ending at e weighs base^(e-1-j)
        exp = np.repeat(ends - 1, lens)
        exp -= np.arange(len(exp))
        terms = powers[exp]
        terms *= np.frombuffer(b"".join(enc), dtype=np.uint8)
        out[nz] = np.add.reduceat(terms, (ends - lens)[nz])
    return out


def fingerprint_udf():
    """Rolling polynomial hash of the full text (64-bit, base 1000003)
    over its UTF-8 bytes — document fingerprint for near-dup
    bookkeeping.  The Arrow batch is hashed in flattened passes over
    slabs of ~``_FP_SLAB`` text bytes, which bounds the scratch memory
    whatever the batch size."""

    @pandas_udf("long")
    def fp(text: pd.Series) -> pd.Series:
        enc = [b"" if s is None else s.encode("utf-8") for s in text]
        lens = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
        slab = (np.cumsum(lens) - lens) // _FP_SLAB
        cuts = [0, *(np.flatnonzero(np.diff(slab)) + 1).tolist(), len(enc)]
        out = np.concatenate([_horner64(enc[a:b])
                              for a, b in zip(cuts, cuts[1:])])
        return pd.Series(pd.array(out.view(np.int64), dtype="Int64")
                         ).mask(text.isna().to_numpy())

    return fp


_TAG_RE = re.compile(r"(?s)<head>.*?</head>|<[^>]*>")


def extract_text_py(html: bytes) -> str:
    """Python twin of ``extract_text_col`` — byte-identical output
    (pinned by test_text_invariant's twin-parity test).  Used by the
    WARC decoder's text-only projection, where extraction must happen
    INSIDE the decode mapper so html bytes never cross the Arrow
    boundary; everywhere else prefer the JVM column (whole-stage
    codegen, no Python workers)."""
    t = html.decode("utf-8", "replace")
    t = _TAG_RE.sub("", t)
    return t.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


def extract_text_col(html: Column) -> Column:
    """HTML -> extracted text, pure JVM expressions (whole-stage
    codegen; no Python workers): drop the <head> block, strip tags,
    unescape the three core entities.  For documents produced by
    escaping text into a tag container (the WARC fixture, and any
    pipeline that records its generator) this is an EXACT inverse —
    the byte-identical-text invariant is pytest- and oracle-enforced.
    Entity order matters: &lt;/&gt; first, &amp; last, the inverse of
    the escape order (& first)."""
    t = F.decode(html, "utf-8")
    # head-block drop and tag strip fused into one alternation pass
    # (leftmost-alternative preference makes it equivalent to the
    # sequential two-pass form): one fewer full-string allocation
    t = F.regexp_replace(t, r"(?s)<head>.*?</head>|<[^>]*>", "")
    t = F.replace(t, F.lit("&lt;"), F.lit("<"))
    t = F.replace(t, F.lit("&gt;"), F.lit(">"))
    t = F.replace(t, F.lit("&amp;"), F.lit("&"))
    return t
