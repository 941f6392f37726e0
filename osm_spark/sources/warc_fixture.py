"""Deterministic WARC fixture: an INDEPENDENT writer of the public
ISO 28500 wire format (same role as pbf_fixture for the PBF source —
the decoder is validated as an encode→decode round trip against the
generator's ground truth, never against itself).

Layout mirrors Common Crawl: a leading warcinfo record, then per page a
request record (skipped by the pages reader) and a response record
whose body is an HTTP/1.1 response carrying the html.  ``write_sample``
emits the same records as plain ``.warc`` and as one-gzip-member-per-
record ``.warc.gz``.
"""

from __future__ import annotations

import gzip
from pathlib import Path

N_PAGES = 24


def _escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def sample_pages() -> list[dict]:
    """Ground truth: (url, iso timestamp, text, lang, status).  Texts
    exercise entities, unicode, and multi-space runs (all of which must
    survive the html round trip byte-identically).  Urls carry the
    standard geo slug (``/geo/<lat_fp>/<lon_fp>/page<i>``) with the
    hash geocode of the page index, so the url geocoder + spatial join
    compose over this source exactly as over the synthetic pages."""
    import numpy as np

    from osm_spark import fixtures as FX

    ids = np.arange(N_PAGES, dtype=np.int64)
    lats, lons = FX.geocode_ints(ids)
    out = []
    langs = ["en", "fr", "de"]
    for i in range(N_PAGES):
        lang = langs[i % 3]
        text = (f"the page {i} text & co <tag-looking> bit, "
                f"accents éèü and  double  spaces"
                if i % 4 != 3 else f"short {i}")
        out.append({
            "url": (f"https://warc{i % 7}.example/{lang}"
                    f"/geo/{lats[i]}/{lons[i]}/page{i}"),
            "ts": f"2025-01-01T00:{i // 60:02d}:{i % 60:02d}Z",
            "text": text,
            "lang": lang,
            "status": 200 if i % 5 != 4 else 404,
        })
    return out


def page_html(text: str, i: int) -> bytes:
    """The html container whose text extraction is an exact inverse
    (operators.textops.extract_text_col)."""
    return (f"<html><head><title>doc {i}</title>"
            f"<meta charset=\"utf-8\"></head>"
            f"<body><p>{_escape(text)}</p></body></html>").encode("utf-8")


def _record(rtype: str, extra: dict[str, str], body: bytes) -> bytes:
    hdrs = {"WARC-Type": rtype, **extra, "Content-Length": str(len(body))}
    head = "WARC/1.0\r\n" + "".join(
        f"{k}: {v}\r\n" for k, v in hdrs.items()) + "\r\n"
    return head.encode("ascii") + body + b"\r\n\r\n"


def _records() -> list[bytes]:
    recs = [_record(
        "warcinfo",
        {"WARC-Record-ID": "<urn:uuid:00000000-0000-0000-0000-000000000000>",
         "WARC-Date": "2025-01-01T00:00:00Z"},
        b"software: osm_spark warc fixture\r\n")]
    for i, p in enumerate(sample_pages()):
        common = {"WARC-Target-URI": p["url"], "WARC-Date": p["ts"],
                  "WARC-Record-ID":
                  f"<urn:uuid:00000000-0000-0000-0000-{i:012d}>"}
        recs.append(_record(
            "request",
            {**common, "Content-Type": "application/http; msgtype=request"},
            f"GET {p['url']} HTTP/1.1\r\nHost: x\r\n\r\n".encode()))
        html = page_html(p["text"], i)
        status = p["status"]
        reason = "OK" if status == 200 else "Not Found"
        http = (f"HTTP/1.1 {status} {reason}\r\n"
                f"Content-Type: text/html; charset=utf-8\r\n"
                f"Content-Length: {len(html)}\r\n\r\n").encode() + html
        recs.append(_record(
            "response",
            {**common, "Content-Type": "application/http; msgtype=response"},
            http))
    return recs


def write_sample(path: str) -> str:
    """Write the fixture; ``path`` ending in .gz gets one gzip member
    per record (the Common-Crawl layout)."""
    recs = _records()
    if path.endswith(".gz"):
        recs = [gzip.compress(r, mtime=0) for r in recs]
    Path(path).write_bytes(b"".join(recs))
    return path


def expected_pages() -> list[tuple]:
    """(url, epoch_micros, text, n_html_bytes) for the 200-OK responses
    — the reader+extractor ground truth."""
    from datetime import datetime, timezone

    out = []
    for i, p in enumerate(sample_pages()):
        if p["status"] != 200:
            continue
        dt = datetime.fromisoformat(p["ts"].replace("Z", "+00:00"))
        us = int(dt.astimezone(timezone.utc).timestamp() * 1_000_000)
        out.append((p["url"], us, p["text"], len(page_html(p["text"], i))))
    return out
