"""Fuzz contract for the WARC decoders of untrusted bytes: mutated or
truncated fixture bytes given to ``decode_record``, ``iter_warc_index``
(plain and gzip files, no cdx side file), ``_walk_range`` and the decode
mapper ``_decode_pdf`` either decode or raise ``ValueError``, within a
time bound.  No Spark session needed."""

from __future__ import annotations

import gzip
import re
import time

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_spark.sources import warc, warc_fixture as WF

from kernel_oracles import iter_warc_index

TIME_BOUND_S = 5.0           # per call; the fixture files are ~20 KB

RECORDS = WF._records()
PLAIN = b"".join(RECORDS)
GZ = b"".join(gzip.compress(r, mtime=0) for r in RECORDS)

FUZZ = settings(max_examples=150, deadline=None)

# spliced over a WARC-Date value: W3C-DTF edge cases, words pandas
# parses as the wall clock, and random date-ish text
DATES = st.one_of(
    st.sampled_from(["now", "today", "0000", "2025", "2025-02-30",
                     "1677-09-21T00:12:43Z", "2262-04-12T00:00Z",
                     "9999-12-31T23:59:59.999999999-23:59",
                     "2025-01-01T00:00+23:59", "2025-01-01T24:00Z"]),
    st.text("0123456789-:+.TZ nowtdayNOW", max_size=40))


@st.composite
def mutated(draw, data: bytes) -> bytes:
    """``data`` after up to 8 byte edits (overwrite, insert, delete,
    digits spliced into a ``Content-Length`` value, or a ``WARC-Date``
    value replaced) and a truncation."""
    buf = bytearray(data)
    lengths = [m.end() for m in re.finditer(rb"Content-Length: ", data)]
    dates = [m.end() for m in re.finditer(rb"WARC-Date: ", data)]
    for _ in range(draw(st.integers(0, 8))):
        op = draw(st.sampled_from(["set", "insert", "delete", "digits",
                                   "date"]))
        i = draw(st.integers(0, max(len(buf) - 1, 0)))
        if op == "set" and buf:
            buf[i] = draw(st.integers(0, 255))
        elif op == "insert":
            buf[i:i] = draw(st.binary(min_size=1, max_size=16))
        elif op == "delete":
            del buf[i:i + draw(st.integers(1, 64))]
        elif op == "digits" and lengths:
            at = min(draw(st.sampled_from(lengths)), len(buf))
            buf[at:at] = draw(st.text("0123456789-", min_size=1,
                                      max_size=30)).encode()
        elif op == "date" and dates:
            at = min(draw(st.sampled_from(dates)), len(buf))
            end = buf.find(b"\r\n", at)
            buf[at:end if end >= 0 else at] = draw(DATES).encode()
    cut = draw(st.one_of(st.just(len(buf)), st.integers(0, len(buf))))
    return bytes(buf[:cut])


def _contract(fn, *args):
    """Run ``fn``: any exception other than ValueError fails the test,
    and so does a call slower than TIME_BOUND_S."""
    t0 = time.perf_counter()
    try:
        fn(*args)
    except ValueError:
        pass
    assert time.perf_counter() - t0 < TIME_BOUND_S


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("warc_fuzz")


@FUZZ
@given(st.sampled_from(RECORDS).flatmap(mutated))
def test_decode_record_fuzz(raw):
    _contract(warc.decode_record, raw)


@FUZZ
@given(mutated(PLAIN))
def test_plain_index_walk_fuzz(fuzz_dir, data):
    p = fuzz_dir / "f.warc"
    p.write_bytes(data)
    _contract(lambda: list(iter_warc_index(str(p))))


@FUZZ
@given(mutated(GZ))
def test_gz_index_walk_fuzz(fuzz_dir, data):
    p = fuzz_dir / "f.warc.gz"
    p.write_bytes(data)
    _contract(lambda: list(iter_warc_index(str(p))))


@FUZZ
@given(mutated(GZ), st.integers(0, len(GZ)), st.integers(1, len(GZ)))
def test_walk_range_fuzz(fuzz_dir, data, start, span):
    p = fuzz_dir / "r.warc.gz"
    p.write_bytes(data)
    _contract(lambda: list(warc._walk_range(str(p), start, start + span,
                                            len(data))))


def _write_records(path, recs: list[bytes], compressed: bool) -> pd.DataFrame:
    """Write ``recs`` (one gzip member each when ``compressed``) and
    return their (offset, size, compressed) index batch."""
    blobs = [gzip.compress(r, mtime=0) if compressed else r for r in recs]
    path.write_bytes(b"".join(blobs))
    sizes = np.array([len(b) for b in blobs], np.int64)
    return pd.DataFrame({"offset": np.cumsum(sizes) - sizes, "size": sizes,
                         "compressed": compressed})


@FUZZ
@given(st.lists(st.sampled_from(RECORDS).flatmap(mutated), min_size=1,
                max_size=4),
       st.booleans(), st.booleans())
def test_decode_mapper_fuzz(fuzz_dir, recs, compressed, text):
    p = fuzz_dir / ("m.warc.gz" if compressed else "m.warc")
    index = _write_records(p, recs, compressed)
    _contract(warc._decode_pdf, str(p), index, text)


@pytest.mark.parametrize("date", ["now", "today", "0000"])
def test_decode_mapper_rejects_non_w3c_date(tmp_path, date):
    """pandas parses "now"/"today" as the wall clock and year 0000 as
    1972: the mapper raises, naming the record's offset, instead."""
    rec = RECORDS[1].replace(b"WARC-Date: 2025-01-01T00:00:00Z",
                             f"WARC-Date: {date}".encode())
    assert rec != RECORDS[1]
    p = tmp_path / "d.warc"
    index = _write_records(p, [RECORDS[0], rec], False)
    with pytest.raises(ValueError, match=f"offset {len(RECORDS[0])} "):
        warc._decode_pdf(str(p), index)


@pytest.mark.parametrize("status", [b"2147483648", b"-2147483649"])
def test_decode_mapper_status_outside_int32_is_null(tmp_path, status):
    """A status code that does not fit the 32-bit ``http_status`` column
    decodes as NULL; it used to fail the mapper's Int32 cast with a
    ``TypeError``."""
    rec = RECORDS[2].replace(b"HTTP/1.1 200 ", b"HTTP/1.1 " + status + b" ", 1)
    assert rec != RECORDS[2]
    p = tmp_path / "s.warc"
    out = warc._decode_pdf(str(p), _write_records(p, [RECORDS[0], rec], False))
    assert out["http_status"].isna().all()
    assert out["record_type"].tolist() == ["warcinfo", "response"]
