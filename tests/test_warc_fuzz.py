"""Fuzz contract for the WARC decoders of untrusted bytes: mutated or
truncated fixture bytes given to ``decode_record``, ``iter_warc_index``
(plain and gzip files, no cdx side file) and ``_walk_range`` either
decode or raise ``ValueError``, within a time bound.  No Spark session
needed."""

from __future__ import annotations

import gzip
import re
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_spark.sources import warc, warc_fixture as WF

TIME_BOUND_S = 5.0           # per call; the fixture files are ~20 KB

RECORDS = WF._records()
PLAIN = b"".join(RECORDS)
GZ = b"".join(gzip.compress(r, mtime=0) for r in RECORDS)

FUZZ = settings(max_examples=150, deadline=None)


@st.composite
def mutated(draw, data: bytes) -> bytes:
    """``data`` after up to 8 byte edits (overwrite, insert, delete, or
    digits spliced into a ``Content-Length`` value) and a truncation."""
    buf = bytearray(data)
    lengths = [m.end() for m in re.finditer(rb"Content-Length: ", data)]
    for _ in range(draw(st.integers(0, 8))):
        op = draw(st.sampled_from(["set", "insert", "delete", "digits"]))
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
    _contract(lambda: list(warc.iter_warc_index(str(p))))


@FUZZ
@given(mutated(GZ))
def test_gz_index_walk_fuzz(fuzz_dir, data):
    p = fuzz_dir / "f.warc.gz"
    p.write_bytes(data)
    _contract(lambda: list(warc.iter_warc_index(str(p))))


@FUZZ
@given(mutated(GZ), st.integers(0, len(GZ)), st.integers(1, len(GZ)))
def test_walk_range_fuzz(fuzz_dir, data, start, span):
    p = fuzz_dir / "r.warc.gz"
    p.write_bytes(data)
    _contract(lambda: list(warc._walk_range(str(p), start, start + span,
                                            len(data))))
