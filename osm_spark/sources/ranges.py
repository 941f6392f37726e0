"""Byte-range sources: the one skeleton the PBF, shapefile and WARC
readers decode over.  The reference loads PBF blobs and shapefile
records alike (parser.ml:67-84, coastline.ml:36-169): one metadata pass
yields each record's byte range, then each worker reads its own.

1. Opener: ``open_input``, ``file_size`` and ``exists`` go through
   ``pyarrow.fs`` — the local disk for a bare path, ranged GETs for an
   ``s3://``-style URI.
2. Index handoff: ``offset_index`` gives Spark the driver-built
   ``(offset, size, ...)`` rows as one offset-sorted Arrow table, a
   local relation whose scan splits them in order into min(records,
   ``defaultParallelism``) partitions differing by at most one row: each
   decode task owns one contiguous byte region, and no sampling job or
   exchange runs before it.
3. Span reader: ``read_spans`` reads a batch's records as a few
   coalesced ~8 MB spans and yields each record's bytes in order.
4. Side files: a layer's meta, ``contract``'s round log, ``Pipeline``
   lineage and byte counts, scratch layers — so a path's scheme is
   decided here only.  A bare path is the local disk: a cluster whose
   ``fs.defaultFS`` is not local must pass full URIs.
"""

from __future__ import annotations

import atexit
import uuid
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession

SPAN_BYTES = 8 << 20        # coalesced read span (one ranged GET)


def _pa_fs(path: str):
    """(pyarrow FileSystem, path-within-fs): the one path-to-filesystem
    mapping (executors have no py4j bridge to the JVM).  A bare path,
    ``file:/x`` (Spark's spelling) and ``file:///x`` are the local
    disk; ``s3a://`` becomes ``s3://``."""
    uri = path
    if uri.startswith("s3a://") or uri.startswith("s3n://"):
        uri = "s3://" + uri.split("://", 1)[1]
    if "://" in uri or uri.startswith("file:"):
        return pafs.FileSystem.from_uri(uri)
    return pafs.LocalFileSystem(), uri


def open_input(path: str):
    """Seekable binary reader for ``path`` (ranged reads on object
    stores)."""
    fsys, rel = _pa_fs(path)
    return fsys.open_input_file(rel)


def _info(path: str):
    fsys, rel = _pa_fs(path)
    return fsys.get_file_info(rel)


def exists(path: str) -> bool:
    return _info(path).type != pafs.FileType.NotFound


def file_size(path: str) -> int:
    return int(_info(path).size or 0)


def read_text(path: str) -> str:
    """The whole of a small UTF-8 side file."""
    with open_input(path) as f:
        return f.read().decode("utf-8")


def write_text(path: str, text: str) -> None:
    """Create or replace a small UTF-8 side file, and its directory
    (object stores have no append: a log is rewritten whole)."""
    fsys, rel = _pa_fs(path)
    fsys.create_dir(rel.rpartition("/")[0] or ".", recursive=True)
    with fsys.open_output_stream(rel) as f:
        f.write(text.encode("utf-8"))


def _tree(path: str, recursive: bool) -> list:
    fsys, rel = _pa_fs(path)
    return fsys.get_file_info(pafs.FileSelector(
        rel, recursive=recursive, allow_not_found=True))


def list_names(path: str) -> list[str]:
    """Sorted entry names of directory ``path``; [] when it is missing."""
    return sorted(i.base_name for i in _tree(path, False))


def tree_bytes(path: str) -> int:
    """Total file bytes under ``path``: 0 when it is missing; any other
    error propagates."""
    return sum(i.size for i in _tree(path, True)
               if i.type == pafs.FileType.File)


def delete_tree(path: str) -> None:
    """Remove directory ``path`` and everything under it, if it exists."""
    fsys, rel = _pa_fs(path)
    if fsys.get_file_info(rel).type != pafs.FileType.NotFound:
        fsys.delete_dir(rel)


def scratch_dir(parent: str, prefix: str) -> str:
    """A new unique directory name under ``parent``, whose tree is
    deleted with ``delete_tree`` when the interpreter exits."""
    path = f"{parent.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
    atexit.register(delete_tree, path)
    return path


def offset_index(spark: SparkSession, rows: list[tuple[int, ...]],
                 schema: str) -> DataFrame:
    """The driver-built index ``rows`` — int tuples, offset first — as
    one local relation sorted by offset.  ``schema`` is the DDL of the
    tuple's columns in order (an int column may be declared ``int`` or
    ``boolean``; Arrow casts it)."""
    names = [col.split()[0] for col in schema.split(",")]
    a = np.array(rows, dtype=np.int64).reshape(-1, len(names))
    a = a[np.argsort(a[:, 0], kind="stable")]
    return spark.createDataFrame(
        pa.table({n: a[:, i] for i, n in enumerate(names)}), schema)


def read_spans(path: str, offsets: np.ndarray,
               sizes: np.ndarray) -> Iterator[bytes]:
    """The bytes of each record ``[offset, offset + size)`` of ``path``,
    in order; ``offsets`` ascending.

    A span is cut after the record that pushes it past SPAN_BYTES
    (index records are adjacent, so spans are dense), and its records
    are yielded as soon as it is read: raw-byte residency is ONE span.
    ``ValueError`` naming the offset of a record with a negative offset
    or size, or one past the end of the file (an untrusted index)."""
    offs = np.asarray(offsets, np.int64)
    ends = offs + np.asarray(sizes, np.int64)
    top = np.maximum.accumulate(ends)
    with open_input(path) as f:
        bad = (offs < 0) | (ends < offs) | (ends > f.size())
        if bad.any():
            raise ValueError(f"record at offset {offs[bad][0]} of {path} "
                             "lies outside the file")
        s = 0
        for i in range(1, len(offs) + 1):
            if i < len(offs) and top[i - 1] - offs[s] <= SPAN_BYTES:
                continue
            base = int(offs[s])
            f.seek(base)
            buf = memoryview(f.read(int(top[i - 1]) - base))
            for j in range(s, i):
                yield bytes(buf[int(offs[j]) - base:int(ends[j]) - base])
            s = i
