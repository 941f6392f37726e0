"""The zip re-read guard in ``osm_spark/__init__.py``: a per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive changed, with the semantics of the unguarded
``zipimporter.invalidate_caches`` otherwise."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import osm_spark

PKG = "osm_zguard_pkg"


def _write_zip(path, extra: dict[str, str] | None = None) -> None:
    files = {f"{PKG}/__init__.py": "",
             f"{PKG}/sub/__init__.py": "",
             f"{PKG}/sub/mod.py": "X = 1\n", **(extra or {})}
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def _importers(archive: str) -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive]


def test_guard_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    for name in [m for m in sys.modules if m.startswith(PKG)]:
        monkeypatch.delitem(sys.modules, name)
    importlib.import_module(f"{PKG}.sub.mod")
    assert len(_importers(archive)) >= 2      # archive root + package dirs

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    osm_spark._guard_zip_rereads()            # idempotent re-install
    for _ in range(4):
        importlib.invalidate_caches()
    assert len(reads) <= 1                    # unchanged: at most one re-read

    # rewritten archive: the next call re-reads it and the new module
    # imports through the package importers
    _write_zip(archive, {f"{PKG}/sub/new.py": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) >= 1
    new = importlib.import_module(f"{PKG}.sub.new")
    assert new.Y == 2

    # replaced archive with the same size and mtime: the new inode alone
    # forces the re-read
    st = os.stat(archive)
    _write_zip(archive + ".tmp", {f"{PKG}/sub/new.py": "Y = 3\n"})
    os.utime(archive + ".tmp", ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(archive + ".tmp", archive)
    assert os.stat(archive).st_size == st.st_size
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) >= 1
    assert importlib.reload(new).Y == 3

    # deleted archive: same end state as the unguarded method
    os.remove(archive)
    importlib.invalidate_caches()
    guarded = (archive in zipimport._zip_directory_cache,
               [imp._files for imp in _importers(archive)])
    for imp in _importers(archive):
        zipimport.zipimporter.invalidate_caches.__wrapped__(imp)
    assert guarded == (archive in zipimport._zip_directory_cache,
                       [imp._files for imp in _importers(archive)])
    assert guarded == (False, [{}] * len(_importers(archive)))


def test_worker_tasks_skip_unchanged_zip_rereads(spark):
    # nested, so it is pickled by value: workers cannot import tests/
    def _second_invalidate_reads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import osm_spark  # noqa: F401  (installs the guard in this worker)

        reads = [0]
        real = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            reads[0] = 0
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for pdf in batches:
            yield pd.DataFrame({"reads": [reads[0]] * len(pdf),
                                "zip_importers": [n_zip] * len(pdf)})

    rows = (spark.range(0, 8, 1, numPartitions=8)
            .mapInPandas(_second_invalidate_reads,
                         "reads long, zip_importers long")
            .collect())
    assert len(rows) == 8
    assert all(r.zip_importers > 0 for r in rows)   # workers import via zips
    assert [r.reads for r in rows] == [0] * 8
