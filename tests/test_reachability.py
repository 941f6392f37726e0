"""The public surface of ``osm_spark`` is what its callers use.

Pure ``ast``; no Spark session.  The callers are the package itself,
``__spark_entry__.py``, ``bench.py``, ``tools/`` and ``perfbench/``
(not its tests).  Two rules:

(a) every public top-level function or class in ``osm_spark/`` is
    referenced (a ``Name``, an ``Attribute`` or an import alias) by a
    caller, outside its own definition;
(b) every optional parameter of a public top-level function is passed,
    by keyword or by position, at some caller's call.  A call made with
    ``*args`` sets every positional parameter; one made with ``**kw``
    sets every parameter.

Names are matched as written, not resolved through imports.  The fix
for a failure is to delete the function or the parameter (inlining its
default), or to name it in ``ALLOWED`` with the reason it stays.  An
allowed function is exempt from both rules.

A third rule keeps one filesystem layer: ``osm_spark/operators/`` and
``osm_spark/metrics.py`` reach files only through
``osm_spark/sources/ranges.py`` — no builtin ``open(``, ``os.path``,
``pathlib``, ``tempfile``, ``shutil`` or ``atexit``.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "osm_spark"

# {"module.function" or "module.function(param=)": why it stays}
ALLOWED = {
    "metrics.Pipeline":
        "S5 lineage/metrics component; test_metrics and "
        "test_text_invariant drive it, no query does",
    "warc.stream_warc_pages":
        "S1b streaming WARC ingest; test_warc drives it",
    "profile.apply_profile":
        "routing profile from raw tags (profile_car.ml); test_profile "
        "feeds it to extract_edges",
    "routing.extract_edges(speed_col=)":
        "the per-way speed column apply_profile produces",
    "cluster.cluster_by_hilbert":
        "G15 Hilbert-clustered storage layout that "
        "spatial_join_partitioned(pages_clustered=) joins without an "
        "exchange; the row-group pruning test drives it",
    "spatial_join.spatial_join_partitioned(pages_clustered=)":
        "G15 zero-exchange join over that Hilbert-clustered layout; the "
        "clustered-join test and test_plans' no-Exchange row drive it",
    "io.write_table":
        "R1/R2 Iceberg-or-parquet sink; test_metrics drives the parquet "
        "form, tests/test_iceberg.py (a documented skip) the catalog form",
    "routing.contract(checkpoint_dir=)":
        "deployment path: a resumable contraction; the resume tests "
        "drive it",
    "dedup.connected_components(max_iter=)":
        "tests hold the O(log n) round bound and the no-fixpoint error",
    "jpeg.encode_baseline(dri=)":
        "restart-interval streams for the decoder's RST marker tests",
    "raster.composite_cells(group_rank=)":
        "the renderer's group paint order (osm_display.ml:908-915); the "
        "raster differential tests drive it",
}


def caller_files():
    perf = ROOT / "perfbench"
    return (sorted(PACKAGE.rglob("*.py")) + sorted((ROOT / "tools").rglob("*.py"))
            + [p for p in sorted(perf.rglob("*.py"))
               if p.relative_to(perf).parts[0] not in ("tests", "_work")]
            + [ROOT / "__spark_entry__.py", ROOT / "bench.py"])


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def public_defs():
    """{"module.name": def node} of the public top-level defs."""
    defs = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) \
                    and not node.name.startswith("_"):
                qual = f"{path.stem}.{node.name}"
                assert qual not in defs, f"two public defs named {qual}"
                defs[qual] = node
    return defs


def _usage(files, defs):
    """(names referenced, [(callee name, ast.Call)]) over ``files``; a
    public def's own body does not count for its own name."""
    own = {id(node): node.name for node in defs.values()}
    names, calls = set(), []
    for path in files:
        for top in _parse(path).body:
            self_name = own.get(id(top))
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    ref = node.id
                elif isinstance(node, ast.Attribute):
                    ref = node.attr
                elif isinstance(node, ast.alias):
                    ref = node.name.rsplit(".", 1)[-1]
                elif isinstance(node, ast.Call):
                    f = node.func
                    ref = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if ref is not None and ref != self_name:
                        calls.append((ref, node))
                    continue
                else:
                    continue
                if ref != self_name:
                    names.add(ref)
    return names, calls


def optional_params(fn):
    """[(name, positional index or None)] of the parameters with defaults."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(p.arg, i) for i, p in enumerate(pos)
           if i >= len(pos) - len(a.defaults)]
    return out + [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None]


def _sets(call, name, idx):
    if any(k.arg is None for k in call.keywords):        # **kw
        return True
    if any(k.arg == name for k in call.keywords):
        return True
    if idx is None:
        return False
    return idx < len(call.args) or any(
        isinstance(x, ast.Starred) for x in call.args)


def surface(files=None):
    """(public names no caller references, optional parameters no
    caller sets, every public optional parameter), as ALLOWED keys."""
    defs = public_defs()
    names, calls = _usage(caller_files() if files is None else files, defs)
    by_callee = {}
    for callee, call in calls:
        by_callee.setdefault(callee, []).append(call)
    unreferenced = sorted(q for q, node in defs.items() if node.name not in names)
    unset, optional = [], []
    for qual, node in defs.items():
        if isinstance(node, ast.ClassDef):
            continue
        for name, idx in optional_params(node):
            key = f"{qual}({name}=)"
            optional.append(key)
            if not any(_sets(c, name, idx) for c in by_callee.get(node.name, ())):
                unset.append(key)
    return unreferenced, sorted(unset), optional


def test_public_surface_is_reached():
    unreferenced, unset, _ = surface()
    missing = [q for q in unreferenced + unset
               if q not in ALLOWED and q.split("(")[0] not in ALLOWED]
    assert not missing, (
        "public names or optional parameters no caller outside tests/ "
        "uses; delete them, or add them to ALLOWED with a reason: "
        + ", ".join(missing))
    stale = sorted(set(ALLOWED) - set(unreferenced) - set(unset))
    assert not stale, f"ALLOWED entries a caller now uses: {stale}"
    assert len(ALLOWED) <= 15


SIDE_FILE_MODULES = {"os.path", "pathlib", "tempfile", "shutil", "atexit"}


def side_file_code(path):
    """[(line, what)] of the filesystem code outside ``ranges`` in one
    file: a builtin ``open(`` call, an ``os.path`` attribute, or an
    import from one of ``SIDE_FILE_MODULES``."""
    hits = []
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id == "open":
            hits.append((node.lineno, "open("))
            continue
        if isinstance(node, ast.Attribute) and node.attr == "path" \
                and isinstance(node.value, ast.Name) and node.value.id == "os":
            hits.append((node.lineno, "os.path"))
            continue
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        hits += [(node.lineno, n) for n in names
                 if any(n == m or n.startswith(m + ".")
                        for m in SIDE_FILE_MODULES)]
    return hits


def test_side_files_go_through_ranges():
    files = sorted((PACKAGE / "operators").rglob("*.py")) + [PACKAGE / "metrics.py"]
    bad = [f"{p.relative_to(ROOT)}:{line} {what}"
           for p in files for line, what in side_file_code(p)]
    assert not bad, (
        "filesystem code outside osm_spark/sources/ranges.py; use its "
        "helpers instead: " + ", ".join(bad))


def test_perfbench_profiles_existing_defs():
    """perfbench's per-layer metrics (``kernels.dp_s``,
    ``spatial_join.layer_read_s``, ``warc.decode_s``, …) read the
    profiler by function name: ``prof("name"[, "file"])`` in
    ``perfbench/workloads.py``.  Each name must be a def in
    ``osm_spark`` (nested defs count), in a file whose name ends with
    the given file; a renamed def would read 0, not fail."""
    defs: dict = {}
    for path in PACKAGE.rglob("*.py"):
        for node in ast.walk(_parse(path)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(node.name, []).append(str(path))
    probes = [tuple(a.value for a in node.args)
              for node in ast.walk(_parse(ROOT / "perfbench" / "workloads.py"))
              if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "prof"]
    assert {p[0] for p in probes} >= {"_pip_pack", "simplify_ring_int", "fp"}
    missing = [p for p in probes
               if not any(f.endswith(p[1] if len(p) > 1 else "")
                          for f in defs.get(p[0], ()))]
    assert not missing, f"prof() names no def in osm_spark: {missing}"
