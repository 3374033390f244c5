"""No package code that only tests reach.

A static pass starts from the program's entry points — the driver
contract, the bench CLI, the repo benchmark and the scripts — and follows
every ``Name`` and ``Attribute`` node (so docstrings and comments are not
callers, f-string expressions are) through the top-level definitions of
``eo_tools_spark/``. What it never reaches must be exactly ``KEPT``: test
references and input builders for live operators, plus the eo_tools
ports still queued for deletion. Anything else is code that only its
own tests call — delete it with those tests, or give it a caller.

A second pass checks every package module (``__init__.py`` re-exports
aside) for imported names that the module never uses, so a deletion
does not leave its imports behind.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: ports of eo_tools stages that only their own tests call; they are
#: queued for deletion (ROADMAP open item 2) and may not grow
_QUEUED = "only its tests call it; queued for deletion"

KEPT = {
    "raster_to_tiles": "builds the tile inputs of the live tile operators' tests",
    "terrain_scatter_oracle": "numpy reference that scatter_accumulate is checked against",
    "ICEBERG_MAPPING": "the snapshot-to-Iceberg seam contract test_snapshots pins",
    "cell_parent": "reference for the cell_of_points nesting invariant",
    # operators/geocode.py: range-Doppler LUTs and DEM upsampling
    **dict.fromkeys([
        "WGS84_A", "WGS84_F", "WGS84_E2", "lla_to_ecef", "_doppler",
        "range_doppler", "LUT_SCHEMA", "geocode_dem_tiles",
        "upsample_dem_tiles", "radar_index_mask",
    ], _QUEUED),
    # functions/imaging.py: resize (DEM upsampling's bilinear core)
    **dict.fromkeys(
        ["resize_nearest", "resize_bilinear_float", "resize_bilinear"], _QUEUED
    ),
    # sources/annotation.py: burst quads
    **dict.fromkeys(["location_grid_burst_count", "burst_polygons"], _QUEUED),
}


def _names(node):
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _defined(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [t.id for t in targets
                if isinstance(t, ast.Name) and not t.id.startswith("__")]
    return []


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read())


def unreached():
    """{name: module} of the top-level package definitions that no entry
    point reaches."""
    defs, seen = {}, set()
    for path in glob.glob(os.path.join(REPO, "eo_tools_spark", "**", "*.py"), recursive=True):
        for stmt in _parse(path).body:
            names = _defined(stmt)
            for name in names:
                defs.setdefault(name, []).append((os.path.relpath(path, REPO), stmt))
            if not names:  # module-level code runs on import
                seen |= _names(stmt)
    roots = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    roots += glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    roots += glob.glob(os.path.join(REPO, "scripts", "*.py"))
    for path in roots:
        seen |= _names(_parse(path))
    todo = list(seen)
    while todo:
        for _, stmt in defs.get(todo.pop(), ()):
            new = _names(stmt) - seen
            seen |= new
            todo += new
    return {name: sites[0][0] for name, sites in defs.items() if name not in seen}


def test_only_kept_definitions_are_unreached():
    got = unreached()
    extra = {name: mod for name, mod in got.items() if name not in KEPT}
    assert not extra, f"reached only by tests (delete them or give them a caller): {extra}"
    assert set(got) == set(KEPT), f"KEPT names that are reached or gone: {set(KEPT) - set(got)}"


def unused_imports(path):
    """["line: name"] of the names ``path`` imports and never uses. A name
    is used when it appears as a ``Name`` node, which is also the root of
    every ``Attribute`` chain (``np`` in ``np.asarray``)."""
    tree = _parse(path)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if bound != "*" and bound not in used:
                    out.append(f"{node.lineno}: {bound}")
    return out


def test_no_unused_imports():
    paths = glob.glob(os.path.join(REPO, "eo_tools_spark", "**", "*.py"), recursive=True)
    got = {os.path.relpath(p, REPO): unused_imports(p)
           for p in paths if os.path.basename(p) != "__init__.py"}
    got = {mod: names for mod, names in got.items() if names}
    assert not got, f"imported but never used: {got}"
