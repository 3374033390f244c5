"""No package code that only tests reach.

A static pass starts from the program's entry points — the driver
contract, the bench CLI, the repo benchmark and the scripts — and follows
every ``Name`` and ``Attribute`` node (so docstrings and comments are not
callers, f-string expressions are) through the top-level definitions of
``eo_tools_spark/``. What it never reaches must be exactly ``KEPT``: test
references and input builders for live operators, plus the eo_tools
ports still queued for deletion. Anything else is code that only its
own tests call — delete it with those tests, or give it a caller.
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
    # operators/slc.py: SLC window/mask/calibration and TOPS deramp chain
    **dict.fromkeys([
        "window_first_line", "read_window", "apply_valid_mask",
        "sigma_calibration_grid", "calibrate", "s2_reflectance",
        "deramp_phase", "nearest_poly_index", "iso_burst_t0", "_poly2_eval",
        "deramp_constants", "tops_deramp_phase", "burst_read_masked",
        "deramp_bursts",
    ], _QUEUED),
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
    # operators/coreg.py: topographic phase and orbit interpolation
    **dict.fromkeys([
        "C0", "phi_topo", "hermite_interp", "barycentric_interp",
        "polynomial_interp", "orbit_interpolate", "T_PAD", "sv_window",
    ], _QUEUED),
    # sources/annotation.py: calibration/EOF parsers and burst quads
    **dict.fromkeys([
        "iso_seconds", "parse_calibration", "parse_orbit_eof",
        "location_grid_burst_count", "burst_polygons",
    ], _QUEUED),
    # sources/orbits.py: orbit-file selection
    **dict.fromkeys(
        ["_EOF_RE", "_ts", "parse_orbit_name", "select_orbit_file", "fetch_orbit"],
        _QUEUED,
    ),
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
