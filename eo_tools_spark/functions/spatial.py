"""Spatial column functions.

Design rule: anything expressible as Catalyst expressions stays JVM-side
(whole-stage codegen, no Python) — point→cell id, bbox predicates, tile
naming. Only geometry-shape work (polygon covers, exact PIP/intersects on
WKB) crosses into Arrow-batched pandas UDFs. Never per-row Python.

Reference semantics carried over:
- ``intersects`` predicate of the AOI×burst join
  (/root/reference/eo_tools/S1/process.py:321-323, download.py:390).
- buffer-by-arc-seconds bbox expansion for DEM selection
  (/root/reference/eo_tools/S1/core.py:302-317).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, BooleanType, LongType

from eo_tools_spark.geo import cells as C
from eo_tools_spark.geo import geom as G
from eo_tools_spark.geo import wkb as W


def cell_col(lon: str, lat: str, res: int) -> Column:
    """Point → cell id as a pure Catalyst expression (codegen'd JVM-side).

    Bit-identical to geo.cells.cell_of_points and to the DuckDB oracle
    expression (geo.cells.cell_id_sql). Takes column NAMES (or SQL
    expressions) — Column objects cannot be spliced into the SQL text.
    """
    if not isinstance(lon, str) or not isinstance(lat, str):
        raise TypeError("cell_col takes column NAMES/SQL strings, not Column objects")
    return F.expr(C.cell_id_sql(lon, lat, res)).cast("long")


def tile_id_col(lon: str | Column, lat: str | Column) -> Column:
    """1°×1° DEM-style tile name, e.g. 'N31W009' — mirrors the Copernicus
    DEM tile naming the reference's DEM catalog uses
    (/root/reference/eo_tools/dem.py:39-47 fetches such tiles)."""
    lon_c = F.col(lon) if isinstance(lon, str) else lon
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    lat_i = F.floor(lat_c).cast("int")
    lon_i = F.floor(lon_c).cast("int")
    return F.concat(
        F.when(lat_i >= 0, F.lit("N")).otherwise(F.lit("S")),
        F.lpad(F.abs(lat_i).cast("string"), 2, "0"),
        F.when(lon_i >= 0, F.lit("E")).otherwise(F.lit("W")),
        F.lpad(F.abs(lon_i).cast("string"), 3, "0"),
    )


def tile_id_sql(lon_expr: str, lat_expr: str) -> str:
    """DuckDB-compatible SQL mirroring tile_id_col."""
    return (
        f"concat(CASE WHEN FLOOR({lat_expr}) >= 0 THEN 'N' ELSE 'S' END, "
        f"lpad(CAST(CAST(ABS(FLOOR({lat_expr})) AS BIGINT) AS VARCHAR), 2, '0'), "
        f"CASE WHEN FLOOR({lon_expr}) >= 0 THEN 'E' ELSE 'W' END, "
        f"lpad(CAST(CAST(ABS(FLOOR({lon_expr})) AS BIGINT) AS VARCHAR), 3, '0'))"
    )


@F.pandas_udf(ArrayType(LongType()))
def cover_cells_udf(wkb_s: pd.Series, res_s: pd.Series) -> pd.Series:
    """Polygon WKB → covering cell ids (Arrow-batched).

    Used when footprints live in a *large* table (burst quads per image);
    for small AOI tables the cover is computed driver-side instead.
    """
    out = []
    for wkb, res in zip(wkb_s, res_s):
        ring = W.wkb_to_coords(bytes(wkb))[0]
        out.append(C.cover_polygon(ring, int(res)).tolist())
    return pd.Series(out)


def is_convex(ring: np.ndarray) -> bool:
    """True iff the simple ring is convex (cross-product signs agree)."""
    r = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(r)
    sign = 0
    for i in range(n):
        a, b, c = r[i], r[(i + 1) % n], r[(i + 2) % n]
        cr = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        if cr != 0:
            s = 1 if cr > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


def convex_pip_expr(rings_by_id: dict, lon: str, lat: str) -> Column | None:
    """Exact PIP for CONVEX AOIs as a pure Catalyst expression — the
    refine becomes whole-stage-codegen JVM arithmetic, removing Python
    from the flagship entirely. Returns None if any AOI is non-convex
    (caller falls back to the Arrow kernel).

    Closed-boundary semantics (points exactly on an edge are inside) —
    consistent with closed-interval SQL oracles; the ray-casting kernel
    is half-open, so inputs are expected off the boundary (as the
    reference's shapely fixtures are)."""
    cases = []
    for aid, ring in rings_by_id.items():
        r = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
        if not is_convex(r):
            return None
        # normalize CCW so all half-planes use >= 0
        x, y = r[:, 0], r[:, 1]
        if float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) < 0:
            r = r[::-1]
        conds = []
        n = len(r)
        for i in range(n):
            x1, y1 = r[i]
            x2, y2 = r[(i + 1) % n]
            conds.append(
                f"(({x2!r} - {x1!r}) * ({lat} - {y1!r}) - "
                f"({y2!r} - {y1!r}) * ({lon} - {x1!r})) >= 0"
            )
        cases.append(f"WHEN aoi_id = '{aid}' THEN ({' AND '.join(conds)})")
    return F.expr(f"CASE {' '.join(cases)} ELSE false END")


def make_pip_refine_udf(rings_by_id: dict):
    """Exact PIP refine against a driver-broadcast {aoi_id: ring} dict.

    Vectorized per (batch × aoi): rows are grouped by aoi_id inside each
    Arrow batch and tested with the numpy ray-casting kernel — replaces
    shapely STRtree refine (reference gdf.intersects at process.py:321).

    Takes the cover's ``boundary`` flag: Spark evaluates Python UDFs
    eagerly (no OR short-circuit around ArrowEvalPython), so interior-
    cell rows would otherwise pay the geometry math — here they are
    accepted inside the kernel with a vectorized mask instead.
    """

    @F.pandas_udf(BooleanType())
    def pip_refine(
        aoi_id: pd.Series, lon: pd.Series, lat: pd.Series, boundary: pd.Series
    ) -> pd.Series:
        res = np.ones(len(aoi_id), dtype=bool)  # interior rows auto-accept
        b = boundary.to_numpy(dtype=bool)
        if not b.any():
            return pd.Series(res)
        lon_v = lon.to_numpy(dtype=np.float64)
        lat_v = lat.to_numpy(dtype=np.float64)
        ids = aoi_id.to_numpy()
        for aid in pd.unique(aoi_id[b]):
            mask = b & (ids == aid)
            res[mask] = G.points_in_polygon(lon_v[mask], lat_v[mask], rings_by_id[aid])
        return pd.Series(res)

    return pip_refine


def make_poly_intersects_udf(rings_by_id: dict):
    """Exact polygon×polygon intersects refine (footprint WKB vs AOI)."""

    @F.pandas_udf(BooleanType())
    def poly_refine(aoi_id: pd.Series, fp_wkb: pd.Series) -> pd.Series:
        out = np.zeros(len(aoi_id), dtype=bool)
        for i, (aid, wkb) in enumerate(zip(aoi_id, fp_wkb)):
            ring = W.wkb_to_coords(bytes(wkb))[0]
            out[i] = G.polygon_intersects(ring, rings_by_id[aid])
        return pd.Series(out)

    return poly_refine
