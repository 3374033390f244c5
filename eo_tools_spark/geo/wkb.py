"""Minimal OGC WKB codec for Point / Polygon / MultiPolygon.

The reference keeps geometry as shapely objects inside GeoDataFrames
(burst quads built at eo_tools/auxils.py:78-120, AOIs validated at
eo_tools/S1/download.py:276-285). In the Spark engine geometry travels as
WKB ``BinaryType`` columns and is decoded to plain numpy coordinate arrays
per Arrow batch. Only the standard little-endian WKB layout is implemented
— enough to round-trip every geometry the engine produces and to interop
with geopandas/shapely/DuckDB-spatial externally.
"""

from __future__ import annotations

import struct

import numpy as np

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def polygon_to_wkb(coords) -> bytes:
    """coords: sequence of (lon, lat) for the exterior ring. Auto-closes."""
    pts = [(float(x), float(y)) for x, y in coords]
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    out = [struct.pack("<BIII", 1, _WKB_POLYGON, 1, len(pts))]
    for x, y in pts:
        out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def box_to_wkb(minx: float, miny: float, maxx: float, maxy: float) -> bytes:
    """Axis-aligned box polygon (shapely.box ring order: ccw from (maxx,miny))."""
    return polygon_to_wkb(
        [(maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny), (maxx, miny)]
    )


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    ring = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return ring, off + 16 * n


def wkb_to_coords(wkb: bytes) -> list[np.ndarray]:
    """Decode WKB → list of exterior rings, each (n,2) float64 [lon,lat].

    Point → single 1-ring of shape (1,2). Polygon → [exterior] (interior
    rings are parsed but dropped — the engine's footprints/AOIs have none,
    matching the reference's quad/box fixtures). MultiPolygon → one entry
    per member polygon.
    """
    buf = memoryview(wkb)
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    hdr = 5
    if gtype & 0x20000000:  # PostGIS EWKB SRID flag: skip the 4-byte SRID
        hdr += 4
    if gtype & 0xC0000000:  # Z/M flags change coordinate width — reject
        raise ValueError("Z/M WKB coordinates not supported")
    gtype &= 0xFF
    if gtype == _WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, hdr)
        return [np.array([[x, y]])]
    if gtype == _WKB_POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, hdr)
        off = hdr + 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_ring(buf, off)
            rings.append(ring)
        return [rings[0]]
    if gtype == _WKB_MULTIPOLYGON:
        (npoly,) = struct.unpack_from("<I", buf, hdr)
        off = hdr + 4
        out = []
        for _ in range(npoly):
            bo, gt = struct.unpack_from("<BI", buf, off)
            (nrings,) = struct.unpack_from("<I", buf, off + 5)
            off += 9
            first = None
            for r in range(nrings):
                ring, off = _read_ring(buf, off)
                if r == 0:
                    first = ring
            out.append(first)
        return out
    raise ValueError(f"unsupported WKB geometry type {gtype}")
