"""Vectorized planar geometry predicates (replaces shapely/GEOS here).

Semantics preserved from the reference:
- ``intersects`` join predicate (eo_tools/S1/process.py:321-323,
  1074-1075; download.py:390) — burst footprints are simple convex quads,
  AOIs simple polygons; we implement the general simple-polygon test
  (edge crossing ∪ containment), exact for non-degenerate input.
- ``_has_overlap`` ratio area(a∩b)/min(area(a),area(b)) with the 1%
  tolerance constant (eo_tools/util.py:96-98) — intersection area via
  Sutherland–Hodgman clipping (clip polygon must be convex; burst quads
  and AOI boxes are).

Everything is numpy-vectorized across *points*; polygon-vs-polygon ops
loop over (small) vertex counts only, never over batch rows in Python
where avoidable.
"""

from __future__ import annotations

import numpy as np


def polygon_area(ring: np.ndarray) -> float:
    """Shoelace area (absolute) of an (n,2) ring (closed or open)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def points_in_polygon(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting PIP: True where (lon,lat) strictly/boundary-
    inclusive inside ``ring`` ((n,2), open or closed).

    Boundary handling: points exactly on a horizontal-crossing edge may go
    either way (standard even-odd rule); fixtures avoid degenerate
    boundary points, as the reference's shapely fixtures do.
    """
    if ring[0][0] == ring[-1][0] and ring[0][1] == ring[-1][1]:
        ring = ring[:-1]
    x, y = np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    n = len(ring)
    inside = np.zeros(x.shape, dtype=bool)
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    for i in range(n):  # loop over polygon edges only (tiny)
        cond = (y1[i] > y) != (y2[i] > y)
        if not cond.any():
            continue
        xin = (x2[i] - x1[i]) * (y - y1[i]) / (y2[i] - y1[i]) + x1[i]
        inside ^= cond & (x < xin)
    return inside


def _segments_intersect(p1, p2, q1, q2) -> bool:
    """Proper/improper segment intersection via orientation tests."""

    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    o1, o2 = orient(p1, p2, q1), orient(p1, p2, q2)
    o3, o4 = orient(q1, q2, p1), orient(q1, q2, p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and on_seg(p1, p2, q1):
        return True
    if o2 == 0 and on_seg(p1, p2, q2):
        return True
    if o3 == 0 and on_seg(q1, q2, p1):
        return True
    if o4 == 0 and on_seg(q1, q2, p2):
        return True
    return False


def bbox_intersects(aminx, aminy, amaxx, amaxy, bminx, bminy, bmaxx, bmaxy):
    """Vectorized closed-interval bbox overlap (shapely bbox semantics)."""
    return (
        (np.asarray(aminx) <= np.asarray(bmaxx))
        & (np.asarray(amaxx) >= np.asarray(bminx))
        & (np.asarray(aminy) <= np.asarray(bmaxy))
        & (np.asarray(amaxy) >= np.asarray(bminy))
    )


def polygon_intersects(a: np.ndarray, b: np.ndarray) -> bool:
    """True iff simple polygons a,b ((n,2) rings) intersect (share any
    point): edge-pair crossing, or one contains the other."""
    # bbox reject first
    if not bbox_intersects(
        a[:, 0].min(), a[:, 1].min(), a[:, 0].max(), a[:, 1].max(),
        b[:, 0].min(), b[:, 1].min(), b[:, 0].max(), b[:, 1].max(),
    ):
        return False
    a_open = a[:-1] if np.array_equal(a[0], a[-1]) else a
    b_open = b[:-1] if np.array_equal(b[0], b[-1]) else b
    na, nb = len(a_open), len(b_open)
    for i in range(na):
        p1, p2 = a_open[i], a_open[(i + 1) % na]
        for j in range(nb):
            if _segments_intersect(p1, p2, b_open[j], b_open[(j + 1) % nb]):
                return True
    if points_in_polygon(a_open[:1, 0], a_open[:1, 1], b_open)[0]:
        return True
    if points_in_polygon(b_open[:1, 0], b_open[:1, 1], a_open)[0]:
        return True
    return False


def clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip ``subject`` ring by CONVEX ``clip`` ring.

    Returns the (possibly empty) clipped ring (m,2). Clip ring may be in
    either winding; normalized to CCW internally.
    """
    clip = clip[:-1] if np.array_equal(clip[0], clip[-1]) else clip
    # normalize clip to CCW (signed shoelace > 0)
    sx, sy = clip[:, 0], clip[:, 1]
    signed = float(np.dot(sx, np.roll(sy, -1)) - np.dot(sy, np.roll(sx, -1)))
    if signed < 0:
        clip = clip[::-1]
    out = subject[:-1] if np.array_equal(subject[0], subject[-1]) else subject
    out = [tuple(p) for p in out]
    n = len(clip)
    for i in range(n):
        cx1, cy1 = clip[i]
        cx2, cy2 = clip[(i + 1) % n]
        inp, out = out, []
        if not inp:
            break

        def inside(p):
            return (cx2 - cx1) * (p[1] - cy1) - (cy2 - cy1) * (p[0] - cx1) >= 0

        def inter(p, q):
            dx1, dy1 = q[0] - p[0], q[1] - p[1]
            dx2, dy2 = cx2 - cx1, cy2 - cy1
            denom = dx1 * dy2 - dy1 * dx2
            t = ((cx1 - p[0]) * dy2 - (cy1 - p[1]) * dx2) / denom
            return (p[0] + t * dx1, p[1] + t * dy1)

        s = inp[-1]
        for e in inp:
            if inside(e):
                if not inside(s):
                    out.append(inter(s, e))
                out.append(e)
            elif inside(s):
                out.append(inter(s, e))
            s = e
    return np.array(out) if out else np.empty((0, 2))
