"""Terrain scatter-accumulate and shadow mask — the reference's
azimuth-geometry operators.

Pinned semantics:
- terrain scatter-accumulate (core.py:1377-1529): contributions
  summed (+=) into SAR pixels, untouched pixels → NaN. Spark: emit
  (az, rg, γ) rows → groupBy(az, rg).sum — associative, map-side
  combinable.
- shadow mask (core.py:1580-1613): per azimuth line, running max of
  the projected look angle along range; shadow where θ < cummax so far.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


# ------------------------------------------- terrain scatter-aggregate

def scatter_accumulate(contrib: DataFrame, naz: int | None = None, nrg: int | None = None) -> DataFrame:
    """Sum γ contributions into SAR pixels: groupBy(az, rg).sum —
    map-side combinable (the reference's += loop, core.py:1487-1529).
    Pixels with no contribution simply have no row (≡ NaN in the dense
    raster; densify only when materializing tiles)."""
    return contrib.groupBy("az", "rg").agg(F.sum("gamma").alias("gamma"))


def scatter_to_dense(rows: pd.DataFrame, naz: int, nrg: int) -> np.ndarray:
    """Densify (az, rg, gamma) rows; untouched pixels NaN
    (core.py: zeros→NaN semantics)."""
    out = np.full((naz, nrg), np.nan)
    az = rows["az"].to_numpy()
    rg = rows["rg"].to_numpy()
    out[az, rg] = rows["gamma"].to_numpy()
    return out


def terrain_scatter_oracle(az_f: np.ndarray, rg_f: np.ndarray, gamma: np.ndarray, naz: int, nrg: int) -> np.ndarray:
    """Numpy oracle: accumulate γ at integer (az, rg) with +=, NaN
    where nothing lands."""
    acc = np.zeros((naz, nrg))
    hit = np.zeros((naz, nrg), dtype=bool)
    az = np.round(az_f).astype(int)
    rg = np.round(rg_f).astype(int)
    ok = (az >= 0) & (az < naz) & (rg >= 0) & (rg < nrg) & ~np.isnan(gamma)
    np.add.at(acc, (az[ok], rg[ok]), gamma[ok])
    hit[az[ok], rg[ok]] = True
    return np.where(hit, acc, np.nan)


# ------------------------------------- terrain backscatter simulation

def _gamma_of_triangle(P0, P1, P2, look):
    """γ = cot(projected incidence): normal of the facet projected into
    the (look, slant) plane, clamped at 0 — the reference's modified
    SNAP convention (core.py:1459-1487 math)."""
    lv = look / np.linalg.norm(look)
    nv = np.cross(P1 - P0, P2 - P0)
    n = np.linalg.norm(nv)
    if n == 0:
        return 0.0
    nv = nv / n
    s = look - P0
    sn = np.linalg.norm(s)
    if sn == 0:
        return 0.0
    s = s / sn
    uv = float(lv @ s)
    up = float(lv @ nv)
    vp = float(s @ nv)
    denom = 1 - uv**2
    if denom == 0:
        return 0.0
    alpha = (up - uv * vp) / denom
    beta = (vp - uv * up) / denom
    proj = alpha * lv + beta * s
    pn = np.linalg.norm(proj)
    if pn == 0:
        return 0.0
    cosp = float((proj / pn) @ lv)
    g = cosp / (1e-12 + np.sqrt(max(1 - cosp**2, 0.0)))
    return g if g > 0 else 0.0


def terrain_gamma_contributions(
    az: np.ndarray,
    rg: np.ndarray,
    dem_x: np.ndarray,
    dem_y: np.ndarray,
    dem_z: np.ndarray,
    dx: np.ndarray,
    dy: np.ndarray,
    dz: np.ndarray,
    shadow: np.ndarray,
    naz: int,
    nrg: int,
):
    """Per-DEM-quad γ contributions as (a, r, gamma) arrays — the
    map-side emit of the scatter-aggregate (core.py:1377-1529 semantics:
    2 triangles per quad, vertex orders (0,1,2)/(3,1,2), membership
    l1≥0∧l2≥0∧l1+l2<1, += accumulation). The pixel loop is vectorized
    per quad; the reduce is groupBy(az,rg).sum (scatter_accumulate)."""
    out_a, out_r, out_g = [], [], []
    nl, nc = az.shape
    for i in range(nl - 1):
        for j in range(nc - 1):
            if shadow[i, j] == 1:
                continue
            aa = az[i : i + 2, j : j + 2].ravel()
            rr = rg[i : i + 2, j : j + 2].ravel()
            if np.isnan(aa).any() or np.isnan(rr).any():
                continue
            xx = dem_x[i : i + 2, j : j + 2].ravel()
            yy = dem_y[i : i + 2, j : j + 2].ravel()
            zz = dem_z[i : i + 2, j : j + 2].ravel()
            P = np.stack([xx, yy, zz], axis=1)
            amin = max(int(np.floor(aa.min())), 0)
            amax = min(int(np.ceil(aa.max())), naz - 1)
            rmin = max(int(np.floor(rr.min())), 0)
            rmax = min(int(np.ceil(rr.max())), nrg - 1)
            if amax < amin or rmax < rmin:
                continue
            g1 = _gamma_of_triangle(P[0], P[1], P[2], np.array([dx[i, j], dy[i, j], dz[i, j]]))
            # triangle 2 uses the opposite corner's look vector and a
            # flipped normal (reference: -cross of (1-3, 2-3) edges)
            g2 = _gamma_of_triangle(
                P[3], P[2], P[1], np.array([dx[i + 1, j + 1], dy[i + 1, j + 1], dz[i + 1, j + 1]])
            )
            A, R = np.meshgrid(
                np.arange(amin, amax + 1), np.arange(rmin, rmax + 1), indexing="ij"
            )
            pa, pr = A.astype(np.float64), R.astype(np.float64)
            for verts, g in (((0, 1, 2), g1), ((3, 1, 2), g2)):
                if g <= 0:
                    continue
                a0, a1_, a2 = aa[list(verts)]
                r0, r1, r2 = rr[list(verts)]
                det = (r1 - r2) * (a0 - a2) + (a2 - a1_) * (r0 - r2)
                if det == 0:
                    continue
                l1 = ((r1 - r2) * (pa - a2) + (a2 - a1_) * (pr - r2)) / det
                l2 = ((r2 - r0) * (pa - a2) + (a0 - a2) * (pr - r2)) / det
                inside = (l1 >= 0) & (l2 >= 0) & (l1 + l2 < 1)
                if inside.any():
                    out_a.append(A[inside])
                    out_r.append(R[inside])
                    out_g.append(np.full(int(inside.sum()), g))
    if not out_a:
        e = np.empty(0)
        return e.astype(int), e.astype(int), e
    return np.concatenate(out_a), np.concatenate(out_r), np.concatenate(out_g)


def simulate_terrain_gamma_dense(az, rg, dem_x, dem_y, dem_z, dx, dy, dz, shadow, naz, nrg):
    """Single-array oracle: accumulate contributions, zeros → NaN
    (core.py:1523-1527)."""
    a, r, g = terrain_gamma_contributions(az, rg, dem_x, dem_y, dem_z, dx, dy, dz, shadow, naz, nrg)
    acc = np.zeros((naz, nrg))
    np.add.at(acc, (a, r), g)
    return np.where(acc == 0.0, np.nan, acc)


# ----------------------------------------------------------- shadow

def shadow_mask(theta_ground: np.ndarray) -> np.ndarray:
    """Per azimuth line, running max of look angle along range marks
    shadow, with the reference scan's exact semantics
    (core.py:1597-1604): ``max_elev`` starts at 0.0 and a pixel is
    shadowed unless θ STRICTLY exceeds the running max — so θ equal to
    the max is shadowed, and a leading θ ≤ 0 is shadowed too.
    Vectorized cummax replaces the sequential loop (the max only ever
    updates on lit pixels, but a shadowed pixel satisfies θ ≤ max, so
    folding it into the cummax is a no-op — identical scan state)."""
    cummax = np.fmax.accumulate(np.nan_to_num(theta_ground, nan=-np.inf), axis=1)
    prev = np.concatenate(
        [np.full((theta_ground.shape[0], 1), -np.inf), cummax[:, :-1]], axis=1
    )
    prev = np.maximum(prev, 0.0)  # the reference's max_elev = 0.0 init
    return theta_ground <= prev
