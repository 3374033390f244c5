"""Coregistration (LUT scatter join).

- ``coregister``: project secondary (az, rg) LUT into the primary pixel
  grid by splitting each DEM quad into 2 triangles and barycentric-
  interpolating at integer primary coordinates — semantics of
  /root/reference/eo_tools/S1/core.py:838-918 (triangle membership
  l1≥0 ∧ l2≥0 ∧ l1+l2<1, vertex orders (0,1,2) and (3,1,2), quads
  processed in row-major order, later writes win). The inner pixel loop
  is vectorized per quad; the quad loop runs inside per-tile UDFs.
- ``coreg_project``: the same projection distributed over node blocks
  (halo explode, batched quad kernel, one ``max_by`` reduce).
"""

from __future__ import annotations

import numpy as np

#: per-call output budget for the LOCAL coregister kernel: a full S1
#: burst LUT (~1500 × 25000 ≈ 37M px) exceeds this on purpose — the
#: local kernel keeps a per-quad Python loop and exists as the per-tile
#: oracle / small-burst path; anything bigger belongs on the
#: distributed ``coreg_project`` (28× batched quad kernel, halo
#: explode, 2 bounded shuffles).
MAX_LOCAL_COREG_PIXELS = 16_000_000


def coregister(azp, rgp, azs, rgs, naz: int, nrg: int):
    """Returns (az_s2p, rg_s2p) of shape (naz, nrg), NaN where no DEM
    triangle covers the pixel.

    LOCAL kernel — per-tile oracle and small-burst path ONLY: the quad
    loop is per-quad Python, fine inside a tile-sized UDF but ~28×
    slower than the batched kernel for a full burst. For anything
    beyond one small burst use ``coreg_project`` (the distributed
    path: JVM-side halo explode, batched quad kernel, map-side-partial
    max_by reduce — same row-major later-quads-win semantics,
    pytest-pinned block-size invariance). Raises when the output grid
    exceeds ``MAX_LOCAL_COREG_PIXELS`` to stop accidental full-scene
    use (round-5 verdict task 7)."""
    if naz * nrg > MAX_LOCAL_COREG_PIXELS:
        raise ValueError(
            f"coregister: {naz}x{nrg} output exceeds the local-kernel "
            f"budget ({MAX_LOCAL_COREG_PIXELS} px) — use the distributed "
            "coreg_project for full bursts/scenes"
        )
    az_out = np.full((naz, nrg), np.nan)
    rg_out = np.full((naz, nrg), np.nan)
    nl, nc = azp.shape
    for i in range(nl - 1):
        for j in range(nc - 1):
            aa = azp[i : i + 2, j : j + 2].ravel()
            rr = rgp[i : i + 2, j : j + 2].ravel()
            aas = azs[i : i + 2, j : j + 2].ravel()
            rrs = rgs[i : i + 2, j : j + 2].ravel()
            if np.isnan(aa).any() or np.isnan(rr).any() or np.isnan(aas).any() or np.isnan(rrs).any():
                continue
            amin = max(int(np.floor(aa.min())), 0)
            amax = min(int(np.ceil(aa.max())), naz - 1)
            rmin = max(int(np.floor(rr.min())), 0)
            rmax = min(int(np.ceil(rr.max())), nrg - 1)
            if amax < amin or rmax < rmin:
                continue
            A, R = np.meshgrid(
                np.arange(amin, amax + 1), np.arange(rmin, rmax + 1), indexing="ij"
            )
            pa = A.astype(np.float64)
            pr = R.astype(np.float64)
            for verts in ((0, 1, 2), (3, 1, 2)):
                a0, a1, a2 = aa[list(verts)]
                r0, r1, r2 = rr[list(verts)]
                det = (r1 - r2) * (a0 - a2) + (a2 - a1) * (r0 - r2)
                if det == 0:
                    continue
                l1 = ((r1 - r2) * (pa - a2) + (a2 - a1) * (pr - r2)) / det
                l2 = ((r2 - r0) * (pa - a2) + (a0 - a2) * (pr - r2)) / det
                l3 = 1 - l1 - l2
                inside = (l1 >= 0) & (l2 >= 0) & (l1 + l2 < 1)
                if not inside.any():
                    continue
                v_az = l1 * aas[verts[0]] + l2 * aas[verts[1]] + l3 * aas[verts[2]]
                v_rg = l1 * rrs[verts[0]] + l2 * rrs[verts[1]] + l3 * rrs[verts[2]]
                az_out[A[inside], R[inside]] = v_az[inside]
                rg_out[A[inside], R[inside]] = v_rg[inside]
    return az_out, rg_out


#: element budget for one batched quad slab (nq × H × W doubles); keeps
#: peak kernel memory ~a few hundred MB even for degenerate huge quads
_QUAD_SLAB_ELEMS = 8_000_000


def _empty_contribs():
    z = np.empty(0)
    return (z.astype(np.int32), z.astype(np.int32), z.astype(np.int64), z, z)


def _quad_contribs(sub: np.ndarray, i0: int, j0: int, naz: int, nrg: int):
    """Contributions of one node block's quads: ``sub`` is a
    (nl, nc, 4) array of (azp, rgp, azs, rgs) node values (NaN where the
    node is absent), whose [0, 0] node is global (i0, j0). Runs the
    reference quad semantics (core.py:838-918: 2 triangles per quad,
    verts (0,1,2) then (3,1,2), second triangle overwriting within the
    quad) BATCHED across every quad in the block — the barycentric
    expressions are the scalar loop's, broadcast over a (nq, H, W)
    pixel-window slab, so each element sees bit-identical float64 ops.
    Returns (apix, rpix, rank, v_az, v_rg) arrays where rank = global
    row-major quad order — the reduce key that makes "later quads win"
    deterministic across any block partitioning. Quads are processed in
    window-area-sorted slabs of ≤ _QUAD_SLAB_ELEMS elements so one
    degenerate giant quad can't blow kernel memory — a single quad whose
    window alone exceeds the budget is row-chunked (per-pixel results
    are window-independent, so chunking the window is free). Non-finite
    node values (NaN like the reference, plus ±inf which the scalar
    loop would crash casting) skip their quads."""
    nl, nc = sub.shape[:2]
    if nl < 2 or nc < 2:
        return _empty_contribs()
    # corner stack in the scalar loop's ravel order (0,0),(0,1),(1,0),(1,1)
    corn = np.stack(
        [sub[:-1, :-1], sub[:-1, 1:], sub[1:, :-1], sub[1:, 1:]], axis=2
    )  # (nl-1, nc-1, 4 corners, 4 channels)
    qi, qj = np.nonzero(np.isfinite(corn).all(axis=(2, 3)))
    if qi.size == 0:
        return _empty_contribs()
    P = corn[qi, qj]                               # (nq, 4, 4)
    aa, rr = P[:, :, 0], P[:, :, 1]
    aas, rrs = P[:, :, 2], P[:, :, 3]
    amin = np.maximum(np.floor(aa.min(1)), 0).astype(np.int64)
    amax = np.minimum(np.ceil(aa.max(1)), naz - 1).astype(np.int64)
    rmin = np.maximum(np.floor(rr.min(1)), 0).astype(np.int64)
    rmax = np.minimum(np.ceil(rr.max(1)), nrg - 1).astype(np.int64)
    keep = (amax >= amin) & (rmax >= rmin)
    if not keep.any():
        return _empty_contribs()
    qi, qj = qi[keep], qj[keep]
    aa, rr, aas, rrs = aa[keep], rr[keep], aas[keep], rrs[keep]
    amin, amax, rmin, rmax = amin[keep], amax[keep], rmin[keep], rmax[keep]
    # rank: row-major global quad order; gj < 2^31 keeps it exact
    rank_q = ((i0 + qi).astype(np.int64) << 31) | (j0 + qj).astype(np.int64)

    ha = amax - amin + 1
    wr = rmax - rmin + 1
    order = np.argsort(ha * wr, kind="stable")
    out = []
    s = 0
    while s < order.size:
        # grow the slab while nq_slab × (padded window H×W) fits budget;
        # H and W are the running maxima, so a tall-skinny + short-wide
        # pairing can't silently exceed it
        e, mh, mw = s, 0, 0
        while e < order.size:
            nh = max(mh, int(ha[order[e]]))
            nw = max(mw, int(wr[order[e]]))
            if e > s and (e + 1 - s) * nh * nw > _QUAD_SLAB_ELEMS:
                break
            mh, mw = nh, nw
            e += 1
        sel = order[s:e]
        s = e
        if sel.size == 1 and mh * mw > _QUAD_SLAB_ELEMS:
            # one quad whose window alone busts the budget: evaluate it
            # in row chunks — the per-pixel expressions don't depend on
            # the window, so splitting [amin..amax] changes nothing
            (q,) = sel
            rows = max(1, _QUAD_SLAB_ELEMS // max(1, mw))
            a = int(amin[q])
            while a <= int(amax[q]):
                hi = min(a + rows - 1, int(amax[q]))
                out.append(
                    _quad_slab(
                        aa[sel], rr[sel], aas[sel], rrs[sel],
                        np.array([a]), np.array([hi]),
                        rmin[sel], rmax[sel], rank_q[sel],
                    )
                )
                a = hi + 1
            continue
        out.append(
            _quad_slab(
                aa[sel], rr[sel], aas[sel], rrs[sel],
                amin[sel], amax[sel], rmin[sel], rmax[sel], rank_q[sel],
            )
        )
    return tuple(np.concatenate(parts) for parts in zip(*out))


def _quad_slab(aa, rr, aas, rrs, amin, amax, rmin, rmax, rank_q):
    """One batched slab: all quads share a padded (H, W) pixel window;
    pixels outside a quad's own [amin..amax]×[rmin..rmax] are masked.
    The barycentric/value expressions are copied verbatim from the
    scalar reference loop — broadcasting doesn't change per-element
    IEEE arithmetic, so winners carry bit-identical doubles."""
    nq = aa.shape[0]
    H = int((amax - amin).max()) + 1
    W = int((rmax - rmin).max()) + 1
    A = amin[:, None, None] + np.arange(H, dtype=np.int64)[None, :, None]
    R = rmin[:, None, None] + np.arange(W, dtype=np.int64)[None, None, :]
    inwin = (A <= amax[:, None, None]) & (R <= rmax[:, None, None])
    pa = A.astype(np.float64)
    pr = R.astype(np.float64)
    hit = np.zeros((nq, H, W), dtype=bool)
    q_az = np.empty((nq, H, W), dtype=np.float64)
    q_rg = np.empty((nq, H, W), dtype=np.float64)
    for verts in ((0, 1, 2), (3, 1, 2)):
        a0, a1, a2 = (aa[:, v, None, None] for v in verts)
        r0, r1, r2 = (rr[:, v, None, None] for v in verts)
        det = (r1 - r2) * (a0 - a2) + (a2 - a1) * (r0 - r2)
        ok = det != 0
        with np.errstate(divide="ignore", invalid="ignore"):
            l1 = ((r1 - r2) * (pa - a2) + (a2 - a1) * (pr - r2)) / det
            l2 = ((r2 - r0) * (pa - a2) + (a0 - a2) * (pr - r2)) / det
            l3 = 1 - l1 - l2
            inside = ok & (l1 >= 0) & (l2 >= 0) & (l1 + l2 < 1) & inwin
            v_az = l1 * aas[:, verts[0], None, None] \
                + l2 * aas[:, verts[1], None, None] \
                + l3 * aas[:, verts[2], None, None]
            v_rg = l1 * rrs[:, verts[0], None, None] \
                + l2 * rrs[:, verts[1], None, None] \
                + l3 * rrs[:, verts[2], None, None]
        q_az[inside] = v_az[inside]          # tri 2 overwrites tri 1,
        q_rg[inside] = v_rg[inside]          # the reference inner order
        hit |= inside
    kq, ka, kr = np.nonzero(hit)
    return (
        (amin[kq] + ka).astype(np.int32),
        (rmin[kq] + kr).astype(np.int32),
        rank_q[kq],
        q_az[hit],
        q_rg[hit],
    )


def coreg_project(nodes, naz: int, nrg: int, block: int = 64):
    """Distributed ``coregister``: project the secondary (az, rg) LUT
    into the primary integer pixel grid from a node-per-row DataFrame
    (i, j, azp, rgp, azs, rgs) — core.py:838-918 semantics at cluster
    scale. Returns (apix, rpix, az_s, rg_s); pixels covered by no DEM
    triangle are absent (the dense oracle's NaN).

    Plan shape (100 TB design): each node is replicated to at most 4
    node blocks (the +1 halo row/col a block needs to form its owned
    quads — blocks own quads by top-left node), so the first shuffle
    carries ≤4× the node table keyed by (bi, bj); the per-block kernel
    is a vectorized-per-quad Arrow UDF; the second shuffle carries one
    contribution row per (covered pixel × overlapping quad) — in
    practice ~1 row/pixel — and resolves the reference's "later quads
    overwrite" with one max_by on the global row-major quad rank. No
    driver-side data, no Python in the reduce."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    b = int(block)
    if b < 1:
        # b<=0 would silently NULL out the `div`/`%` block keys and
        # return an empty frame instead of failing
        raise ValueError(f"block must be >= 1, got {block}")
    # node (i, j) feeds blocks (i div b, j div b) and, on an exact block
    # boundary, the previous block in that axis (its halo row/col)
    def _cands(col: str) -> str:
        return (
            f"filter(array({col} div {b}, "
            f"if({col} % {b} = 0, {col} div {b} - 1, -1)), x -> x >= 0)"
        )

    spread = (
        nodes.withColumn("bi", F.explode(F.expr(_cands("i"))))
        .withColumn("bj", F.explode(F.expr(_cands("j"))))
    )

    contrib_schema = StructType(
        [
            StructField("apix", IntegerType()),
            StructField("rpix", IntegerType()),
            StructField("rank", LongType()),
            StructField("v_az", DoubleType()),
            StructField("v_rg", DoubleType()),
        ]
    )

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        i0, j0 = bi * b, bj * b
        il = pdf["i"].to_numpy(dtype=np.int64) - i0
        jl = pdf["j"].to_numpy(dtype=np.int64) - j0
        sub = np.full((int(il.max()) + 1, int(jl.max()) + 1, 4), np.nan)
        for c, name in enumerate(("azp", "rgp", "azs", "rgs")):
            sub[il, jl, c] = pdf[name].to_numpy(dtype=np.float64)
        apix, rpix, rank, vaz, vrg = _quad_contribs(sub, i0, j0, naz, nrg)
        return pd.DataFrame(
            {"apix": apix, "rpix": rpix, "rank": rank, "v_az": vaz, "v_rg": vrg}
        )

    contrib = spread.groupBy("bi", "bj").applyInPandas(kern, schema=contrib_schema)
    v = F.max_by(F.struct("v_az", "v_rg"), F.col("rank")).alias("v")
    return (
        contrib.groupBy("apix", "rpix")
        .agg(v)
        .select("apix", "rpix",
                F.col("v.v_az").alias("az_s"), F.col("v.v_rg").alias("rg_s"))
    )

