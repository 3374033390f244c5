"""Tile-algebra operators: rasters as DataFrames of fixed-size tiles.

Row model: (raster_id:string, ty:int, tx:int, data:binary, th:int,
tw:int, kind:string) with kind ∈ {'f4','c8'} (complex64 travels as its
native byte layout — the reference itself writes complex as 2 real
bands, /root/reference/eo_tools/S1/core.py:978-983).

The reference runs windowed ops via dask ``map_overlap`` with 1024²
chunks (/root/reference/eo_tools/S1/process.py:1710-1752). Here the
halo exchange is a JOIN: every tile is exploded to its ≤9 neighbor
targets (map-side), grouped by target tile, and the assembled
(th+2h, tw+2h) neighborhood is processed by a numpy kernel. Global
edges reflect-pad ('symmetric'), matching scipy.ndimage mode='reflect'
of the global operator — proven by the block≡global law tests.

Shuffle cost: one groupBy per halo op, fan-out ≤9×, key = (raster, ty,
tx) — uniformly distributed, no skew. Choose tile ≥ 2× halo and tile
divisible by multilook factors (cross-tile alignment).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from eo_tools_spark.functions import raster as R

TILE_SCHEMA = StructType(
    [
        StructField("raster_id", StringType()),
        StructField("ty", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("data", BinaryType()),
        StructField("th", IntegerType()),
        StructField("tw", IntegerType()),
        StructField("kind", StringType()),
    ]
)

_DTYPES = {"f4": np.float32, "c8": np.complex64}


def _decode(data: bytes, th: int, tw: int, kind: str) -> np.ndarray:
    return np.frombuffer(data, dtype=_DTYPES[kind]).reshape(th, tw)


def raster_to_tiles(
    spark: SparkSession, arr: np.ndarray, raster_id: str, tile: int
) -> DataFrame:
    """Driver-side tiling helper (tests/ingest). Edge tiles are partial."""
    kind = "c8" if np.iscomplexobj(arr) else "f4"
    arr = arr.astype(_DTYPES[kind])
    rows = []
    H, W = arr.shape
    for ty in range((H + tile - 1) // tile):
        for tx in range((W + tile - 1) // tile):
            blk = arr[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
            rows.append(
                (raster_id, ty, tx, blk.tobytes(), blk.shape[0], blk.shape[1], kind)
            )
    return spark.createDataFrame(rows, TILE_SCHEMA)


def tiles_to_raster(df: DataFrame, tile: int) -> np.ndarray:
    """Collect tiles back to one array (tests only — not a scale path)."""
    rows = df.collect()
    H = max(r.ty * tile + r.th for r in rows)
    W = max(r.tx * tile + r.tw for r in rows)
    kind = rows[0].kind
    out = np.zeros((H, W), dtype=_DTYPES[kind])
    for r in rows:
        out[r.ty * tile : r.ty * tile + r.th, r.tx * tile : r.tx * tile + r.tw] = _decode(
            bytes(r.data), r.th, r.tw, r.kind
        )
    return out


# --------------------------------------------------------- halo exchange

_PIECE_SCHEMA = StructType(
    [
        StructField("raster_id", StringType()),
        StructField("gty", IntegerType()),
        StructField("gtx", IntegerType()),
        StructField("dy", IntegerType()),
        StructField("dx", IntegerType()),
        StructField("data", BinaryType()),
        StructField("th", IntegerType()),
        StructField("tw", IntegerType()),
        StructField("kind", StringType()),
    ]
)


def _halo_pieces(tiles: DataFrame, halo: int) -> DataFrame:
    """Map-side margin slicing for the halo exchange (shared by
    halo_map and halo_map_multi_out): each tile ships its full payload
    ONCE (to itself) plus only the ≤halo-wide strips its 8 neighbors
    actually read — ~(1 + 2h/T)² of the payload through the shuffle
    instead of 9 full copies (the previous JVM explode duplicated the
    whole tile blob into all nine contribution rows; at tile=256/h=32
    that is ~7× fewer shuffle bytes on the hottest path). (dy, dx) is
    the piece's position in the TARGET tile's frame; (th, tw) are the
    PIECE dims. _decode is a zero-copy frombuffer, so the map-side cost
    is only the strip copies."""

    def fan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                blk = _decode(bytes(r.data), int(r.th), int(r.tw), r.kind)
                for oy in (-1, 0, 1):
                    gty = int(r.ty) + oy
                    if gty < 0:
                        continue
                    py = (
                        slice(None) if oy == 0
                        else (slice(-halo, None) if oy == 1 else slice(0, halo))
                    )
                    for ox in (-1, 0, 1):
                        gtx = int(r.tx) + ox
                        if gtx < 0:
                            continue
                        px = (
                            slice(None) if ox == 0
                            else (slice(-halo, None) if ox == 1 else slice(0, halo))
                        )
                        piece = blk[py, px]
                        rows.append(
                            (r.raster_id, gty, gtx, -oy, -ox,
                             np.ascontiguousarray(piece).tobytes(),
                             piece.shape[0], piece.shape[1], r.kind)
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _PIECE_SCHEMA.fields]
            )

    return tiles.mapInPandas(fan, schema=_PIECE_SCHEMA)


def halo_map(
    tiles: DataFrame,
    halo: int,
    fn: Callable[[np.ndarray, int, int, int], np.ndarray],
    out_kind: str | None = None,
) -> DataFrame:
    """Apply ``fn(padded, th, tw, halo) -> center tile array`` to every
    tile with an ``halo``-pixel neighborhood assembled from the 8
    neighbors (reflect-padded at global edges)."""

    contrib = _halo_pieces(tiles, halo)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        raster_id, gty, gtx = key
        center = pdf[(pdf.dy == 0) & (pdf.dx == 0)]
        if center.empty:  # phantom target beyond the raster edge
            return pd.DataFrame(columns=[f.name for f in TILE_SCHEMA.fields])
        c = center.iloc[0]
        th, tw, kind = int(c.th), int(c.tw), c.kind
        pad = _assemble_padded(pdf, th, tw, halo, kind)
        out = fn(pad, th, tw, halo)
        ok = out_kind or kind
        return pd.DataFrame(
            [
                (
                    raster_id,
                    int(gty),
                    int(gtx),
                    out.astype(_DTYPES[ok]).tobytes(),
                    th,
                    tw,
                    ok,
                )
            ],
            columns=[f.name for f in TILE_SCHEMA.fields],
        )

    return (
        contrib.groupBy("raster_id", "gty", "gtx")
        .applyInPandas(assemble, schema=TILE_SCHEMA)
    )


def _assemble_padded(pdf: pd.DataFrame, th: int, tw: int, h: int, kind: str) -> np.ndarray:
    """Assemble one channel's (th+2h)×(tw+2h) padded neighborhood from
    its ≤9 PRE-SLICED contribution pieces (_halo_pieces did the margin
    slicing map-side; r.th/r.tw are the piece dims) — reflect-filled at
    global edges. Shared by halo_map and halo_map_multi."""
    dt = _DTYPES[kind]
    pad = np.zeros((th + 2 * h, tw + 2 * h), dtype=dt)
    # valid extent contributed to each margin: full h when the
    # neighbor exists and is big enough, the neighbor's size when it
    # is a PARTIAL edge tile smaller than the halo, 0 when absent
    valid = {"top": 0, "bottom": 0, "left": 0, "right": 0}
    for r in pdf.itertuples():
        piece = _decode(bytes(r.data), int(r.th), int(r.tw), r.kind)
        dy, dx = int(r.dy), int(r.dx)
        ph, pw = piece.shape
        # top/left pieces anchor at the margin's inner edge (they
        # border the center); bottom/right anchor at its start
        y0 = (h if dy == 0 else h + th) if dy >= 0 else h - ph
        x0 = (h if dx == 0 else h + tw) if dx >= 0 else h - pw
        pad[y0 : y0 + ph, x0 : x0 + pw] = piece
        if dy == -1 and dx == 0:
            valid["top"] = max(valid["top"], ph)
        if dy == 1 and dx == 0:
            valid["bottom"] = max(valid["bottom"], ph)
        if dx == -1 and dy == 0:
            valid["left"] = max(valid["left"], pw)
        if dx == 1 and dy == 0:
            valid["right"] = max(valid["right"], pw)
    # reflect-fill the UNFILLED part of each margin (missing
    # neighbors AND partial edge neighbors smaller than the halo) —
    # rows then cols, the same axis order as np.pad(mode='symmetric')
    vt, vb = valid["top"], valid["bottom"]
    for k in range(h - vt):  # global top edge sits at padded row h-vt
        pad[h - vt - 1 - k, :] = pad[h - vt + k, :]
    for k in range(h - vb):  # global bottom edge at padded row h+th+vb
        pad[h + th + vb + k, :] = pad[h + th + vb - 1 - k, :]
    vl, vr = valid["left"], valid["right"]
    for k in range(h - vl):
        pad[:, h - vl - 1 - k] = pad[:, h - vl + k]
    for k in range(h - vr):
        pad[:, h + tw + vr + k] = pad[:, h + tw + vr - 1 - k]
    return pad


def halo_map_multi(
    tiles: DataFrame,
    halo: int,
    fn: Callable[[dict, int, int, int], np.ndarray],
    out_kind: str,
    out_raster_id: str,
) -> DataFrame:
    """ONE halo exchange over several co-gridded channels (rows sharing
    (ty, tx) across distinct raster_ids): ``fn(channels, th, tw, halo)``
    gets a dict raster_id → padded array. Fusing k consecutive/parallel
    stencil ops this way replaces k halo shuffles + the zip joins that
    recombine them with a single groupBy — the shuffle-count fix for
    chained stencil pipelines (coherence: 10 exchanges → 2). Thin
    wrapper over halo_map_multi_out (single-output case)."""
    return halo_map_multi_out(
        tiles, halo,
        lambda ch, th, tw, h: {out_raster_id: fn(ch, th, tw, h)},
        {out_raster_id: out_kind},
    )


def halo_map_multi_out(
    tiles: DataFrame,
    halo: int,
    fn: Callable[[dict, int, int, int], dict],
    out_kinds: dict[str, str],
) -> DataFrame:
    """halo_map_multi with SEVERAL output channels: ``fn`` returns a
    dict raster_id → array and one output tile row is emitted per
    entry. Fuses pipelines that produce multiple stencil outputs from
    the same neighborhood (dual-pol covariance: c11/c22/c12 [+ H/alpha]
    from one vv/vh product exchange) into ONE shuffle."""
    contrib = _halo_pieces(tiles, halo)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gty, gtx = key
        channels: dict[str, np.ndarray] = {}
        th = tw = None
        for rid, sub in pdf.groupby("raster_id", sort=True):
            center = sub[(sub.dy == 0) & (sub.dx == 0)]
            if center.empty:
                return pd.DataFrame(columns=[f.name for f in TILE_SCHEMA.fields])
            c = center.iloc[0]
            th, tw = int(c.th), int(c.tw)
            channels[rid] = _assemble_padded(sub, th, tw, halo, c.kind)
        if not channels:
            return pd.DataFrame(columns=[f.name for f in TILE_SCHEMA.fields])
        outs = fn(channels, th, tw, halo)
        return pd.DataFrame(
            [
                (rid, int(gty), int(gtx),
                 arr.astype(_DTYPES[out_kinds[rid]]).tobytes(), th, tw, out_kinds[rid])
                for rid, arr in outs.items()
            ],
            columns=[f.name for f in TILE_SCHEMA.fields],
        )

    return contrib.groupBy("gty", "gtx").applyInPandas(assemble, schema=TILE_SCHEMA)


def _win_sums(v: np.ndarray, th: int, tw: int, h: int, kaz: int, krg: int) -> np.ndarray:
    """Integral-image windowed sums of a padded plane over the center
    tile's pixels (window offsets match scipy convolve) — the ONE home
    of the double-cumsum / corner-difference machinery, shared by the
    boxcar mean and its NaN-erosion mask so their bounds can't drift."""
    lo_a, hi_a = R._win_bounds(kaz)
    lo_r, hi_r = R._win_bounds(krg)
    c = np.cumsum(np.cumsum(v, axis=0, dtype=np.float64), axis=1)
    c = np.pad(c, ((1, 0), (1, 0)))
    ys = np.arange(h, h + th)
    xs = np.arange(h, h + tw)
    y0, y1 = ys - lo_a, ys + hi_a + 1
    x0, x1 = xs - lo_r, xs + hi_r + 1
    return c[np.ix_(y1, x1)] - c[np.ix_(y0, x1)] - c[np.ix_(y1, x0)] + c[np.ix_(y0, x0)]


def _box_mean_padded(pad: np.ndarray, th: int, tw: int, h: int, kaz: int, krg: int) -> np.ndarray:
    """Boxcar (NaN zero-fill + restore) of the center tile given its
    padded neighborhood — window offsets match scipy convolve."""
    msk = np.isnan(pad)
    x = np.where(msk, 0, pad)
    k = float(kaz * krg)
    if np.iscomplexobj(pad):
        out = (
            _win_sums(x.real, th, tw, h, kaz, krg)
            + 1j * _win_sums(x.imag, th, tw, h, kaz, krg)
        ) / k
        out[msk[h : h + th, h : h + tw]] = np.nan + 1j * np.nan
    else:
        out = _win_sums(x, th, tw, h, kaz, krg) / k
        out[msk[h : h + th, h : h + tw]] = np.nan
    return out


def tiles_boxcar(tiles: DataFrame, kaz: int, krg: int) -> DataFrame:
    h = max(R._win_bounds(kaz) + R._win_bounds(krg))
    return halo_map(tiles, max(h, 1), lambda p, th, tw, hh: _box_mean_padded(p, th, tw, hh, kaz, krg))


def tiles_presum(tiles: DataFrame, m: int, n: int) -> DataFrame:
    """Per-tile block mean. Tile dims must be divisible by (m, n) —
    full tiles are by construction; trailing partial tiles get trimmed
    like the reference's global trim. Purely row-local, so it runs as a
    map stage (the earlier groupBy-per-tile paid a full shuffle of the
    pixel payload for groups that always held exactly one row)."""
    def do(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                arr = _decode(bytes(r.data), int(r.th), int(r.tw), r.kind)
                out = R.presum(arr, m, n)
                rows.append(
                    (r.raster_id, int(r.ty), int(r.tx),
                     out.astype(_DTYPES[r.kind]).tobytes(),
                     out.shape[0], out.shape[1], r.kind)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return tiles.mapInPandas(do, schema=TILE_SCHEMA)


def tiles_map(
    tiles: DataFrame,
    fn: Callable[[np.ndarray], np.ndarray],
    out_kind: str,
    raster_id: str,
) -> DataFrame:
    """Elementwise per-tile transform (no halo, no shuffle) — e.g.
    amplitude |z| (process.py:1611 np.abs over the SLC)."""

    def do(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                out = fn(_decode(bytes(r.data), int(r.th), int(r.tw), r.kind))
                rows.append(
                    (raster_id, int(r.ty), int(r.tx),
                     out.astype(_DTYPES[out_kind]).tobytes(), int(r.th), int(r.tw), out_kind)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return tiles.mapInPandas(do, schema=TILE_SCHEMA)


def tiles_zip(
    a: DataFrame, b: DataFrame, fn: Callable[[np.ndarray, np.ndarray], np.ndarray],
    out_kind: str, raster_id: str,
) -> DataFrame:
    """Elementwise combine of two co-located rasters (equi-join on tile
    id) — e.g. interferogram p·conj(s) (process.py:1631-1667)."""
    aj = a.select(
        F.col("ty"), F.col("tx"),
        F.col("data").alias("da"), F.col("th"), F.col("tw"), F.col("kind").alias("ka"),
    )
    bj = b.select(
        F.col("ty"), F.col("tx"), F.col("data").alias("db"), F.col("kind").alias("kb")
    )
    joined = aj.join(bj, ["ty", "tx"])

    def do(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                x = _decode(bytes(r.da), int(r.th), int(r.tw), r.ka)
                y = _decode(bytes(r.db), int(r.th), int(r.tw), r.kb)
                out = fn(x, y)
                rows.append(
                    (raster_id, int(r.ty), int(r.tx),
                     out.astype(_DTYPES[out_kind]).tobytes(), int(r.th), int(r.tw), out_kind)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return joined.mapInPandas(do, schema=TILE_SCHEMA)


def tiles_interferogram(p: DataFrame, s: DataFrame, mlt_az: int = 1, mlt_rg: int = 1) -> DataFrame:
    ifg = tiles_zip(p, s, lambda x, y: x * np.conj(y), "c8", "ifg")
    return tiles_presum(ifg, mlt_az, mlt_rg) if (mlt_az > 1 or mlt_rg > 1) else ifg


def product_join(
    a: DataFrame,
    b: DataFrame,
    channels: list,
    mlt_az: int = 1,
    mlt_rg: int = 1,
) -> DataFrame:
    """ONE a⋈b tile join emitting several per-pixel product channels
    with the presum multilook fused in (pure per-tile math — no extra
    shuffle). ``channels`` = [(raster_id, fn(x, y) → array, kind), ...].
    Replaces k tiles_zip joins + k tiles_presum groupBys. The channel
    fn owns its dtype/NaN policy (e.g. coherence power channels
    nan_to_num; PolSAR covariance channels keep NaN for the mask)."""
    aj = a.select(
        F.col("ty"), F.col("tx"),
        F.col("data").alias("da"), F.col("th"), F.col("tw"), F.col("kind").alias("ka"),
    )
    bj = b.select(
        F.col("ty"), F.col("tx"), F.col("data").alias("db"), F.col("kind").alias("kb")
    )
    joined = aj.join(bj, ["ty", "tx"])

    def do(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                x = _decode(bytes(r.da), int(r.th), int(r.tw), r.ka)
                y = _decode(bytes(r.db), int(r.th), int(r.tw), r.kb)
                for rid, fn, kind in channels:
                    arr = fn(x, y)
                    if mlt_az > 1 or mlt_rg > 1:
                        arr = R.presum(arr, mlt_az, mlt_rg)
                    # cast on BOTH paths: a float64/complex128 channel
                    # at mlt=1 would otherwise serialize 8-byte values
                    # under a 4-byte kind and corrupt the next _decode
                    arr = arr.astype(_DTYPES[kind], copy=False)
                    rows.append(
                        (rid, int(r.ty), int(r.tx), arr.tobytes(),
                         arr.shape[0], arr.shape[1], kind)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return joined.mapInPandas(do, schema=TILE_SCHEMA)


def coherence_products(
    p: DataFrame, s: DataFrame, mlt_az: int = 1, mlt_rg: int = 1
) -> DataFrame:
    """ONE p⋈s join emitting all three coherence product channels
    (ifg=p·conj(s) c8, prm2=|p|² f4, sec2=|s|² f4). Dtype casts
    replicate the unfused chain exactly (c8/f4 at each stage boundary);
    power channels are nan_to_num'd like the unfused tiles_zip chain."""
    return product_join(
        p, s,
        [
            ("ifg", lambda x, y: (x * np.conj(y)).astype(np.complex64), "c8"),
            ("prm2", lambda x, y: np.nan_to_num((x * np.conj(x)).real).astype(np.float32), "f4"),
            ("sec2", lambda x, y: np.nan_to_num((y * np.conj(y)).real).astype(np.float32), "f4"),
        ],
        mlt_az, mlt_rg,
    )


def tiles_coherence(
    p: DataFrame, s: DataFrame,
    box_az: int = 5, box_rg: int = 5, mlt_az: int = 1, mlt_rg: int = 1,
    magnitude: bool = True,
    fused: bool = True,
) -> DataFrame:
    """Distributed coherence, semantics of process.py:1670-1793:
    per-tile products → presum → halo boxcar → ratio → erosion mask.

    ``fused=True`` (default): 2 exchanges total — one product join
    (coherence_products) + ONE multi-channel halo exchange computing
    boxcars, ratio, and erosion mask together (halo_map_multi). The
    unfused path (10 exchanges: 3 zips + 3 presums + 4 halos + 3 zips)
    is kept as the law-test reference; outputs are bit-identical (the
    fused kernel replays the same float32/complex64 cast sequence)."""
    if fused:
        prods = coherence_products(p, s, mlt_az, mlt_rg)

        def kern(ch: dict, th: int, tw: int, hh: int) -> np.ndarray:
            num = _box_mean_padded(ch["ifg"], th, tw, hh, box_az, box_rg).astype(np.complex64)
            d1 = _box_mean_padded(ch["prm2"], th, tw, hh, box_az, box_rg).astype(np.float32)
            d2 = _box_mean_padded(ch["sec2"], th, tw, hh, box_az, box_rg).astype(np.float32)
            mask = np.where(
                _erode_padded(~np.isnan(ch["ifg"]), th, tw, hh, box_az, box_rg), 1.0, np.nan
            ).astype(np.float32)
            step1 = (num / np.sqrt(d1)).astype(np.complex64)
            step2 = (step1 / np.sqrt(d2)).astype(np.complex64)
            return np.abs(step2) * mask if magnitude else step2 * mask

        return halo_map_multi(
            prods, max(box_az, box_rg), kern,
            out_kind="f4" if magnitude else "c8", out_raster_id="coh",
        )

    ifg = tiles_interferogram(p, s, mlt_az, mlt_rg)
    prm2 = tiles_presum(
        tiles_zip(p, p, lambda x, y: np.nan_to_num((x * np.conj(y)).real), "f4", "prm2"),
        mlt_az, mlt_rg,
    )
    sec2 = tiles_presum(
        tiles_zip(s, s, lambda x, y: np.nan_to_num((x * np.conj(y)).real), "f4", "sec2"),
        mlt_az, mlt_rg,
    )
    h = max(box_az, box_rg)

    # the three windowed rasters get their own halo exchanges, then the
    # ratio/mask composition is plain elementwise tile zips
    num = halo_map(ifg, h, lambda p_, th, tw, hh: _box_mean_padded(p_, th, tw, hh, box_az, box_rg))
    den1 = halo_map(prm2, h, lambda p_, th, tw, hh: _box_mean_padded(p_, th, tw, hh, box_az, box_rg))
    den2 = halo_map(sec2, h, lambda p_, th, tw, hh: _box_mean_padded(p_, th, tw, hh, box_az, box_rg))
    mask = halo_map(
        ifg, h,
        lambda p_, th, tw, hh: np.where(
            _erode_padded(~np.isnan(p_), th, tw, hh, box_az, box_rg), 1.0, np.nan
        ),
        out_kind="f4",
    )
    step1 = tiles_zip(num, den1, lambda x, y: x / np.sqrt(y), "c8", "coh")
    step2 = tiles_zip(step1, den2, lambda x, y: x / np.sqrt(y), "c8", "coh")
    if magnitude:
        mag = tiles_zip(step2, mask, lambda x, y: np.abs(x) * y, "f4", "coh")
        return mag
    return tiles_zip(step2, mask, lambda x, y: x * y, "c8", "coh")


def _erode_padded(msk: np.ndarray, th: int, tw: int, h: int, kaz: int, krg: int) -> np.ndarray:
    """Binary erosion via the shared windowed-sum: a center pixel
    survives only if EVERY pixel of its window is valid."""
    s = _win_sums(msk.astype(np.float64), th, tw, h, kaz, krg)
    return s >= kaz * krg - 0.5


def tiles_mosaic(tiles_multi: DataFrame, priority_col: str = "priority") -> DataFrame:
    """Mosaic overlapping rasters on a shared tile grid: per pixel, the
    FIRST non-nodata (non-NaN) value in priority order wins — rasterio
    merge_arrays' default ('first'), the reference's subswath merge
    (/root/reference/eo_tools/S1/process.py:1408-1456; S2 mosaic
    S2.py:217-228).

    Input rows: TILE_SCHEMA + priority:int (lower = higher priority).
    Output: one tile per (ty, tx) under raster_id 'mosaic'.
    """

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = key
        pdf = pdf.sort_values(priority_col)
        kind = pdf.iloc[0]["kind"]
        # UNION extent, like rasterio merge: layers may end mid-tile at
        # different offsets (per-swath LUT tilings), so a partial
        # higher-priority block must not truncate the output, and
        # differing shapes must not crash the boolean fill
        th = int(pdf["th"].max())
        tw = int(pdf["tw"].max())
        nanv = (np.nan + 1j * np.nan) if _DTYPES[kind] == np.complex64 else np.nan
        out = np.full((th, tw), nanv, dtype=_DTYPES[kind])
        for r in pdf.itertuples():
            blk = _decode(bytes(r.data), int(r.th), int(r.tw), r.kind)
            sub = out[: int(r.th), : int(r.tw)]
            hole = np.isnan(sub)
            sub[hole] = blk[hole]
        return pd.DataFrame(
            [("mosaic", int(ty), int(tx), out.tobytes(), th, tw, kind)],
            columns=[f.name for f in TILE_SCHEMA.fields],
        )

    return tiles_multi.groupBy("ty", "tx").applyInPandas(merge, schema=TILE_SCHEMA)


def tiles_clip_aoi(
    tiles: DataFrame,
    ring,
    origin_x: float,
    origin_y: float,
    px: float,
    tile: int,
) -> DataFrame:
    """AOI clip of a georeferenced tile grid: pixels outside the AOI →
    NaN (the reference's mosaic AOI clip, process.py:1440-1453). The
    grid is north-up: pixel (row, col) of tile (ty, tx) sits at
    (origin_x + (tx·tile+col+0.5)·px, origin_y − (ty·tile+row+0.5)·px).
    PIP runs vectorized per tile; tiles whose bbox misses the AOI bbox
    are NaN'd wholesale without PIP."""
    from eo_tools_spark.geo.geom import points_in_polygon

    ring = np.asarray(ring, dtype=np.float64)
    rx0, ry0 = ring[:, 0].min(), ring[:, 1].min()
    rx1, ry1 = ring[:, 0].max(), ring[:, 1].max()

    def clip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                blk = _decode(bytes(r.data), int(r.th), int(r.tw), r.kind).copy()
                # complex nodata is nan+1j*nan like _fill_missing_tiles,
                # not nan+0j
                nanv = (np.nan + 1j * np.nan) if np.iscomplexobj(blk) else np.nan
                cols = origin_x + (int(r.tx) * tile + np.arange(r.tw) + 0.5) * px
                rws = origin_y - (int(r.ty) * tile + np.arange(r.th) + 0.5) * px
                # bbox fast path: a tile whose pixel-center bbox misses
                # the AOI bbox is all-outside — skip the per-pixel PIP
                if cols[-1] < rx0 or cols[0] > rx1 or rws[0] < ry0 or rws[-1] > ry1:
                    blk[:] = nanv
                else:
                    lon_g, lat_g = np.meshgrid(cols, rws)
                    inside = points_in_polygon(
                        lon_g.ravel(), lat_g.ravel(), ring
                    ).reshape(blk.shape)
                    blk[~inside] = nanv
                rows.append(
                    (r.raster_id, int(r.ty), int(r.tx), blk.tobytes(), int(r.th), int(r.tw), r.kind)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return tiles.mapInPandas(clip, schema=TILE_SCHEMA)


def tiles_goldstein(ifg: DataFrame, alpha: float = 0.5, overlap: int = 14) -> DataFrame:
    """Goldstein phase filter per tile with a 32-px halo (the
    reference's dask map_overlap depth, process.py:2113). Per-chunk
    block grids are chunk-relative in the reference too, so parity is
    defined per equal tile grid (see tests)."""

    def kern(pad, th, tw, hh):
        out = R.goldstein_chunk(pad, alpha=alpha, overlap=overlap)
        return out[hh : hh + th, hh : hh + tw]

    return halo_map(ifg, 32, kern, out_kind="c8")
