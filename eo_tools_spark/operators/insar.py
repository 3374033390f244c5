"""Top-level InSAR composition — the engine's analog of the reference's
`process_insar` product stage (/root/reference/eo_tools/process.py:47-222:
align secondary → interferogram / coherence / amplitude), composed from
the distributed primitives:

    coreg LUT tiles ──► align_secondary_tiles (sar2geo gather join)
                               │
    primary tiles ──┬──────────┴──► tiles_interferogram
                    └──► tiles_coherence (fused single halo exchange)

Everything stays in the tile model (TILE_SCHEMA rows) end to end — no
driver-side arrays. The caller brings the coregistration LUT (from
coreg.coreg_project, or any (az, rg) source) tiled on the PRIMARY grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

import numpy as np

from eo_tools_spark.operators.geocode import sar2geo_tiles
from eo_tools_spark.operators.tiles import (
    tiles_boxcar,
    tiles_coherence,
    tiles_goldstein,
    tiles_interferogram,
    tiles_map,
    tiles_presum,
)


def align_secondary_tiles(
    sec_tiles: DataFrame,
    lut_tiles: DataFrame,
    naz: int,
    nrg: int,
    tile: int,
    kernel: str = "bicubic",
    raster_id: str = "aligned",
    out_kind: str = "c8",
    fill_missing: bool = False,
) -> DataFrame:
    """Resample the secondary into the primary grid through a coreg LUT
    tiled ON the primary grid (rows: ty, tx, az binary, rg binary, th,
    tw) — the distributed form of the reference's `align`
    (core.py:921-934) with the default bicubic kernel.

    Output: TILE_SCHEMA rows on the primary tiling (``out_kind``:
    c8 for SLC alignment, f4 for real geocoded products).

    Coverage contract: by default a primary tile whose LUT values are
    entirely out of the secondary's bounds (or whose needed secondary
    tiles are all absent) produces NO output row — the frame can be
    SPARSER than the reference's NaN-filled dense array. Pass
    ``fill_missing=True`` to left-join the output against the full LUT
    extent and backfill absent (ty, tx) keys as NaN tiles (the
    reference-array semantics; what insar_products uses)."""
    lut = lut_tiles.select(
        F.concat_ws("_", F.col("ty").cast("string"), F.col("tx").cast("string")).alias(
            "dem_tile_id"
        ),
        "az", "rg", "th", "tw",
    )
    out = sar2geo_tiles(lut, sec_tiles, naz, nrg, tile, kernel, out_kind=out_kind)
    split = F.split(F.col("dem_tile_id"), "_")
    out = out.select(
        F.lit(raster_id).alias("raster_id"),
        split.getItem(0).cast("int").alias("ty"),
        split.getItem(1).cast("int").alias("tx"),
        "data", "th", "tw", "kind",
    )
    if fill_missing:
        out = _fill_missing_tiles(
            out, lut_tiles.select("ty", "tx", "th", "tw").distinct(), out_kind,
            raster_id=raster_id,
        )
    return out


def insar_products(
    prm_tiles: DataFrame,
    sec_tiles: DataFrame,
    lut_tiles: DataFrame,
    naz: int,
    nrg: int,
    tile: int,
    kernel: str = "bicubic",
    box_az: int = 5,
    box_rg: int = 5,
    mlt_az: int = 1,
    mlt_rg: int = 1,
    magnitude: bool = True,
    filter_ifg: bool = True,
    goldstein: bool = False,
    goldstein_alpha: float = 0.5,
    amplitude: bool = False,
) -> dict[str, DataFrame]:
    """Aligned-pair product stage: the `process.py:161-207 → 1591-1793`
    products, all-distributed. Returns {"aligned", "ifg", "coh"} plus
    "amp" when ``amplitude`` (presummed |primary|, process.py:1611-1613:
    amp = presum(np.abs(slc), mlt)).

    ``filter_ifg`` (reference default True, process.py:66 + 1774-1781):
    the emitted interferogram is ifg_box — the same (box_az, box_rg)
    BOXCAR used for the coherence numerator — not the raw product.
    ``goldstein`` additionally applies the Goldstein phase filter
    (an ENGINE EXTRA: the reference ships goldstein() at
    process.py:2069-2126 but never wires it into process_insar).
    Coherence uses the fused single-exchange path; the aligned frame is
    reused by the products (mark it `.persist()` upstream if several are
    materialized).

    The aligned frame is NaN-backfilled against the full LUT extent
    (fill_missing=True), so aligned/ifg/coh cover the complete primary
    tiling exactly like the reference's dense NaN-filled arrays — a
    primary tile the secondary never reaches comes back as a NaN tile,
    not a silently absent row."""
    aligned = align_secondary_tiles(
        sec_tiles, lut_tiles, naz, nrg, tile, kernel, fill_missing=True
    )
    ifg = tiles_interferogram(prm_tiles, aligned, mlt_az, mlt_rg)
    if filter_ifg:
        ifg = tiles_boxcar(ifg, box_az, box_rg)
    if goldstein:
        ifg = tiles_goldstein(ifg, alpha=goldstein_alpha)
    out = {
        "aligned": aligned,
        "ifg": ifg,
        "coh": tiles_coherence(
            prm_tiles, aligned, box_az, box_rg, mlt_az, mlt_rg, magnitude=magnitude
        ),
    }
    if amplitude:
        amp = tiles_map(prm_tiles, np.abs, "f4", "amp")
        if mlt_az > 1 or mlt_rg > 1:
            amp = tiles_presum(amp, mlt_az, mlt_rg)
        out["amp"] = amp
    return out


def geocode_and_merge(
    per_swath: list[tuple[DataFrame, DataFrame, int, int]],
    tile: int,
    kernel: str = "bicubic",
    out_kind: str = "f4",
    aoi=None,
    geo_origin: tuple[float, float] | None = None,
    geo_px: float | None = None,
) -> DataFrame:
    """Geocode-and-merge stage (`process.py:1305-1458`
    `geocode_and_merge_iw` semantics): per subswath, gather the SAR-
    geometry product into the SHARED geo grid through its LUT
    (`sar2geo`, process.py:1461-1549), then mosaic the subswaths with
    first-non-nodata priority in list order (rasterio merge 'first',
    process.py:1408-1456), then optionally NaN-clip to an AOI ring
    (process.py:1440-1453).

    ``per_swath``: [(sar_tiles, lut_tiles, naz, nrg), ...] — lut_tiles
    on the common GEO tiling (ty, tx, az, rg, th, tw), az/rg addressing
    that swath's own SAR grid. ``aoi`` + ``geo_origin``/``geo_px``
    georeference the clip. Output: one TILE_SCHEMA frame ('mosaic')
    covering the FULL union extent of the LUT tilings — geo tiles no
    swath reaches come back as NaN nodata tiles (rasterio merge fills
    the union bbox with nodata; a silently-missing tile would read as
    'covered' to a consumer).
    """
    from eo_tools_spark.operators.tiles import tiles_clip_aoi, tiles_mosaic

    layers = []
    extents = None
    for pri, (sar_tiles, lut_tiles, naz, nrg) in enumerate(per_swath):
        geo = align_secondary_tiles(
            sar_tiles, lut_tiles, naz, nrg, tile, kernel,
            raster_id=f"sw{pri}", out_kind=out_kind,
        )
        layers.append(geo.withColumn("priority", F.lit(pri)))
        ext = lut_tiles.select("ty", "tx", "th", "tw")
        extents = ext if extents is None else extents.unionByName(ext)
    merged = layers[0]
    for extra in layers[1:]:
        merged = merged.unionByName(extra)
    mosaic = _fill_missing_tiles(
        tiles_mosaic(merged), extents.distinct(), out_kind
    )
    if aoi is not None:
        if geo_origin is None or geo_px is None:
            raise ValueError("aoi clip needs geo_origin and geo_px")
        mosaic = tiles_clip_aoi(mosaic, aoi, geo_origin[0], geo_origin[1], geo_px, tile)
    return mosaic


def _fill_missing_tiles(
    mosaic: DataFrame, extent: DataFrame, out_kind: str, raster_id: str = "mosaic"
) -> DataFrame:
    """Left-join the tile frame onto the full extent; (ty, tx) keys with
    no produced tile become NaN nodata tiles of the extent's shape."""
    from typing import Iterator

    import pandas as pd

    from eo_tools_spark.operators.tiles import TILE_SCHEMA, _DTYPES

    # NB: itertuples renames leading-underscore columns positionally —
    # keep the disambiguated names underscore-free
    joined = extent.join(
        mosaic.select("ty", "tx", "data", "kind",
                      F.col("th").alias("mth"), F.col("tw").alias("mtw")),
        ["ty", "tx"],
        "left",
    )

    def fill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.data is not None:
                    rows.append(
                        (raster_id, int(r.ty), int(r.tx), bytes(r.data),
                         int(r.mth), int(r.mtw), r.kind)
                    )
                else:
                    th, tw = int(r.th), int(r.tw)
                    nanv = (np.nan + 1j * np.nan) if out_kind == "c8" else np.nan
                    blank = np.full((th, tw), nanv, dtype=_DTYPES[out_kind])
                    rows.append((raster_id, int(r.ty), int(r.tx), blank.tobytes(), th, tw, out_kind))
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return joined.mapInPandas(fill, schema=TILE_SCHEMA)
