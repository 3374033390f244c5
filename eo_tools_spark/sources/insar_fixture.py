"""Deterministic InSAR / terrain fixture scenes for the driver gate.

The reference's flagship lifecycle (process.py:47-222: align secondary →
interferogram/coherence; process.py:1305-1458: geocode_and_merge;
process.py:2505-2535 + core.py:1377-1529: terrain correction) is not
SQL-expressible — DuckDB cannot resample SLC tiles. The driver gate
still gets full rows+schema+hash coverage through the same trick as the
image queries (dist/oracle fixtures): every scene here is a PURE
FUNCTION of the pixel index (analytic fields + counter-based hash
noise, no RNG state), so

1. each tile row can be synthesized independently at any parallelism
   (bit-identical bytes — proven by the determinism tests);
2. the full dense rasters can be rebuilt in numpy and pushed through
   the single-array oracle chain (remap → ifg → coherence;
   simulate_terrain_gamma_dense) by scripts/make_insar_oracle.py,
   which verifies Spark == oracle BEFORE pinning the digests;
3. per-tile md5 digests are run-to-run stable: every float op happens
   inside one task on deterministically assembled inputs (the halo /
   gather joins assemble by (ty, tx), never by arrival order), so no
   cross-partition float reduction exists in the digest path.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from eo_tools_spark.operators.tiles import TILE_SCHEMA

# fixture geometry (fixed — digests in dist/oracle pin this exact scene)
N_INSAR = 256          # square SLC side
T_INSAR = 64           # tile size
SHIFT_AZ, SHIFT_RG = 1.0, 2.0   # secondary misregistration (px)
WARP_AMP = 0.3         # smooth sinusoidal warp on top (px)


def _hash_noise(i: np.ndarray, j: np.ndarray, salt: float) -> np.ndarray:
    """Deterministic per-pixel pseudo-noise in [0, 1) — the classic
    fract(sin(dot)·K) counter hash: stateless, identical at any tiling."""
    v = np.sin(i * 12.9898 + j * 78.233 + salt) * 43758.5453123
    return v - np.floor(v)


def slc_field(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Analytic complex SLC field at (possibly fractional) indices:
    smooth deterministic phase + amplitude texture. complex128 — cast
    to complex64 only when materializing tiles."""
    phase = 0.08 * i + 0.05 * j + 0.9 * np.sin(i / 17.0) * np.cos(j / 23.0)
    amp = 1.0 + 0.35 * np.sin(i / 11.0 + j / 7.0)
    # white texture decorrelates neighboring pixels like speckle; it is
    # part of the analytic field, so the shifted secondary stays coherent
    tex = 0.25 * (_hash_noise(np.floor(i), np.floor(j), 1.7) - 0.5)
    return (amp + tex) * np.exp(1j * phase)


def secondary_field(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """sec[k, l] = field(k + SHIFT_AZ, l + SHIFT_RG) + small independent
    noise — a misregistered, partially decorrelated acquisition."""
    base = slc_field(i + SHIFT_AZ, j + SHIFT_RG)
    n_re = 0.05 * (_hash_noise(i, j, 4.2) - 0.5)
    n_im = 0.05 * (_hash_noise(i, j, 9.6) - 0.5)
    return base + (n_re + 1j * n_im)


def coreg_lut(i: np.ndarray, j: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Coregistration LUT on the primary grid: primary pixel (i, j) maps
    to secondary (i - SHIFT_AZ + warp, j - SHIFT_RG) — near the top/left
    border this goes negative (OOB → NaN → NaN-filled output tiles, the
    reference's dense-array semantics)."""
    az = i - SHIFT_AZ + WARP_AMP * np.sin(2 * np.pi * j / N_INSAR)
    rg = j - SHIFT_RG + WARP_AMP * np.cos(2 * np.pi * i / N_INSAR)
    return az, rg


def _tile_gen(raster_id: str, fld, n: int, tile: int, kind: str = "c8"):
    nt = n // tile
    dt = {"c8": np.complex64, "f4": np.float32}[kind]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf["id"]:
                ty, tx = int(t) // nt, int(t) % nt
                ii, jj = np.mgrid[
                    ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile
                ].astype(np.float64)
                blk = fld(ii, jj).astype(dt)
                rows.append((raster_id, ty, tx, blk.tobytes(), tile, tile, kind))
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return gen


def insar_pair_tiles(
    spark: SparkSession, n: int = N_INSAR, tile: int = T_INSAR
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(primary tiles, secondary tiles, coreg LUT tiles) — the fixture
    scene, tiled; every tile a pure function of its (ty, tx)."""
    nt = n // tile
    src = spark.range(nt * nt)
    prm = src.mapInPandas(_tile_gen("p", slc_field, n, tile), schema=TILE_SCHEMA)
    sec = src.mapInPandas(_tile_gen("s", secondary_field, n, tile), schema=TILE_SCHEMA)

    lut_schema = StructType(
        [
            StructField("ty", IntegerType()),
            StructField("tx", IntegerType()),
            StructField("az", BinaryType()),
            StructField("rg", BinaryType()),
            StructField("th", IntegerType()),
            StructField("tw", IntegerType()),
        ]
    )

    def lut_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf["id"]:
                ty, tx = int(t) // nt, int(t) % nt
                ii, jj = np.mgrid[
                    ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile
                ].astype(np.float64)
                az, rg = coreg_lut(ii, jj)
                rows.append((ty, tx, az.tobytes(), rg.tobytes(), tile, tile))
            yield pd.DataFrame(rows, columns=["ty", "tx", "az", "rg", "th", "tw"])

    lut = src.mapInPandas(lut_gen, schema=lut_schema)
    return prm, sec, lut


def dense_pair(n: int = N_INSAR):
    """The same scene as full numpy arrays (for the oracle chain)."""
    ii, jj = np.mgrid[0:n, 0:n].astype(np.float64)
    prm = slc_field(ii, jj).astype(np.complex64)
    sec = secondary_field(ii, jj).astype(np.complex64)
    az, rg = coreg_lut(ii, jj)
    return prm, sec, az, rg


DIGEST_SCHEMA = StructType(
    [
        StructField("product", StringType()),
        StructField("ty", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("th", IntegerType()),
        StructField("tw", IntegerType()),
        StructField("digest", StringType()),
    ]
)


def tiles_digest(tiles: DataFrame, product: str) -> DataFrame:
    """(product, ty, tx, th, tw, md5(bytes)) per tile — the hash-stable
    projection of a tile frame for the driver's value-hash gate."""

    def dig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (product, int(r.ty), int(r.tx), int(r.th), int(r.tw),
                 hashlib.md5(bytes(r.data)).hexdigest())
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(
                rows, columns=["product", "ty", "tx", "th", "tw", "digest"]
            )

    return tiles.select("ty", "tx", "th", "tw", "data").mapInPandas(
        dig, schema=DIGEST_SCHEMA
    )


# ------------------------------------------------ two-swath geo mosaic

G_GEO = 192            # geo grid side
T_GEO = 64
SW_W = 128             # each swath's SAR raster is SW_W wide; swath B
                       # starts at geo col G_GEO - SW_W → cols 64..127 overlap


def swath_field(sw: int):
    def fld(i, j):
        amp = 1.0 + 0.2 * np.sin(i / 13.0 + sw) + 0.1 * np.cos(j / 9.0 - sw)
        return (amp + 0.2 * (_hash_noise(i, j, 3.3 + sw) - 0.5)) + 0j

    return fld


def swath_tiles(spark: SparkSession, sw: int) -> DataFrame:
    """Swath ``sw`` SAR raster (G_GEO × SW_W), tiled (f4 payload in c8
    container is avoided — real kind 'f4')."""
    nt_y, nt_x = G_GEO // T_GEO, SW_W // T_GEO
    src = spark.range(nt_y * nt_x)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf["id"]:
                ty, tx = int(t) // nt_x, int(t) % nt_x
                ii, jj = np.mgrid[
                    ty * T_GEO : (ty + 1) * T_GEO, tx * T_GEO : (tx + 1) * T_GEO
                ].astype(np.float64)
                blk = swath_field(sw)(ii, jj).real.astype(np.float32)
                rows.append((f"sw{sw}", ty, tx, blk.tobytes(), T_GEO, T_GEO, "f4"))
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return src.mapInPandas(gen, schema=TILE_SCHEMA)


def swath_lut(spark: SparkSession, sw: int) -> DataFrame:
    """Geo-grid LUT for swath ``sw``: geo col c maps into the swath's own
    range axis (c - x_off); rows map 1:1 with a mild shear. Outside the
    swath's range extent → NaN (that geo region is the other swath's)."""
    x_off = 0 if sw == 0 else G_GEO - SW_W
    nt = G_GEO // T_GEO
    src = spark.range(nt * nt)
    lut_schema = StructType(
        [
            StructField("ty", IntegerType()),
            StructField("tx", IntegerType()),
            StructField("az", BinaryType()),
            StructField("rg", BinaryType()),
            StructField("th", IntegerType()),
            StructField("tw", IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf["id"]:
                ty, tx = int(t) // nt, int(t) % nt
                ii, jj = np.mgrid[
                    ty * T_GEO : (ty + 1) * T_GEO, tx * T_GEO : (tx + 1) * T_GEO
                ].astype(np.float64)
                az = ii + 0.2 * np.sin(jj / 31.0)
                rg = jj - x_off + 0.1 * np.cos(ii / 27.0)
                bad = (jj < x_off) | (jj >= x_off + SW_W)
                az[bad] = np.nan
                rg[bad] = np.nan
                rows.append((ty, tx, az.tobytes(), rg.tobytes(), T_GEO, T_GEO))
            yield pd.DataFrame(rows, columns=["ty", "tx", "az", "rg", "th", "tw"])

    return src.mapInPandas(gen, schema=lut_schema)


# --------------------------------------------------- terrain fixture

TERRAIN_NAZ, TERRAIN_NRG = 160, 180
TERRAIN_BLOCKS = 12
TERRAIN_NL, TERRAIN_NC = 14, 16     # DEM grid per block


def terrain_block(b: int):
    """Analytic per-block DEM scene (az/rg mapping, ECEF-ish vertices,
    look vectors, shadow) — blocks overlap in SAR pixel space so the
    scatter-aggregate really reduces across blocks (like the
    reference's per-burst DEM files writing into one raster)."""
    i, j = np.mgrid[0:TERRAIN_NL, 0:TERRAIN_NC].astype(np.float64)
    # block origin walks diagonally with heavy overlap
    a0 = (b * 11) % (TERRAIN_NAZ - 2 * TERRAIN_NL)
    r0 = (b * 13) % (TERRAIN_NRG - 2 * TERRAIN_NC)
    az = a0 + i * 1.9 + 0.4 * np.sin(j / 3.0 + b)
    rg = r0 + j * 1.7 + 0.4 * np.cos(i / 4.0 - b)
    X = (r0 + j * 2.0) * 30.0
    Y = (a0 + i * 2.0) * 30.0
    Z = 25 * np.sin(X / 140.0 + b / 3.0) + 18 * np.cos(Y / 90.0)
    dx = np.full_like(X, -520.0) + 2.0 * np.sin(i / 5.0)
    dy = np.full_like(X, 110.0) + 1.5 * np.cos(j / 6.0)
    dz = np.full_like(X, 680.0)
    # ground look angle rises along range with terrain modulation; the
    # running-max scan (shadow_mask) marks dips as shadowed
    theta = 0.4 + 0.002 * j * TERRAIN_NC + 0.15 * np.sin(j / 2.0 + i / 7.0 + b)
    from eo_tools_spark.operators.sar_geom import shadow_mask

    shadow = shadow_mask(theta).astype(np.float64)
    return az, rg, X, Y, Z, dx, dy, dz, shadow


def terrain_contributions(spark: SparkSession) -> DataFrame:
    """Distributed map-side γ emit: one task per DEM block runs the
    vectorized triangle-membership kernel; the reduce is the caller's
    per-pixel aggregation (core.py:1377-1529 semantics)."""
    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("az", LongType()),
            StructField("rg", LongType()),
            StructField("gamma", DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eo_tools_spark.operators.sar_geom import terrain_gamma_contributions

        for pdf in batches:
            frames = []
            for b in pdf["id"]:
                args = terrain_block(int(b))
                a, r, g = terrain_gamma_contributions(
                    *args, TERRAIN_NAZ, TERRAIN_NRG
                )
                frames.append(
                    pd.DataFrame({"az": a.astype(np.int64), "rg": r.astype(np.int64), "gamma": g})
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"az": [], "rg": [], "gamma": []}
            )

    return spark.range(TERRAIN_BLOCKS).mapInPandas(gen, schema=schema)


# --------------------------------------------------- S2 band fixture

#: the SWIR composite recipe (operators/s2.COMPOSITES) — three distinct
#: bands so the 3-way tile join is genuinely exercised
S2_FIX_BANDS = ("B12", "B8A", "B4")


def s2_band_field(band: str):
    """Analytic reflectance field per band, range ≈ [-0.25, 1.45] so the
    composite's clip(0, 1) is exercised on BOTH sides (reference
    S2.py:244-247 does uint8(255·clip(band, 0, 1)))."""
    k = float(S2_FIX_BANDS.index(band) + 1)

    def fld(i: np.ndarray, j: np.ndarray) -> np.ndarray:
        v = 0.6 + 0.7 * np.sin(i / 13.0 + k) * np.cos(j / 19.0 - 2.0 * k)
        return v + 0.3 * (_hash_noise(i, j, 3.3 * k) - 0.5)

    return fld


def s2_band_tiles(spark: SparkSession, band: str) -> DataFrame:
    """One band's reflectance tile frame (TILE_SCHEMA, f4), pure in
    (ty, tx) like every fixture here."""
    nt = N_INSAR // T_INSAR
    src = spark.range(nt * nt)
    return src.mapInPandas(
        _tile_gen(band, s2_band_field(band), N_INSAR, T_INSAR, kind="f4"),
        schema=TILE_SCHEMA,
    )


def s2_band_dense(band: str) -> np.ndarray:
    """The same band as a full float32 raster (for the oracle recipe)."""
    ii, jj = np.mgrid[0:N_INSAR, 0:N_INSAR].astype(np.float64)
    return s2_band_field(band)(ii, jj).astype(np.float32)


# --------------------------------------------- coregistration fixture

COREG_NL, COREG_NC = 48, 52        # DEM node grid
COREG_NAZ, COREG_NRG = 128, 136    # primary pixel grid
COREG_HOLE = ((20, 23), (24, 27))  # NaN node hole (row range, col range)


def coreg_node_fields(i: np.ndarray, j: np.ndarray):
    """The analytic LUT fields (azp, rgp, azs, rgs), shared by the
    pinned fixture and the bench capacity probe (bench.py q17): primary
    (az, rg) spreads the node grid ~2.7-2.8 px apart with smooth warps
    (every primary pixel covered by some quad); secondary = primary
    plus a slowly varying misregistration field."""
    azp = i * 2.8 + 0.8 * np.sin(j / 5.0) - 1.0
    rgp = j * 2.7 + 0.8 * np.cos(i / 6.0) - 1.0
    azs = azp + 1.3 + 0.2 * np.sin(i / 9.0 + j / 11.0)
    rgs = rgp - 2.1 + 0.2 * np.cos(i / 8.0 - j / 13.0)
    return azp, rgp, azs, rgs


def coreg_nodes_dense():
    """The fixture LUT pair as dense (NL, NC) arrays. The NaN hole
    (COREG_HOLE) exercises the reference's skip-NaN-quad path
    (core.py:838-918)."""
    i, j = np.mgrid[0:COREG_NL, 0:COREG_NC].astype(np.float64)
    azp, rgp, azs, rgs = coreg_node_fields(i, j)
    hole = (slice(*COREG_HOLE[0]), slice(*COREG_HOLE[1]))
    for a in (azp, rgp, azs, rgs):
        a[hole] = np.nan
    return azp, rgp, azs, rgs


def coreg_nodes_frame(
    spark: SparkSession,
    nl: int,
    nc: int,
    hole: tuple | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Node-per-row DataFrame (i, j, azp, rgp, azs, rgs) at ANY grid
    size — fields computed per batch from the node index (pure, no
    dense materialization), so bench-scale grids stream."""
    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("azp", DoubleType()),
            StructField("rgp", DoubleType()),
            StructField("azs", DoubleType()),
            StructField("rgs", DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = pdf["id"].to_numpy(dtype=np.int64)
            ii = (idx // nc).astype(np.int32)
            jj = (idx % nc).astype(np.int32)
            azp, rgp, azs, rgs = coreg_node_fields(
                ii.astype(np.float64), jj.astype(np.float64)
            )
            if hole is not None:
                (r0, r1), (c0, c1) = hole
                m = (ii >= r0) & (ii < r1) & (jj >= c0) & (jj < c1)
                for a in (azp, rgp, azs, rgs):
                    a[m] = np.nan
            yield pd.DataFrame(
                {"i": ii, "j": jj, "azp": azp, "rgp": rgp,
                 "azs": azs, "rgs": rgs}
            )

    src = (
        spark.range(nl * nc, numPartitions=num_partitions)
        if num_partitions
        else spark.range(nl * nc)
    )
    return src.mapInPandas(gen, schema=schema)


def coreg_nodes(spark: SparkSession) -> DataFrame:
    """The pinned-oracle fixture frame (48×52 grid with the NaN hole)."""
    return coreg_nodes_frame(spark, COREG_NL, COREG_NC, hole=COREG_HOLE)


def terrain_gamma_dense_oracle() -> np.ndarray:
    """Dense numpy oracle: sum of every block's dense simulation
    (NaN-aware: a pixel is NaN only if NO block contributes)."""
    from eo_tools_spark.operators.sar_geom import simulate_terrain_gamma_dense

    acc = np.zeros((TERRAIN_NAZ, TERRAIN_NRG))
    hit = np.zeros((TERRAIN_NAZ, TERRAIN_NRG), dtype=bool)
    for b in range(TERRAIN_BLOCKS):
        d = simulate_terrain_gamma_dense(*terrain_block(b), TERRAIN_NAZ, TERRAIN_NRG)
        ok = ~np.isnan(d)
        acc[ok] += d[ok]
        hit |= ok
    return np.where(hit, acc, np.nan)
