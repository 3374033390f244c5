"""End-to-end InSAR pipeline integration test.

The Spark pipeline (coregistration LUTs → aligned resample →
interferogram → coherence → stitch) must equal a pure-numpy oracle
chain built from the same kernels' single-array forms
— the engine analog of the reference's full-processor golden outputs
(/root/reference/data/test-full-processor, scripts/test-s1-*.py).

The synthetic 'products' follow the reference's fixture trick: analytic
orbit + flat DEM + deterministic random SLC bursts.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from eo_tools_spark.functions import raster as R
from eo_tools_spark.operators.coreg import coregister
from eo_tools_spark.operators.geocode import range_doppler, remap
from eo_tools_spark.operators.tiles import (
    raster_to_tiles,
    tiles_coherence,
    tiles_interferogram,
    tiles_to_raster,
)


NAZ, NRG = 64, 64


def make_products(seed=7):
    """Two coherent SLC 'bursts' with a small known misregistration."""
    rng = np.random.default_rng(seed)
    base = (rng.normal(size=(NAZ + 4, NRG + 4)) + 1j * rng.normal(size=(NAZ + 4, NRG + 4))).astype(np.complex64)
    prm = base[:NAZ, :NRG]
    # secondary = same signal shifted by exactly (1, 2) px + small noise
    sec = (base[1 : NAZ + 1, 2 : NRG + 2] + 0.05 * (
        rng.normal(size=(NAZ, NRG)) + 1j * rng.normal(size=(NAZ, NRG))
    )).astype(np.complex64)
    return prm, sec


class TestInsarPipeline:
    def test_full_chain_matches_numpy_oracle(self, spark):
        prm, sec = make_products()

        # --- coregistration via LUTs: primary grid (az,rg) and secondary
        # LUT shifted by the known misregistration (1, 2)
        g = np.mgrid[0 : NAZ // 4, 0 : NRG // 4].astype(float)
        az_p = g[0] * 4.0
        rg_p = g[1] * 4.0
        # sec[i,j] = base[i+1, j+2]: the ground feature at primary (a, r)
        # sits at secondary (a-1, r-2) → secondary LUT = primary − shift
        az_s = az_p - 1.0
        rg_s = rg_p - 2.0
        az_co, rg_co = coregister(az_p, rg_p, az_s, rg_s, NAZ, NRG)

        # --- align secondary into primary grid (gather resample) with
        # the reference's DEFAULT kernel (bicubic, util.py:157)
        sec_aligned = remap(sec, az_co, rg_co, "bicubic").astype(np.complex64)

        # --- Spark tile pipeline on the aligned pair
        tp = raster_to_tiles(spark, prm, "p", 32)
        ts = raster_to_tiles(spark, sec_aligned, "s", 32)
        ifg_spark = tiles_to_raster(tiles_interferogram(tp, ts), 32)
        coh_spark = tiles_to_raster(tiles_coherence(tp, ts, 5, 5), 32)

        # --- numpy oracle of the same chain
        ifg_exp = (prm * np.conj(sec_aligned)).astype(np.complex64)
        coh_exp = R.coherence(prm, sec_aligned, 5, 5).astype(np.float32)

        np.testing.assert_allclose(ifg_spark, ifg_exp, rtol=1e-5, atol=1e-6, equal_nan=True)
        np.testing.assert_allclose(coh_spark, coh_exp, rtol=1e-4, atol=1e-5, equal_nan=True)

        # physical sanity: aligned pair is highly coherent (same signal),
        # 5% noise → coherence near 1 in the valid interior
        interior = coh_exp[8:-8, 8:-8]
        assert np.nanmean(interior) > 0.9

        # misaligned pair (raw secondary) decorrelates — the whole point
        # of coregistration
        coh_raw = R.coherence(prm, sec, 5, 5).astype(np.float32)
        assert np.nanmean(coh_raw[8:-8, 8:-8]) < 0.4

    def test_geocode_lut_roundtrip(self):
        """LUT produced by range_doppler is consistent: remapping the
        orbit-index grid through itself is the identity."""
        P = np.vstack((np.linspace(-10, 10, 10), np.full(10, 0), np.full(10, 10))).T
        V = np.vstack((np.ones(10), np.zeros(10), np.zeros(10))).T
        xs = np.linspace(-6, 6, 20)
        az, rg, _, _, _ = range_doppler(xs, np.zeros(20), np.zeros(20), P, V)
        assert np.isfinite(az).all()
        # az indices are monotone along the track — the LUT is invertible
        assert (np.diff(az) > 0).all()


class TestDistributedAlign:
    def test_full_chain_with_distributed_gather(self, spark):
        """The full chain with the alignment step DISTRIBUTED: the
        coregistration LUT is tiled and sar2geo_tiles gathers the
        secondary through it (data-dependent tile join), replacing the
        round-1 driver-side remap. Must equal the driver-side chain and
        stay coherent."""
        from eo_tools_spark.operators.geocode import sar2geo_tiles
        from eo_tools_spark.operators.tiles import tiles_coherence

        prm, sec = make_products()
        g = np.mgrid[0 : NAZ // 4, 0 : NRG // 4].astype(float)
        az_p, rg_p = g[0] * 4.0, g[1] * 4.0
        az_s, rg_s = az_p - 1.0, rg_p - 2.0
        az_co, rg_co = coregister(az_p, rg_p, az_s, rg_s, NAZ, NRG)

        T = 32
        ts = raster_to_tiles(spark, sec, "s", T)
        lut_rows = []
        for ty in range(NAZ // T):
            for tx in range(NRG // T):
                a = az_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                r = rg_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                lut_rows.append((f"t{ty}_{tx}", a.tobytes(), r.tobytes(), T, T))
        lut_df = spark.createDataFrame(
            lut_rows, "dem_tile_id string, az binary, rg binary, th int, tw int"
        )
        got_tiles = {
            r.dem_tile_id: np.frombuffer(bytes(r.data), dtype=np.complex64).reshape(T, T)
            for r in sar2geo_tiles(lut_df, ts, NAZ, NRG, T, "bicubic").collect()
        }
        nan_tile = np.full((T, T), np.nan + 1j * np.nan, dtype=np.complex64)
        aligned = np.full((NAZ, NRG), np.nan, dtype=np.complex64)
        for ty in range(NAZ // T):
            for tx in range(NRG // T):
                aligned[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T] = got_tiles.get(
                    f"t{ty}_{tx}", nan_tile
                )

        exp = remap(sec, az_co, rg_co, "bicubic").astype(np.complex64)
        np.testing.assert_allclose(aligned, exp, rtol=1e-5, atol=1e-6, equal_nan=True)

        # downstream: coherence of the distributed-aligned pair is high
        tp = raster_to_tiles(spark, prm, "p", T)
        ta = raster_to_tiles(spark, np.nan_to_num(aligned), "a", T)
        coh = tiles_to_raster(tiles_coherence(tp, ta, 5, 5), T)
        assert np.nanmean(coh[8:-8, 8:-8]) > 0.85


class TestInsarProductsAPI:
    def test_insar_products_composition(self, spark):
        """operators/insar.insar_products == the oracle chain (align →
        ifg → coherence), everything distributed tile-side."""
        from eo_tools_spark.operators.insar import insar_products

        prm, sec = make_products()
        g = np.mgrid[0 : NAZ // 4, 0 : NRG // 4].astype(float)
        az_p, rg_p = g[0] * 4.0, g[1] * 4.0
        az_co, rg_co = coregister(az_p, rg_p, az_p - 1.0, rg_p - 2.0, NAZ, NRG)

        T = 32
        lut_rows = []
        for ty in range(NAZ // T):
            for tx in range(NRG // T):
                a = az_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                r = rg_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T]
                lut_rows.append((ty, tx, a.tobytes(), r.tobytes(), T, T))
        lut_df = spark.createDataFrame(
            lut_rows, "ty int, tx int, az binary, rg binary, th int, tw int"
        )
        tp = raster_to_tiles(spark, prm, "p", T)
        ts = raster_to_tiles(spark, sec, "s", T)

        prods = insar_products(
            tp, ts, lut_df, NAZ, NRG, T, amplitude=True, filter_ifg=False
        )
        ali = tiles_to_raster(prods["aligned"], T)
        ifg_got = tiles_to_raster(prods["ifg"], T)
        coh_got = tiles_to_raster(prods["coh"], T)
        amp_got = tiles_to_raster(prods["amp"], T)

        exp_ali = remap(sec, az_co, rg_co, "bicubic").astype(np.complex64)
        np.testing.assert_allclose(ali, exp_ali, rtol=1e-5, atol=1e-6, equal_nan=True)
        ifg_exp = (prm * np.conj(exp_ali)).astype(np.complex64)
        np.testing.assert_allclose(ifg_got, ifg_exp, rtol=1e-5, atol=1e-6, equal_nan=True)
        coh_exp = R.coherence(prm, exp_ali, 5, 5).astype(np.float32)
        np.testing.assert_allclose(coh_got, coh_exp, rtol=1e-4, atol=1e-5, equal_nan=True)
        assert np.nanmean(coh_exp[8:-8, 8:-8]) > 0.85
        np.testing.assert_allclose(
            amp_got, np.abs(prm).astype(np.float32), rtol=1e-6, atol=1e-7
        )

    def _lut_df(self, spark, az_co, rg_co, T):
        rows = [
            (ty, tx,
             az_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T].tobytes(),
             rg_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T].tobytes(), T, T)
            for ty in range(NAZ // T) for tx in range(NRG // T)
        ]
        return spark.createDataFrame(
            rows, "ty int, tx int, az binary, rg binary, th int, tw int"
        )

    def test_insar_products_filter_ifg_is_boxcar(self, spark):
        """filter_ifg (reference DEFAULT True) emits ifg_box — the same
        (box_az, box_rg) boxcar used for the coherence numerator
        (process.py:66, 1774-1781) — NOT the raw product and NOT a
        Goldstein filter."""
        from eo_tools_spark.operators.insar import insar_products
        from eo_tools_spark.operators.tiles import tiles_boxcar

        prm, sec = make_products()
        g = np.mgrid[0 : NAZ // 4, 0 : NRG // 4].astype(float)
        az_p, rg_p = g[0] * 4.0, g[1] * 4.0
        az_co, rg_co = coregister(az_p, rg_p, az_p - 1.0, rg_p - 2.0, NAZ, NRG)
        T = 32
        lut_df = self._lut_df(spark, az_co, rg_co, T)
        tp = raster_to_tiles(spark, prm, "p", T)
        ts = raster_to_tiles(spark, sec, "s", T)
        prods = insar_products(tp, ts, lut_df, NAZ, NRG, T)  # default flags
        got = tiles_to_raster(prods["ifg"], T)
        exp_ali = remap(sec, az_co, rg_co, "bicubic").astype(np.complex64)
        ta = raster_to_tiles(spark, exp_ali, "a", T)
        exp = tiles_to_raster(tiles_boxcar(tiles_interferogram(tp, ta), 5, 5), T)
        np.testing.assert_allclose(got, exp, rtol=1e-4, atol=1e-5, equal_nan=True)

    def test_insar_products_goldstein_engine_extra(self, spark):
        """goldstein=True applies the distributed Goldstein filter —
        equals the manual tiled chain on the same aligned input."""
        from eo_tools_spark.operators.insar import insar_products
        from eo_tools_spark.operators.tiles import tiles_goldstein

        prm, sec = make_products()
        g = np.mgrid[0 : NAZ // 4, 0 : NRG // 4].astype(float)
        az_p, rg_p = g[0] * 4.0, g[1] * 4.0
        az_co, rg_co = coregister(az_p, rg_p, az_p - 1.0, rg_p - 2.0, NAZ, NRG)
        T = 32
        lut_df = self._lut_df(spark, az_co, rg_co, T)
        tp = raster_to_tiles(spark, prm, "p", T)
        ts = raster_to_tiles(spark, sec, "s", T)
        prods = insar_products(
            tp, ts, lut_df, NAZ, NRG, T, filter_ifg=False, goldstein=True
        )
        got = tiles_to_raster(prods["ifg"], T)
        exp_ali = remap(sec, az_co, rg_co, "bicubic").astype(np.complex64)
        ta = raster_to_tiles(spark, exp_ali, "a", T)
        exp = tiles_to_raster(tiles_goldstein(tiles_interferogram(tp, ta)), T)
        np.testing.assert_allclose(got, exp, rtol=1e-4, atol=1e-5, equal_nan=True)

    def test_insar_products_amplitude_multilooked(self, spark):
        """amp = presum(|slc|, mlt) (process.py:1611-1613) — the grid
        matches the other multilooked products."""
        from eo_tools_spark.operators.insar import insar_products
        from eo_tools_spark.functions.raster import presum

        prm, sec = make_products()
        g = np.mgrid[0 : NAZ // 4, 0 : NRG // 4].astype(float)
        az_p, rg_p = g[0] * 4.0, g[1] * 4.0
        az_co, rg_co = coregister(az_p, rg_p, az_p - 1.0, rg_p - 2.0, NAZ, NRG)
        T = 32
        lut_df = self._lut_df(spark, az_co, rg_co, T)
        tp = raster_to_tiles(spark, prm, "p", T)
        ts = raster_to_tiles(spark, sec, "s", T)
        prods = insar_products(
            tp, ts, lut_df, NAZ, NRG, T, mlt_az=2, mlt_rg=2, amplitude=True
        )
        amp = tiles_to_raster(prods["amp"], T // 2)
        exp = presum(np.abs(prm), 2, 2).astype(np.float32)
        np.testing.assert_allclose(amp, exp, rtol=1e-5, atol=1e-6)


class TestGeocodeAndMerge:
    def test_two_swath_mosaic_and_clip(self, spark):
        """geocode_and_merge (process.py:1305-1458): two overlapping
        'subswaths' gather into the shared geo grid, first-priority
        wins in the overlap, AOI clip NaNs the outside."""
        from eo_tools_spark.operators.insar import geocode_and_merge

        rng = np.random.default_rng(31)
        G = 64          # geo grid side
        T = 32
        truth = rng.normal(size=(G, G)).astype(np.float32)

        # swath A sees geo cols [0, 40), swath B sees [24, 64)
        sar_a = truth[:, 0:40].copy()
        sar_b = truth[:, 24:64].copy()
        ta = raster_to_tiles(spark, sar_a, "A", T)
        tb = raster_to_tiles(spark, sar_b, "B", T)

        def lut_for(col_lo, col_hi, col_off):
            rows = []
            for ty in range(G // T):
                for tx in range(G // T):
                    rr, cc = np.mgrid[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T].astype(float)
                    az = rr.copy()
                    rg = cc - col_off
                    bad = (cc < col_lo) | (cc >= col_hi)
                    az[bad] = np.nan
                    rg[bad] = np.nan
                    rows.append((ty, tx, az.tobytes(), rg.tobytes(), T, T))
            return spark.createDataFrame(
                rows, "ty int, tx int, az binary, rg binary, th int, tw int"
            )

        lut_a = lut_for(0, 40, 0)
        lut_b = lut_for(24, 64, 24)

        mosaic = geocode_and_merge(
            [(ta, lut_a, G, 40), (tb, lut_b, G, 40)], T, kernel="nearest"
        )
        got = tiles_to_raster(mosaic, T)
        np.testing.assert_allclose(got, truth, rtol=1e-6, equal_nan=True)

        # AOI clip: keep only the box x∈[8,48), y∈[8,48) in pixel space
        # (geo: origin (0, 64), px=1 → pixel (r,c) at (c+0.5, 63.5-r))
        ring = np.array([[8.0, 16.0], [48.0, 16.0], [48.0, 56.0], [8.0, 56.0], [8.0, 16.0]])
        clipped = geocode_and_merge(
            [(ta, lut_a, G, 40), (tb, lut_b, G, 40)], T, kernel="nearest",
            aoi=ring, geo_origin=(0.0, 64.0), geo_px=1.0,
        )
        gc = tiles_to_raster(clipped, T)
        assert np.isnan(gc[0, 0]) and np.isnan(gc[63, 63])
        inside = gc[16:48, 16:48]
        assert not np.isnan(inside).any()
        np.testing.assert_allclose(inside, truth[16:48, 16:48], rtol=1e-6)

    def test_uncovered_geo_tile_is_nan_not_missing(self, spark):
        """A geo tile no swath reaches must come back as a NaN nodata
        tile (rasterio merge fills the union bbox), not silently vanish."""
        from eo_tools_spark.operators.insar import geocode_and_merge

        rng = np.random.default_rng(5)
        G, T = 64, 32
        truth = rng.normal(size=(G, G)).astype(np.float32)
        sar = raster_to_tiles(spark, truth[:, 0:32].copy(), "A", T)
        # LUT only covers geo cols [0, 32) → right-hand tiles uncovered
        rows = []
        for ty in range(G // T):
            for tx in range(G // T):
                rr, cc = np.mgrid[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T].astype(float)
                az, rg = rr.copy(), cc.copy()
                bad = cc >= 32
                az[bad] = np.nan
                rg[bad] = np.nan
                rows.append((ty, tx, az.tobytes(), rg.tobytes(), T, T))
        lut = spark.createDataFrame(
            rows, "ty int, tx int, az binary, rg binary, th int, tw int"
        )
        mosaic = geocode_and_merge([(sar, lut, G, 32)], T, kernel="nearest")
        assert mosaic.count() == (G // T) ** 2  # ALL tiles present
        got = tiles_to_raster(mosaic, T)
        np.testing.assert_allclose(got[:, 0:32], truth[:, 0:32], rtol=1e-6)
        assert np.isnan(got[:, 32:]).all()

    def test_insar_products_cover_full_lut_extent(self, spark):
        """A primary tile whose LUT values are fully out of the
        secondary's bounds must come back as a NaN tile in aligned/ifg/
        coh — not silently vanish (ADVICE r2: align_secondary_tiles
        previously emitted a frame sparser than the reference's dense
        NaN-filled arrays with no signal)."""
        from eo_tools_spark.operators.insar import insar_products

        prm, sec = make_products()
        g = np.mgrid[0:NAZ, 0:NRG].astype(float)
        az_co, rg_co = g[0].copy(), g[1].copy()
        T = 32
        # tile (1, 1): LUT points far outside the secondary → no output
        # row from the gather join at all
        az_co[T:, T:] = -500.0
        lut_rows = [
            (ty, tx,
             az_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T].tobytes(),
             rg_co[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T].tobytes(), T, T)
            for ty in range(NAZ // T) for tx in range(NRG // T)
        ]
        lut_df = spark.createDataFrame(
            lut_rows, "ty int, tx int, az binary, rg binary, th int, tw int"
        )
        tp = raster_to_tiles(spark, prm, "p", T)
        ts = raster_to_tiles(spark, sec, "s", T)
        prods = insar_products(tp, ts, lut_df, NAZ, NRG, T, filter_ifg=False)
        n_tiles = (NAZ // T) * (NRG // T)
        ali = prods["aligned"]
        assert ali.count() == n_tiles
        ali_r = tiles_to_raster(ali, T)
        assert np.isnan(ali_r[T:, T:]).all()  # the OOB tile is NaN
        assert not np.isnan(ali_r[:T, :T]).any()  # identity tile intact
        ifg_r = tiles_to_raster(prods["ifg"], T)
        assert np.isnan(ifg_r[T:, T:]).all()
        coh_r = tiles_to_raster(prods["coh"], T)
        assert np.isnan(coh_r[T + 5 :, T + 5 :]).all()
