"""Tile algebra: the block-with-halo ≡ global-array law
(/root/reference/tests/test_auxils.py:12-81 is the model: block
processing must equal the global op), plus operator-level oracles."""

import numpy as np
import pytest

from eo_tools_spark.functions import raster as R
from eo_tools_spark.operators.tiles import (
    raster_to_tiles,
    tiles_boxcar,
    tiles_coherence,
    tiles_interferogram,
    tiles_presum,
    tiles_to_raster,
)

TILE = 32


def rand_complex(seed, h=96, w=80, nan_frac=0.05):
    rng = np.random.default_rng(seed)
    arr = (rng.normal(size=(h, w)) + 1j * rng.normal(size=(h, w))).astype(np.complex64)
    if nan_frac:
        m = rng.random((h, w)) < nan_frac
        arr[m] = np.nan + 1j * np.nan
    return arr


def rand_real(seed, h=96, w=80, nan_frac=0.05):
    rng = np.random.default_rng(seed)
    arr = rng.normal(size=(h, w)).astype(np.float32)
    if nan_frac:
        arr[rng.random((h, w)) < nan_frac] = np.nan
    return arr


class TestGlobalKernels:
    def test_boxcar_is_windowed_mean(self):
        x = np.arange(49, dtype=float).reshape(7, 7)
        out = R.boxcar(x, 3, 3)
        # interior pixel = mean of 3x3 window
        assert out[3, 3] == pytest.approx(x[2:5, 2:5].mean())

    def test_boxcar_nan_semantics(self):
        # reference: NaNs zero-filled pre-filter (no renorm), restored after
        x = np.ones((5, 5))
        x[2, 2] = np.nan
        out = R.boxcar(x, 3, 3)
        assert np.isnan(out[2, 2])
        assert out[1, 1] == pytest.approx(8 / 9)  # window contains the zero

    def test_presum_matches_reference_algebra(self):
        x = np.arange(30, dtype=float).reshape(5, 6)
        out = R.presum(x, 2, 3)
        assert out.shape == (2, 2)
        assert out[0, 0] == pytest.approx(x[:2, :3].mean())

    def test_presum_complex(self):
        x = rand_complex(1, 8, 9, 0)
        out = R.presum(x, 2, 3)
        assert out.shape == (4, 3)
        np.testing.assert_allclose(out[1, 1], x[2:4, 3:6].mean(), rtol=1e-6)

    def test_erosion(self):
        m = np.ones((7, 7), dtype=bool)
        m[3, 3] = False
        out = R.erosion(m, 3, 3)
        assert not out[2:5, 2:5].any()
        assert out[0, 0]  # far corner untouched (reflect keeps True)


class TestTileLaw:
    """block-with-halo processing ≡ global-array processing."""

    @pytest.mark.parametrize("box", [(3, 3), (5, 3), (4, 4)])
    def test_boxcar_law_real(self, spark, box):
        arr = rand_real(7)
        tiles = raster_to_tiles(spark, arr, "r", TILE)
        got = tiles_to_raster(tiles_boxcar(tiles, *box), TILE)
        exp = R.boxcar(arr.astype(np.float64), *box).astype(np.float32)
        np.testing.assert_allclose(got, exp, rtol=1e-5, atol=1e-6, equal_nan=True)

    @pytest.mark.parametrize("shape", [(33, 17), (65, 34), (31, 97)])
    def test_boxcar_law_partial_edge_tiles(self, spark, shape):
        """Edge tiles SMALLER than the halo (H%tile or W%tile in
        (0, halo)) — the margin must mix real neighbor rows with the
        reflect fill, not zeros (regression: code-review finding)."""
        h, w = shape
        arr = rand_real(40 + h + w, h, w, 0.03)
        tiles = raster_to_tiles(spark, arr, "r", 16)
        got = tiles_to_raster(tiles_boxcar(tiles, 5, 5), 16)
        exp = R.boxcar(arr.astype(np.float64), 5, 5).astype(np.float32)
        np.testing.assert_allclose(got, exp, rtol=1e-5, atol=1e-6, equal_nan=True)

    def test_boxcar_law_complex(self, spark):
        arr = rand_complex(8)
        tiles = raster_to_tiles(spark, arr, "r", TILE)
        got = tiles_to_raster(tiles_boxcar(tiles, 5, 5), TILE)
        exp = R.boxcar(arr, 5, 5).astype(np.complex64)
        np.testing.assert_allclose(got, exp, rtol=1e-5, atol=1e-6, equal_nan=True)

    def test_presum_law(self, spark):
        arr = rand_real(9, 96, 64, 0)
        tiles = raster_to_tiles(spark, arr, "r", TILE)
        got = tiles_to_raster(tiles_presum(tiles, 2, 2), TILE // 2)
        exp = R.presum(arr.astype(np.float64), 2, 2).astype(np.float32)
        np.testing.assert_allclose(got, exp, rtol=1e-5, atol=1e-6)

    def test_interferogram_law(self, spark):
        p, s = rand_complex(10), rand_complex(11)
        tp = raster_to_tiles(spark, p, "p", TILE)
        ts = raster_to_tiles(spark, s, "s", TILE)
        got = tiles_to_raster(tiles_interferogram(tp, ts), TILE)
        np.testing.assert_allclose(got, (p * np.conj(s)).astype(np.complex64),
                                   rtol=1e-5, atol=1e-6, equal_nan=True)

    def test_coherence_law(self, spark):
        """Distributed coherence == global oracle (process.py:1670-1793
        semantics: presum, boxcar ratio, erosion mask)."""
        p, s = rand_complex(12), rand_complex(13)
        # correlate s with p so coherence is non-trivial
        s = (0.7 * p + 0.3 * s).astype(np.complex64)
        tp = raster_to_tiles(spark, p, "p", TILE)
        ts = raster_to_tiles(spark, s, "s", TILE)
        got = tiles_to_raster(tiles_coherence(tp, ts, 5, 5), TILE)
        exp = R.coherence(p, s, 5, 5).astype(np.float32)
        np.testing.assert_allclose(got, exp, rtol=1e-4, atol=1e-5, equal_nan=True)
        # sanity: coherence of correlated signals is high
        assert np.nanmean(exp) > 0.5

    def test_coherence_with_multilook(self, spark):
        p, s = rand_complex(14, 64, 64, 0.02), rand_complex(15, 64, 64, 0.02)
        tp = raster_to_tiles(spark, p, "p", 32)
        ts = raster_to_tiles(spark, s, "s", 32)
        got = tiles_to_raster(tiles_coherence(tp, ts, 3, 3, 2, 2), 16)
        exp = R.coherence(p, s, 3, 3, 2, 2).astype(np.float32)
        np.testing.assert_allclose(got, exp, rtol=1e-4, atol=1e-5, equal_nan=True)


class TestDualPolCovariance:
    def test_covariance_pipeline_law(self, spark):
        """c11/c22/c12 from two pol channels (boxcar + multilook) ==
        global composition (process.py:1943-2066 semantics)."""
        vv = rand_complex(20, 64, 64, 0.02)
        vh = rand_complex(21, 64, 64, 0.02)
        t_vv = raster_to_tiles(spark, vv, "vv", 32)
        t_vh = raster_to_tiles(spark, vh, "vh", 32)

        from eo_tools_spark.operators.tiles import tiles_zip

        c11 = tiles_boxcar(
            tiles_zip(t_vv, t_vv, lambda a, b: (a * np.conj(b)).real.astype(np.float32), "f4", "c11"),
            3, 3,
        )
        c12 = tiles_boxcar(
            tiles_zip(t_vv, t_vh, lambda a, b: a * np.conj(b), "c8", "c12"), 3, 3
        )
        got_c11 = tiles_to_raster(c11, 32)
        got_c12 = tiles_to_raster(c12, 32)
        exp_c11 = R.boxcar(np.nan_to_num((vv * np.conj(vv)).real) * 0 + (vv * np.conj(vv)).real, 3, 3).astype(np.float32)
        exp_c12 = R.boxcar(vv * np.conj(vh), 3, 3).astype(np.complex64)
        np.testing.assert_allclose(got_c11, exp_c11, rtol=1e-4, atol=1e-5, equal_nan=True)
        np.testing.assert_allclose(got_c12, exp_c12, rtol=1e-4, atol=1e-5, equal_nan=True)


class TestEigh:
    def test_single_mechanism_simulation(self):
        """Port of the reference's simulation oracle
        (/root/reference/tests/test_s1_process.py:230-283): a single
        scattering mechanism → λ1 ≈ power, H ≈ 0, alpha ≈ mechanism angle."""
        rng = np.random.default_rng(0)
        n = 20000
        alpha_true = np.pi / 5
        # unit target vector (cos α, sin α·e^{jφ}) scaled by √7
        phase = rng.uniform(0, 2 * np.pi)
        k1 = np.sqrt(7.0) * np.cos(alpha_true) * np.ones(n)
        k2 = np.sqrt(7.0) * np.sin(alpha_true) * np.exp(1j * phase) * np.ones(n)
        c11 = np.array([[np.mean(k1 * np.conj(k1)).real]])
        c22 = np.array([[np.mean(k2 * np.conj(k2)).real]])
        c12 = np.array([[np.mean(k1 * np.conj(k2))]])
        l1, l2, _, _ = R.eigh_2x2(c11, c22, c12)
        assert l1[0, 0] == pytest.approx(7.0, rel=1e-3)
        assert l2[0, 0] == pytest.approx(0.0, abs=1e-6)
        H, alpha = R.h_alpha(c11, c22, c12)
        assert H[0, 0] == pytest.approx(0.0, abs=1e-3)
        assert alpha[0, 0] == pytest.approx(alpha_true, rel=1e-3)

    def test_eigh_degenerate_diagonal(self):
        """c12==0 with c11>=c22 (diagonal covariance): eigenvector is
        (1,0) so alpha1=0 — regression for the zero-vector bug that
        reported alpha=pi/2 for pure first-channel scatterers."""
        H, alpha = R.h_alpha(np.array([[2.0]]), np.array([[0.5]]), np.array([[0.0 + 0j]]))
        # weighted: p1=0.8 (alpha1=0) + p2=0.2 (alpha2=pi/2)
        assert alpha[0, 0] == pytest.approx(0.2 * np.pi / 2, rel=1e-9)
        H2, a2 = R.h_alpha(np.array([[2.0]]), np.array([[0.0]]), np.array([[0.0 + 0j]]))
        assert a2[0, 0] == pytest.approx(0.0, abs=1e-9)
        assert H2[0, 0] == pytest.approx(0.0, abs=1e-9)

    def test_eigh_matches_numpy(self):
        rng = np.random.default_rng(3)
        c11 = rng.uniform(0.5, 2, (4, 4))
        c22 = rng.uniform(0.5, 2, (4, 4))
        c12 = (rng.normal(size=(4, 4)) + 1j * rng.normal(size=(4, 4))) * 0.3
        l1, l2, _, _ = R.eigh_2x2(c11, c22, c12)
        for i in range(4):
            for j in range(4):
                M = np.array([[c11[i, j], c12[i, j]], [np.conj(c12[i, j]), c22[i, j]]])
                ev = np.linalg.eigvalsh(M)
                assert l2[i, j] == pytest.approx(ev[0], rel=1e-9, abs=1e-12)
                assert l1[i, j] == pytest.approx(ev[1], rel=1e-9, abs=1e-12)


class TestFusedCoherence:
    """VERDICT r1 item 10: chained stencil ops fused into one halo
    exchange — results identical, shuffle count collapsed."""

    def test_fused_equals_unfused_bitexact(self, spark):
        p, s = rand_complex(21), rand_complex(22)
        s = (0.6 * p + 0.4 * s).astype(np.complex64)
        # plant NaNs so the erosion-mask path is exercised
        p[3:5, 7:9] = np.nan + 1j * np.nan
        tp = raster_to_tiles(spark, p, "p", TILE)
        ts = raster_to_tiles(spark, s, "s", TILE)
        fused = tiles_to_raster(tiles_coherence(tp, ts, 5, 5, fused=True), TILE)
        unfused = tiles_to_raster(tiles_coherence(tp, ts, 5, 5, fused=False), TILE)
        # the fused kernel replays the unfused cast chain → bit equality
        np.testing.assert_array_equal(
            np.nan_to_num(fused, nan=-1.0), np.nan_to_num(unfused, nan=-1.0)
        )

    def test_fused_equals_unfused_multilook_complex(self, spark):
        p, s = rand_complex(23, 64, 64, 0.02), rand_complex(24, 64, 64, 0.02)
        tp = raster_to_tiles(spark, p, "p", 32)
        ts = raster_to_tiles(spark, s, "s", 32)
        f = tiles_to_raster(tiles_coherence(tp, ts, 3, 3, 2, 2, magnitude=False, fused=True), 16)
        u = tiles_to_raster(tiles_coherence(tp, ts, 3, 3, 2, 2, magnitude=False, fused=False), 16)
        np.testing.assert_array_equal(
            np.nan_to_num(f, nan=-1.0), np.nan_to_num(u, nan=-1.0)
        )

    def test_fused_plan_has_fewer_exchanges(self, spark):
        p, s = rand_complex(25), rand_complex(26)
        tp = raster_to_tiles(spark, p, "p", TILE)
        ts = raster_to_tiles(spark, s, "s", TILE)

        def n_exchanges(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Exchange")

        nf = n_exchanges(tiles_coherence(tp, ts, 5, 5, fused=True))
        nu = n_exchanges(tiles_coherence(tp, ts, 5, 5, fused=False))
        assert nf < nu, (nf, nu)
        assert nf <= 3  # product join + halo groupBy (+ input prep)
