"""Coregistration, block_process law, Goldstein filter."""

import numpy as np
import pytest

from eo_tools_spark.functions import raster as R
from eo_tools_spark.operators.coreg import coregister


class TestCoregister:
    def test_identity_lut(self):
        """If secondary LUT == primary LUT, the projection is the
        identity on covered integer pixels."""
        g = np.mgrid[0:6, 0:7]
        azp = g[0].astype(float)
        rgp = g[1].astype(float)
        az_out, rg_out = coregister(azp, rgp, azp, rgp, 6, 7)
        # interior integer pixels covered by some triangle → value == coord
        cov = ~np.isnan(az_out)
        assert cov.sum() > 10
        ai, ri = np.where(cov)
        np.testing.assert_allclose(az_out[cov], ai.astype(float), atol=1e-9)
        np.testing.assert_allclose(rg_out[cov], ri.astype(float), atol=1e-9)

    def test_local_kernel_budget_guard(self):
        """Round-5 verdict task 7: the LOCAL per-quad-loop kernel must
        refuse full-burst/scene grids and steer callers to the
        distributed coreg_project."""
        import pytest

        from eo_tools_spark.operators.coreg import MAX_LOCAL_COREG_PIXELS

        g = np.mgrid[0:4, 0:4]
        azp, rgp = g[0].astype(float), g[1].astype(float)
        naz = MAX_LOCAL_COREG_PIXELS // 1000 + 1
        with pytest.raises(ValueError, match="coreg_project"):
            coregister(azp, rgp, azp, rgp, naz, 1000)
        # a full S1 burst LUT (~1500 x 25000) is over budget by design
        assert 1500 * 25000 > MAX_LOCAL_COREG_PIXELS

    def test_constant_offset(self):
        """Secondary shifted by (+2, +3) → projected coords = primary
        + (2, 3) wherever covered (linear function reproduced exactly
        by barycentric interpolation)."""
        g = np.mgrid[0:8, 0:8]
        azp, rgp = g[0].astype(float), g[1].astype(float)
        az_out, rg_out = coregister(azp, rgp, azp + 2.0, rgp + 3.0, 8, 8)
        cov = ~np.isnan(az_out)
        ai, ri = np.where(cov)
        np.testing.assert_allclose(az_out[cov], ai + 2.0, atol=1e-9)
        np.testing.assert_allclose(rg_out[cov], ri + 3.0, atol=1e-9)

    def test_membership_rule_matches_reference_loop(self):
        """Exact parity with a per-pixel port of the reference's
        bary/is_in_tri logic (core.py:858-868) on a warped LUT."""
        rng = np.random.default_rng(3)
        nl = nc = 6
        g = np.mgrid[0:nl, 0:nc].astype(float)
        azp = g[0] * 1.8 + 0.2 * g[1] + rng.normal(0, 0.05, (nl, nc))
        rgp = g[1] * 1.7 - 0.1 * g[0] + rng.normal(0, 0.05, (nl, nc))
        azs = azp + 1.3 + 0.01 * g[1]
        rgs = rgp - 0.7 + 0.02 * g[0]
        naz, nrg = 12, 12
        got_az, got_rg = coregister(azp, rgp, azs, rgs, naz, nrg)

        # independent slow oracle following the reference's loop order
        exp_az = np.full((naz, nrg), np.nan)
        exp_rg = np.full((naz, nrg), np.nan)

        def bary(px, py, A, B, C):
            det = (B[1] - C[1]) * (A[0] - C[0]) + (C[0] - B[0]) * (A[1] - C[1])
            l1 = ((B[1] - C[1]) * (px - C[0]) + (C[0] - B[0]) * (py - C[1])) / det
            l2 = ((C[1] - A[1]) * (px - C[0]) + (A[0] - C[0]) * (py - C[1])) / det
            return l1, l2, 1 - l1 - l2

        for i in range(nl - 1):
            for j in range(nc - 1):
                aa = azp[i : i + 2, j : j + 2].ravel()
                rr = rgp[i : i + 2, j : j + 2].ravel()
                aas = azs[i : i + 2, j : j + 2].ravel()
                rrs = rgs[i : i + 2, j : j + 2].ravel()
                amin = max(int(np.floor(aa.min())), 0)
                amax = min(int(np.ceil(aa.max())), naz - 1)
                rmin = max(int(np.floor(rr.min())), 0)
                rmax = min(int(np.ceil(rr.max())), nrg - 1)
                for a in range(amin, amax + 1):
                    for r in range(rmin, rmax + 1):
                        for v in ((0, 1, 2), (3, 1, 2)):
                            A = (aa[v[0]], rr[v[0]])
                            B = (aa[v[1]], rr[v[1]])
                            C = (aa[v[2]], rr[v[2]])
                            l1, l2, l3 = bary(a, r, A, B, C)
                            if l1 >= 0 and l2 >= 0 and l1 + l2 < 1:
                                exp_az[a, r] = l1 * aas[v[0]] + l2 * aas[v[1]] + l3 * aas[v[2]]
                                exp_rg[a, r] = l1 * rrs[v[0]] + l2 * rrs[v[1]] + l3 * rrs[v[2]]
        np.testing.assert_allclose(got_az, exp_az, atol=1e-9, equal_nan=True)
        np.testing.assert_allclose(got_rg, exp_rg, atol=1e-9, equal_nan=True)


class TestCoregProject:
    """Distributed coregistration (coreg_project) vs the dense
    reference loop (coregister) on the driver-gate fixture — the same
    parity the oracle-pinning script asserts, kept here as the durable
    regression net."""

    def _dense(self, pdf, naz, nrg):
        az = np.full((naz, nrg), np.nan)
        rg = np.full((naz, nrg), np.nan)
        az[pdf.apix, pdf.rpix] = pdf.az_s
        rg[pdf.apix, pdf.rpix] = pdf.rg_s
        return az, rg

    @pytest.mark.parametrize("block", [16, 64])
    def test_matches_dense_reference(self, spark, block):
        from eo_tools_spark.operators.coreg import coreg_project
        from eo_tools_spark.sources.insar_fixture import (
            COREG_NAZ, COREG_NRG, coreg_nodes, coreg_nodes_dense,
        )

        azp, rgp, azs, rgs = coreg_nodes_dense()
        exp_az, exp_rg = coregister(azp, rgp, azs, rgs, COREG_NAZ, COREG_NRG)
        pdf = coreg_project(
            coreg_nodes(spark), COREG_NAZ, COREG_NRG, block=block
        ).toPandas()
        got_az, got_rg = self._dense(pdf, COREG_NAZ, COREG_NRG)
        # block=16 vs 64 partitions quads differently; both must agree
        # with the dense loop — the halo replication and the global quad
        # rank make "later quads win" partition-invariant
        assert (np.isnan(got_az) == np.isnan(exp_az)).all()
        np.testing.assert_allclose(got_az, exp_az, rtol=1e-12, equal_nan=True)
        np.testing.assert_allclose(got_rg, exp_rg, rtol=1e-12, equal_nan=True)
        n_cov = int(np.isfinite(exp_az).sum())
        assert 0 < n_cov < COREG_NAZ * COREG_NRG  # NaN hole removes coverage

    def test_contribution_stream_and_rank_winner(self):
        """The reduce semantics BEFORE the groupBy collapses them: the
        kernel emits at most one contribution per (pixel, quad), some
        pixels receive contributions from several quads, and taking the
        max-rank winner per pixel reproduces the dense reference loop
        (the property coreg_project's max_by relies on)."""
        import pandas as pd

        from eo_tools_spark.operators.coreg import _quad_contribs

        # a FOLDED azimuth LUT (1.5·i + 2.5·sin i is non-monotonic in i)
        # makes later quads genuinely overwrite earlier ones — the smooth
        # fixture's quads partition the pixel grid, which would leave the
        # multi-writer reduce untested
        g = np.mgrid[0:8, 0:8].astype(float)
        azp = g[0] * 1.5 + 2.5 * np.sin(g[0])
        rgp = g[1] * 1.5
        azs, rgs = azp + 2.0, rgp - 1.0
        naz = nrg = 16
        exp_az, _ = coregister(azp, rgp, azs, rgs, naz, nrg)
        sub = np.stack([azp, rgp, azs, rgs], axis=-1)
        apix, rpix, rank, vaz, vrg = _quad_contribs(sub, 0, 0, naz, nrg)
        c = pd.DataFrame(
            {"a": apix, "r": rpix, "k": rank, "va": vaz, "vr": vrg}
        )
        # one row per (pixel, quad) — the shuffle volume claim
        assert not c.duplicated(["a", "r", "k"]).any()
        # the fold makes some pixels see >1 quad, so max_by does real
        # work (not a degenerate single-writer reduce)
        per_pix = c.groupby(["a", "r"]).size()
        assert (per_pix > 1).any()
        win = c.sort_values("k").groupby(["a", "r"]).last()
        got_az = np.full((naz, nrg), np.nan)
        got_az[win.index.get_level_values(0), win.index.get_level_values(1)] = win["va"]
        np.testing.assert_allclose(got_az, exp_az, rtol=1e-12, equal_nan=True)


class TestBlockProcess:
    def test_law_pointwise_no_overlap(self):
        """block_process ≡ global op for pointwise fn
        (/root/reference/tests/test_auxils.py:12-81)."""
        rng = np.random.default_rng(1)
        img = rng.normal(size=(50, 70))
        out = R.block_process(img, (16, 16), (0, 0), lambda x: x * 2 + 1)
        np.testing.assert_allclose(out, img * 2 + 1)

    def test_law_pointwise_with_overlap(self):
        rng = np.random.default_rng(2)
        img = rng.normal(size=(41, 33))
        out = R.block_process(img, (10, 10), (3, 3), np.sin)
        np.testing.assert_allclose(out, np.sin(img))


class TestGoldstein:
    def test_reduces_phase_noise(self):
        """Filtered interferogram is closer to the clean ramp than the
        noisy input (the filter's purpose) and unit-output shape."""
        rng = np.random.default_rng(5)
        yy, xx = np.mgrid[0:96, 0:96]
        clean = 0.15 * xx + 0.08 * yy
        noisy = np.exp(1j * (clean + rng.normal(0, 0.7, clean.shape)))
        out = R.goldstein_chunk(noisy.astype(np.complex64), alpha=0.8)
        assert out.shape == noisy.shape
        def phase_rmse(z):
            d = np.angle(z * np.exp(-1j * clean))
            return np.sqrt(np.mean(d[8:-8, 8:-8] ** 2))
        assert phase_rmse(out) < phase_rmse(noisy) * 0.8

    def test_tiles_match_global_single_tile(self, spark):
        """Per equal grid (one tile == one chunk), tiled == global."""
        from eo_tools_spark.operators.tiles import (
            raster_to_tiles,
            tiles_goldstein,
            tiles_to_raster,
        )

        rng = np.random.default_rng(6)
        arr = np.exp(1j * rng.uniform(-np.pi, np.pi, (64, 64))).astype(np.complex64)
        tiles = raster_to_tiles(spark, arr, "ifg", 64)
        got = tiles_to_raster(tiles_goldstein(tiles, alpha=0.5), 64)
        exp = R.goldstein_chunk(
            np.pad(arr, 32, mode="symmetric"), alpha=0.5
        )[32:-32, 32:-32].astype(np.complex64)
        np.testing.assert_allclose(got, exp, rtol=1e-4, atol=1e-5)

