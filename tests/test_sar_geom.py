"""Scatter-accumulate / terrain gamma / shadow semantics tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from eo_tools_spark.operators.sar_geom import (
    scatter_accumulate,
    scatter_to_dense,
    shadow_mask,
    terrain_scatter_oracle,
)


class TestScatter:
    def test_groupby_sum_equals_oracle(self, spark):
        rng = np.random.default_rng(5)
        n = 5000
        naz, nrg = 30, 40
        az_f = rng.uniform(-1, naz, n)
        rg_f = rng.uniform(-1, nrg, n)
        gamma = rng.uniform(0, 2, n)
        exp = terrain_scatter_oracle(az_f, rg_f, gamma, naz, nrg)

        az = np.round(az_f).astype(int)
        rg = np.round(rg_f).astype(int)
        ok = (az >= 0) & (az < naz) & (rg >= 0) & (rg < nrg)
        df = spark.createDataFrame(
            pd.DataFrame({"az": az[ok], "rg": rg[ok], "gamma": gamma[ok]})
        )
        out = scatter_accumulate(df).toPandas()
        got = scatter_to_dense(out, naz, nrg)
        np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)


class TestTerrainGamma:
    def _scene(self, seed=3, nl=8, nc=9):
        rng = np.random.default_rng(seed)
        g = np.mgrid[0:nl, 0:nc].astype(float)
        az = g[0] * 2.2 + rng.normal(0, 0.05, (nl, nc))
        rg = g[1] * 2.1 + rng.normal(0, 0.05, (nl, nc))
        X = g[1] * 30.0
        Y = g[0] * 30.0
        Z = 20 * np.sin(X / 80) + 15 * np.cos(Y / 60)  # rolling terrain
        dx = np.full((nl, nc), -500.0)
        dy = np.full((nl, nc), 100.0)
        dz = np.full((nl, nc), 700.0)  # steep-ish look vector
        shadow = np.full((nl, nc), np.nan)
        return az, rg, X, Y, Z, dx, dy, dz, shadow

    def test_distributed_scatter_equals_dense_oracle(self, spark):
        from eo_tools_spark.operators.sar_geom import (
            simulate_terrain_gamma_dense,
            terrain_gamma_contributions,
        )

        naz, nrg = 18, 20
        args = self._scene()
        exp = simulate_terrain_gamma_dense(*args, naz, nrg)
        a, r, g = terrain_gamma_contributions(*args, naz, nrg)
        assert len(a) > 50
        df = spark.createDataFrame(
            pd.DataFrame({"az": a, "rg": r, "gamma": g})
        )
        got = scatter_to_dense(scatter_accumulate(df).toPandas(), naz, nrg)
        np.testing.assert_allclose(got, exp, rtol=1e-9, equal_nan=True)

    def test_flat_terrain_gamma_positive_finite(self):
        """Flat DEM: every covered pixel accumulates positive finite γ.
        (γ is NOT constant even on flat terrain — the reference's
        s-vector is look−vertex_position, so the projected incidence is
        position-dependent by construction.)"""
        from eo_tools_spark.operators.sar_geom import simulate_terrain_gamma_dense

        nl = nc = 7
        g = np.mgrid[0:nl, 0:nc].astype(float)
        az, rg = g[0] * 2.0, g[1] * 2.0
        X, Y = g[1] * 30.0, g[0] * 30.0
        Z = np.zeros((nl, nc))
        dx = np.full((nl, nc), -300.0)
        dy = np.zeros((nl, nc))
        dz = np.full((nl, nc), 600.0)
        shadow = np.full((nl, nc), np.nan)
        out = simulate_terrain_gamma_dense(az, rg, X, Y, Z, dx, dy, dz, shadow, 13, 13)
        vals = out[np.isfinite(out)]
        assert len(vals) > 20
        assert (vals > 0).all()
        # interior of the LUT grid is fully covered (shape/finiteness
        # contract of the reference's geocode tests)
        assert np.isfinite(out[1:11, 1:11]).all()

    def test_shadowed_quads_excluded(self):
        from eo_tools_spark.operators.sar_geom import simulate_terrain_gamma_dense

        args = list(self._scene())
        full = simulate_terrain_gamma_dense(*args, 18, 20)
        args[8] = np.ones_like(args[8])  # everything shadowed
        masked = simulate_terrain_gamma_dense(*args, 18, 20)
        assert np.isfinite(full).sum() > 0
        assert np.isnan(masked).all()


class TestShadow:
    def test_running_max_scan(self):
        theta = np.array([[1.0, 2.0, 1.5, 3.0, 2.0]])
        out = shadow_mask(theta)
        np.testing.assert_array_equal(out[0], [False, False, True, False, True])

    def test_monotonic_no_shadow(self):
        theta = np.arange(1.0, 11.0)[None, :]
        assert not shadow_mask(theta).any()

    def test_reference_scan_semantics(self):
        """core.py:1597-1604 parity: max_elev starts at 0.0 and only a
        STRICT increase is lit — a plateau pixel (equal to the running
        max) is shadowed, and a leading θ ≤ 0 is shadowed."""
        theta = np.array([[5.0, 5.0, 6.0, 6.0]])
        np.testing.assert_array_equal(
            shadow_mask(theta)[0], [False, True, False, True]
        )
        theta = np.array([[0.0, -1.0, 2.0]])
        np.testing.assert_array_equal(shadow_mask(theta)[0], [True, True, False])

        # per-pixel transcription of the reference loop on a random line
        rng = np.random.default_rng(5)
        t = rng.uniform(-1, 4, (3, 40))
        exp = np.zeros_like(t, dtype=bool)
        for i in range(t.shape[0]):
            max_elev = 0.0
            for j in range(t.shape[1]):
                if t[i, j] > max_elev:
                    max_elev = t[i, j]
                else:
                    exp[i, j] = True
        np.testing.assert_array_equal(shadow_mask(t), exp)
