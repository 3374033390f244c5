"""kNN / bbox range join / burst pairing vs numpy + DuckDB oracles."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from eo_tools_spark.operators.knn import TileIndex, knn_join
from eo_tools_spark.operators.pairing import burst_range, line_range
from eo_tools_spark.operators.range_join import bbox_intersect_join


def make_tiles(nx=20, ny=20, x0=-10.0, y0=30.0):
    """Regular 1° tile catalog with centers, like Copernicus DEM tiles."""
    ids, cx, cy = [], [], []
    for i in range(nx):
        for j in range(ny):
            ids.append(f"T{i:02d}{j:02d}")
            cx.append(x0 + i + 0.5)
            cy.append(y0 + j + 0.5)
    return pd.DataFrame({"dem_tile_id": ids, "cx": cx, "cy": cy})


class TestKNN:
    def test_vs_bruteforce(self, spark):
        tiles = make_tiles()
        rng = np.random.default_rng(7)
        n = 500
        qx = rng.uniform(-9.5, 9.5, n)
        qy = rng.uniform(30.5, 49.5, n)
        scenes = spark.createDataFrame(
            pd.DataFrame({"scene_id": np.arange(n), "lon": qx, "lat": qy})
        )
        k = 3
        out = knn_join(scenes, tiles, k=k).toPandas()
        assert len(out) == n * k

        cx, cy = tiles["cx"].to_numpy(), tiles["cy"].to_numpy()
        for sid in [0, 17, 123, 499]:
            d2 = (cx - qx[sid]) ** 2 + (cy - qy[sid]) ** 2
            exp = tiles["dem_tile_id"].to_numpy()[np.argsort(d2, kind="stable")[:k]]
            got = (
                out[out.scene_id == sid]
                .sort_values("knn_rank")["dem_tile_id"]
                .to_numpy()
            )
            np.testing.assert_array_equal(got, exp)

    def test_all_rows_correct_distances(self, spark):
        tiles = make_tiles(8, 8)
        rng = np.random.default_rng(3)
        n = 200
        qx = rng.uniform(-9.9, -2.1, n)
        qy = rng.uniform(30.1, 37.9, n)
        scenes = spark.createDataFrame(
            pd.DataFrame({"scene_id": np.arange(n), "lon": qx, "lat": qy})
        )
        out = knn_join(scenes, tiles, k=1).toPandas().sort_values("scene_id")
        cx, cy = tiles["cx"].to_numpy(), tiles["cy"].to_numpy()
        exp_d2 = np.min((cx[None] - qx[:, None]) ** 2 + (cy[None] - qy[:, None]) ** 2, axis=1)
        np.testing.assert_allclose(out["dist2"].to_numpy(), exp_d2)

    def test_ring_path_above_brute_threshold_matches_numpy(self, spark):
        """Catalogs above _BRUTE_CATALOG_N keep the cell-ring search;
        catalogs at or below it take the new full-matrix kernel. Both
        must match the numpy brute force exactly (rows, order, dist2) —
        this pins the ring path now that small catalogs bypass it."""
        from eo_tools_spark.operators.knn import _BRUTE_CATALOG_N

        nx, ny = 60, 50
        assert nx * ny > _BRUTE_CATALOG_N
        xs = np.linspace(-170, 170, nx)
        ys = np.linspace(-80, 80, ny)
        gx, gy = np.meshgrid(xs, ys)
        tiles = pd.DataFrame(
            {"dem_tile_id": np.arange(nx * ny),
             "cx": gx.ravel(), "cy": gy.ravel()}
        )
        rng = np.random.default_rng(5)
        n = 300
        qx = rng.uniform(-179, 179, n)
        qy = rng.uniform(-85, 85, n)
        scenes = spark.createDataFrame(
            pd.DataFrame({"scene_id": np.arange(n), "lon": qx, "lat": qy})
        )
        k = 3
        out = knn_join(scenes, tiles, k=k).toPandas()
        assert len(out) == n * k
        cx, cy = tiles["cx"].to_numpy(), tiles["cy"].to_numpy()
        for sid in [0, 42, 199, 299]:
            d2 = (cx - qx[sid]) ** 2 + (cy - qy[sid]) ** 2
            exp = tiles["dem_tile_id"].to_numpy()[
                np.argsort(d2, kind="stable")[:k]
            ]
            got = (
                out[out.scene_id == sid]
                .sort_values("knn_rank")["dem_tile_id"]
                .to_numpy()
            )
            np.testing.assert_array_equal(got, exp)

    def test_catalog_byte_guard_forces_distributed_fallback(self, spark):
        """Round-4 verdict task 7: an over-budget catalog must route to
        the distributed ring join and return IDENTICAL rows (incl.
        dist2 bit-equality — the two paths evaluate the same IEEE
        expression)."""
        tiles = make_tiles()
        rng = np.random.default_rng(11)
        n = 300
        # spread queries wide so the escalation loop (r=1 → 2 → full)
        # and the edge-clip filter both exercise
        qx = np.concatenate([rng.uniform(-9.5, 9.5, n - 4),
                             [-179.9, 179.9, -9.5, 9.5]])
        qy = np.concatenate([rng.uniform(30.5, 49.5, n - 4),
                             [-89.9, 89.9, 30.5, 49.5]])
        scenes = spark.createDataFrame(
            pd.DataFrame({"scene_id": np.arange(len(qx)), "lon": qx, "lat": qy})
        )
        key = ["scene_id", "knn_rank"]
        broad = (
            knn_join(scenes, tiles, k=3)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        # max_index_bytes=1 → guard trips → distributed path
        dist = (
            knn_join(scenes, tiles, k=3, max_index_bytes=1)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            broad[["scene_id", "dem_tile_id", "knn_rank", "dist2"]],
            dist[["scene_id", "dem_tile_id", "knn_rank", "dist2"]].astype(
                broad[["scene_id", "dem_tile_id", "knn_rank", "dist2"]].dtypes.to_dict()
            ),
        )

    def test_distributed_fallback_small_catalog_k_truncation(self, spark):
        """Catalog smaller than k: both paths return all tiles ranked."""
        from eo_tools_spark.operators.knn import knn_join_distributed

        tiles = make_tiles(1, 2)  # 2 tiles
        scenes = spark.createDataFrame(
            pd.DataFrame({"scene_id": [0, 1], "lon": [-9.5, 0.0], "lat": [30.5, 31.0]})
        )
        broad = knn_join(scenes, tiles, k=5).toPandas()
        dist = knn_join_distributed(
            spark.createDataFrame(
                pd.DataFrame({"scene_id": [0, 1], "lon": [-9.5, 0.0], "lat": [30.5, 31.0]})
            ),
            spark.createDataFrame(tiles),
            k=5,
        ).toPandas()
        key = ["scene_id", "knn_rank"]
        a = broad.sort_values(key).reset_index(drop=True)
        b = dist.sort_values(key).reset_index(drop=True)[a.columns].astype(a.dtypes.to_dict())
        assert len(a) == 4  # 2 scenes × 2 tiles
        pd.testing.assert_frame_equal(a, b)


    def test_distributed_out_of_range_coords_exact(self, spark):
        """Round-5 advice: grid_ix clamps out-of-range lon/lat into edge
        cells, voiding the ring-coverage guarantee — such points must
        route to the exact full-scan leg. Mixed in-range + out-of-range
        scenes, verified against the numpy brute force."""
        from eo_tools_spark.operators.knn import knn_join_distributed

        tiles = make_tiles(6, 6)
        pdf = pd.DataFrame(
            {
                "scene_id": [0, 1, 2, 3, 4],
                "lon": [-9.5, 200.0, -400.0, 3.2, 181.0],
                "lat": [30.5, 95.0, 33.0, -120.0, 31.0],
            }
        )
        out = (
            knn_join_distributed(
                spark.createDataFrame(pdf), spark.createDataFrame(tiles), k=2
            )
            .toPandas()
            .sort_values(["scene_id", "knn_rank"])
            .reset_index(drop=True)
        )
        assert len(out) == 10
        cx, cy = tiles["cx"].to_numpy(), tiles["cy"].to_numpy()
        for i, row in pdf.iterrows():
            d2 = (cx - row.lon) ** 2 + (cy - row.lat) ** 2
            order = np.lexsort((tiles["dem_tile_id"].to_numpy(), d2))[:2]
            got = out[out.scene_id == row.scene_id]["dem_tile_id"].to_numpy()
            np.testing.assert_array_equal(
                got, tiles["dem_tile_id"].to_numpy()[order]
            )


class TestBBoxJoin:
    def test_vs_duckdb(self, spark):
        rng = np.random.default_rng(11)
        n = 400
        fx = rng.uniform(-10, 9, n)
        fy = rng.uniform(30, 49, n)
        foot = pd.DataFrame(
            {
                "burst_id": np.arange(n),
                "minx": fx,
                "miny": fy,
                "maxx": fx + rng.uniform(0.1, 0.8, n),
                "maxy": fy + rng.uniform(0.1, 0.5, n),
            }
        )
        tiles = make_tiles(20, 20)
        tb = pd.DataFrame(
            {
                "dem_tile_id": tiles["dem_tile_id"],
                "t_minx": tiles["cx"] - 0.5,
                "t_miny": tiles["cy"] - 0.5,
                "t_maxx": tiles["cx"] + 0.5,
                "t_maxy": tiles["cy"] + 0.5,
            }
        )
        out = bbox_intersect_join(
            spark.createDataFrame(foot), spark.createDataFrame(tb), res=7
        )
        got = {(r.burst_id, r.dem_tile_id) for r in out.select("burst_id", "dem_tile_id").collect()}

        con = duckdb.connect()
        con.register("f", foot)
        con.register("t", tb)
        exp = {
            (int(b), tid)
            for b, tid in con.sql(
                "SELECT burst_id, dem_tile_id FROM f JOIN t ON "
                "minx <= t_maxx AND maxx >= t_minx AND miny <= t_maxy AND maxy >= t_miny"
            ).fetchall()
        }
        assert got == exp and len(exp) > n  # every burst hits ≥1 tile

    def test_buffer_semantics(self, spark):
        # buffer of 1800 arc-sec = 0.5° pulls in one more tile column
        foot = pd.DataFrame(
            {"burst_id": [0], "minx": [0.3], "miny": [40.3], "maxx": [0.4], "maxy": [40.4]}
        )
        tb = pd.DataFrame(
            {
                "dem_tile_id": ["A", "B"],
                "t_minx": [0.0, -1.0],
                "t_miny": [40.0, 40.0],
                "t_maxx": [1.0, 0.0],
                "t_maxy": [41.0, 41.0],
            }
        )
        sp_f, sp_t = spark.createDataFrame(foot), spark.createDataFrame(tb)
        no_buf = bbox_intersect_join(sp_f, sp_t, res=8)
        assert {r.dem_tile_id for r in no_buf.collect()} == {"A"}
        buf = bbox_intersect_join(sp_f, sp_t, res=8, buffer_deg=1800 / 3600.0)
        assert {r.dem_tile_id for r in buf.collect()} == {"A", "B"}


class TestPairing:
    def test_burst_range_fills_gaps(self, spark):
        df = spark.createDataFrame(
            [("P1", "IW1", 2), ("P1", "IW1", 5), ("P1", "IW2", 3)],
            "product_id string, subswath string, burst int",
        )
        out = {(r.product_id, r.subswath): r for r in burst_range(df).collect()}
        r = out[("P1", "IW1")]
        assert (r.min_burst, r.max_burst) == (2, 5)
        assert r.bursts == [2, 3, 4, 5]  # gap 3,4 filled: selection by range

    def test_line_range_arithmetic(self, spark):
        # download.py:414-415 + tests/test_s1_core.py:60-76 parity:
        # min_burst 3, lpb 1500 → line_start 3000
        df = spark.createDataFrame(
            [("P1", "IW1", 3)], "product_id string, subswath string, burst int"
        )
        r = line_range(burst_range(df), 1500).collect()[0]
        assert r.line_start == 3000 and r.number_of_lines == 1500

    def test_esd_phase_mean_vs_numpy(self, spark):
        from eo_tools_spark.operators.pairing import esd_phase_mean

        rng = np.random.default_rng(5)
        re = rng.normal(size=1000)
        im = rng.normal(size=1000)
        grp = rng.integers(0, 3, 1000)
        df = spark.createDataFrame(
            pd.DataFrame({"g": grp, "re": re, "im": im})
        )
        out = {r.g: r.esd_phase for r in esd_phase_mean(df, ["g"]).collect()}
        for g in range(3):
            m = grp == g
            exp = np.angle(np.mean(re[m] + 1j * im[m]))
            assert out[g] == pytest.approx(exp, abs=1e-12)
