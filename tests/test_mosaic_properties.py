"""Mosaic/clip operators + hypothesis property tests for the geo core."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from eo_tools_spark.geo import (
    cell_bounds,
    cell_of_points,
    cell_parent,
    points_in_polygon,
    polygon_area,
    polygon_intersects,
)
from eo_tools_spark.geo.geom import clip_convex
from eo_tools_spark.operators.tiles import (
    TILE_SCHEMA,
    raster_to_tiles,
    tiles_clip_aoi,
    tiles_mosaic,
    tiles_to_raster,
)


class TestMosaic:
    def test_first_nonnodata_wins(self, spark):
        rng = np.random.default_rng(1)
        a = rng.normal(size=(32, 32)).astype(np.float32)
        b = rng.normal(size=(32, 32)).astype(np.float32)
        a[:16] = np.nan           # top half hole in priority-0 raster
        b[:, :8] = np.nan         # left stripe hole in priority-1

        ta = raster_to_tiles(spark, a, "A", 16).withColumn(
            "priority", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(0)
        )
        tb = raster_to_tiles(spark, b, "B", 16).withColumn(
            "priority", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(1)
        )
        got = tiles_to_raster(tiles_mosaic(ta.union(tb)), 16)
        exp = a.copy()
        hole = np.isnan(exp)
        exp[hole] = b[hole]
        np.testing.assert_allclose(got, exp, equal_nan=True)

    def test_union_extent_heterogeneous_shapes(self, spark):
        """Layers may end mid-tile at different extents (per-swath LUT
        tilings): the mosaic tile must cover the UNION extent (rasterio
        merge semantics) — a partial higher-priority block must neither
        truncate the output nor crash the fill on shape mismatch."""
        import pandas as pd
        from pyspark.sql import functions as F

        from eo_tools_spark.operators.tiles import TILE_SCHEMA

        a = np.full((16, 10), 1.0, np.float32)          # partial: 16x10
        b = np.full((16, 16), 2.0, np.float32)          # full tile
        rows = [("A", 0, 0, a.tobytes(), 16, 10, "f4"),
                ("B", 0, 0, b.tobytes(), 16, 16, "f4")]
        tiles = spark.createDataFrame(
            pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields]),
            schema=TILE_SCHEMA,
        ).withColumn(
            "priority", F.when(F.col("raster_id") == "A", 0).otherwise(1)
        )
        got = tiles_to_raster(tiles_mosaic(tiles), 16)
        assert got.shape == (16, 16)
        assert (got[:, :10] == 1.0).all()      # priority 0 wins where present
        assert (got[:, 10:] == 2.0).all()      # union extent filled by B

    def test_clip_aoi(self, spark):
        arr = np.ones((32, 32), dtype=np.float32)
        tiles = raster_to_tiles(spark, arr, "m", 16)
        # grid: origin (0, 32), 1 px = 1 unit → pixels span x∈[0,32], y∈[0,32]
        ring = np.array([[4.0, 4.0], [20.0, 4.0], [20.0, 20.0], [4.0, 20.0], [4.0, 4.0]])
        out = tiles_to_raster(
            tiles_clip_aoi(tiles, ring, origin_x=0.0, origin_y=32.0, px=1.0, tile=16), 16
        )
        # pixel centers (col+0.5, 32-(row+0.5)) inside [4,20]²
        cols = np.arange(32) + 0.5
        rows_y = 32.0 - (np.arange(32) + 0.5)
        inside = (cols[None, :] > 4) & (cols[None, :] < 20) & (rows_y[:, None] > 4) & (rows_y[:, None] < 20)
        assert np.isfinite(out[inside]).all()
        assert np.isnan(out[~inside]).all()


# ------------------------- hypothesis property tests (geo invariants)

coord = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lat_coord = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)
res_st = st.integers(min_value=1, max_value=20)


class TestCellProperties:
    @settings(max_examples=200, deadline=None)
    @given(lon=coord, lat=lat_coord, res=res_st)
    def test_point_in_own_cell_bounds(self, lon, lat, res):
        c = cell_of_points([lon], [lat], res)
        b = cell_bounds(c)[0]
        # up to float rounding: (lat+90) can round across a cell edge for
        # |lat| below double resolution at 90 (found by hypothesis:
        # lat=-1e-38 → (lat+90)==90.0 exactly). The engine is still
        # self-consistent — the SQL oracle performs the identical ops.
        tol = 1e-9
        assert b[0] - tol <= lon <= b[2] + tol
        assert b[1] - tol <= lat <= b[3] + tol

    @settings(max_examples=200, deadline=None)
    @given(lon=coord, lat=lat_coord, res=st.integers(min_value=2, max_value=20))
    def test_parent_consistency(self, lon, lat, res):
        child = cell_of_points([lon], [lat], res)[0]
        for pres in (res - 1, res - 2):
            if pres < 0:
                continue
            assert cell_parent(child, pres) == cell_of_points([lon], [lat], pres)[0]

    @settings(max_examples=100, deadline=None)
    @given(
        x0=st.floats(-170, 160, allow_nan=False),
        y0=st.floats(-80, 70, allow_nan=False),
        w=st.floats(0.01, 10, allow_nan=False),
        h=st.floats(0.01, 10, allow_nan=False),
        px=st.floats(0.0, 1.0, allow_nan=False),
        py=st.floats(0.0, 1.0, allow_nan=False),
    )
    def test_pip_box_agrees_with_interval_test(self, x0, y0, w, h, px, py):
        ring = np.array(
            [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
        )
        # strictly interior / strictly exterior probe points
        lon = x0 + px * w
        lat = y0 + py * h
        if 0.01 < px < 0.99 and 0.01 < py < 0.99:
            assert points_in_polygon([lon], [lat], ring)[0]
        assert not points_in_polygon([x0 - 0.5], [lat], ring)[0]

    @settings(max_examples=100, deadline=None)
    @given(
        ax=st.floats(-50, 50), ay=st.floats(-50, 50),
        aw=st.floats(0.5, 20), ah=st.floats(0.5, 20),
        bx=st.floats(-50, 50), by=st.floats(-50, 50),
        bw=st.floats(0.5, 20), bh=st.floats(0.5, 20),
    )
    def test_clip_area_bounds(self, ax, ay, aw, ah, bx, by, bw, bh):
        A = np.array([[ax, ay], [ax + aw, ay], [ax + aw, ay + ah], [ax, ay + ah], [ax, ay]])
        B = np.array([[bx, by], [bx + bw, by], [bx + bw, by + bh], [bx, by + bh], [bx, by]])
        clipped = clip_convex(A, B)
        inter = polygon_area(clipped) if len(clipped) >= 3 else 0.0
        assert -1e-9 <= inter <= min(polygon_area(A), polygon_area(B)) + 1e-9
        # exact for boxes: compare with interval arithmetic
        exp = max(0.0, min(ax + aw, bx + bw) - max(ax, bx)) * max(
            0.0, min(ay + ah, by + bh) - max(ay, by)
        )
        assert inter == pytest.approx(exp, rel=1e-9, abs=1e-9)
        # intersects predicate consistent with positive area
        if exp > 1e-9:
            assert polygon_intersects(A, B)
