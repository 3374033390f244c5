"""Unit tests for the pure-numpy geometry kernels.

Mirrors the reference's synthetic-box test discipline
(/root/reference/tests/test_s1_process_partial.py:26-36 builds plain
shapely.box grids).
"""

import struct

import numpy as np
import pytest

from eo_tools_spark.geo import (
    cell_bounds,
    cell_children,
    cell_of_points,
    cell_parent,
    cell_ring,
    cover_bbox,
    cover_polygon,
    points_in_polygon,
    polygon_area,
    polygon_intersects,
    polygon_to_wkb,
    wkb_to_coords,
)
from eo_tools_spark.geo.geom import clip_convex


def box(minx, miny, maxx, maxy):
    return np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]]
    )


def clip_area(a, b):
    """area(a ∩ b) through the engine's convex clipper."""
    clipped = clip_convex(a, b)
    return polygon_area(clipped) if len(clipped) >= 3 else 0.0


class TestWKB:
    def test_polygon_roundtrip(self):
        ring = box(-9.0, 31.0, -8.5, 31.4)
        rings = wkb_to_coords(polygon_to_wkb(ring))
        assert len(rings) == 1
        np.testing.assert_allclose(rings[0], ring)

    def test_point_roundtrip(self):
        rings = wkb_to_coords(struct.pack("<BIdd", 1, 1, -8.75, 31.2))
        np.testing.assert_allclose(rings[0], [[-8.75, 31.2]])


class TestPIP:
    def test_square(self):
        ring = box(0, 0, 10, 10)
        lon = np.array([5.0, 15.0, -1.0, 9.99])
        lat = np.array([5.0, 5.0, 5.0, 9.99])
        np.testing.assert_array_equal(
            points_in_polygon(lon, lat, ring), [True, False, False, True]
        )

    def test_concave(self):
        # L-shape: notch at top-right
        ring = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]])
        lon = np.array([1.0, 3.0, 3.0])
        lat = np.array([3.0, 3.0, 1.0])
        np.testing.assert_array_equal(
            points_in_polygon(lon, lat, ring), [True, False, True]
        )

    def test_quad(self):
        # tilted burst-like quadrilateral
        ring = np.array([[0, 0], [10, 1], [10.5, 4], [0.5, 3], [0, 0]])
        assert points_in_polygon(np.array([5.0]), np.array([2.0]), ring)[0]
        assert not points_in_polygon(np.array([5.0]), np.array([4.5]), ring)[0]


class TestIntersects:
    def test_disjoint(self):
        assert not polygon_intersects(box(0, 0, 1, 1), box(2, 2, 3, 3))

    def test_overlap(self):
        assert polygon_intersects(box(0, 0, 2, 2), box(1, 1, 3, 3))

    def test_contained(self):
        assert polygon_intersects(box(0, 0, 10, 10), box(4, 4, 5, 5))
        assert polygon_intersects(box(4, 4, 5, 5), box(0, 0, 10, 10))

    def test_touching_edge(self):
        # shapely.intersects is True for boundary touch
        assert polygon_intersects(box(0, 0, 1, 1), box(1, 0, 2, 1))


class TestArea:
    def test_shoelace(self):
        assert polygon_area(box(0, 0, 3, 2)) == pytest.approx(6.0)

    def test_clip_area(self):
        assert clip_area(box(0, 0, 2, 2), box(1, 1, 3, 3)) == pytest.approx(1.0)
        assert clip_area(box(0, 0, 1, 1), box(5, 5, 6, 6)) == 0.0
        # containment
        assert clip_area(box(4, 4, 5, 5), box(0, 0, 10, 10)) == pytest.approx(1.0)


class TestCells:
    def test_point_cell_deterministic(self):
        c1 = cell_of_points([-8.7], [31.2], 10)
        c2 = cell_of_points([-8.7], [31.2], 10)
        assert c1[0] == c2[0]

    def test_hierarchy(self):
        c = cell_of_points([-8.7], [31.2], 12)[0]
        p = cell_parent(c)
        assert cell_of_points([-8.7], [31.2], 11)[0] == p
        kids = cell_children(int(p))
        assert c in kids

    def test_bounds_contain_point(self):
        c = cell_of_points([-8.7], [31.2], 8)
        b = cell_bounds(c)[0]
        assert b[0] <= -8.7 <= b[2] and b[1] <= 31.2 <= b[3]

    def test_cover_bbox(self):
        cells = cover_bbox(-9, 31, -8, 32, 7)
        # the point's own cell must be in the cover
        assert cell_of_points([-8.5], [31.5], 7)[0] in cells

    def test_cover_polygon_tighter_than_bbox(self):
        # thin diagonal quad: exact cover < bbox cover
        ring = np.array([[0, 0], [10, 10], [10.2, 10], [0.2, 0], [0, 0]])
        bbox_cells = cover_bbox(0, 0, 10.2, 10, 8)
        poly_cells = cover_polygon(ring, 8)
        assert len(poly_cells) < len(bbox_cells)
        assert set(poly_cells) <= set(bbox_cells)
        # every point sampled inside the quad maps to a covered cell
        t = np.linspace(0.05, 0.95, 20)
        lon, lat = 0.1 + 10 * t, 10 * t
        assert set(cell_of_points(lon, lat, 8)) <= set(poly_cells)

    def test_ring(self):
        c = int(cell_of_points([0.0], [0.0], 10)[0])
        ring1 = cell_ring(c, 1)
        assert len(ring1) == 9 and c in ring1
        assert len(cell_ring(c, 2)) == 25

def test_sql_parity():
    import duckdb
    import pandas as pd

    from eo_tools_spark.geo.cells import cell_id_sql

    df = pd.DataFrame(
        {
            "lon": [-8.7, 120.3, 0.0, -179.9, 179.9, 33.33],
            "lat": [31.2, -45.6, 0.0, -89.9, 89.9, 66.6],
        }
    )
    con = duckdb.connect()
    con.register("pts", df)
    for res in (4, 9, 15, 20):
        expected = cell_of_points(df["lon"].to_numpy(), df["lat"].to_numpy(), res)
        got = con.sql(
            f"SELECT {cell_id_sql('lon', 'lat', res)} AS c FROM pts"
        ).df()["c"].to_numpy()
        np.testing.assert_array_equal(got, expected)
