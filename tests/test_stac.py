"""Partial-download planning: the reference's job-list semantics
(validation contracts, burst selection, line windows, asset files)
(/root/reference/eo_tools/S1/download.py:114-243, 276-443)."""

import numpy as np
import pytest

from eo_tools_spark.geo.wkb import box_to_wkb
from eo_tools_spark.sources import stac


def ring(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
    )

AOI = ring(0.0, 0.0, 10.0, 10.0)


class TestNormalizePolarizations:
    def test_full_and_order(self):
        # download.py:307: canonical (vv, vh) order regardless of input
        assert stac.normalize_polarizations("full") == ["vv", "vh"]
        assert stac.normalize_polarizations(["vh", "vv"]) == ["vv", "vh"]
        assert stac.normalize_polarizations("VH") == ["vh"]

    def test_invalid_pol(self):
        with pytest.raises(ValueError, match="Invalid polarization"):
            stac.normalize_polarizations("hh")
        with pytest.raises(ValueError, match="string or an iterable"):
            stac.normalize_polarizations(42)
        with pytest.raises(ValueError):
            stac.normalize_polarizations([])


class TestPlanPartialDownloads:
    def _bursts(self, spark):
        # P1/IW1 bursts 2,3,5 intersect; P1/IW2 burst 1; P2/IW1 none
        rows = [
            ("P1", "IW1", 2, box_to_wkb(1, 1, 2, 2)),
            ("P1", "IW1", 3, box_to_wkb(2, 2, 3, 3)),
            ("P1", "IW1", 5, box_to_wkb(4, 4, 5, 5)),
            ("P1", "IW1", 9, box_to_wkb(90, 80, 91, 81)),
            ("P1", "IW2", 1, box_to_wkb(6, 6, 7, 7)),
            ("P2", "IW1", 4, box_to_wkb(40, 40, 41, 41)),
        ]
        return spark.createDataFrame(
            rows, "product_id string, subswath string, burst int, footprint binary"
        )

    def test_jobs_line_windows_and_gap_fill(self, spark):
        jobs = stac.plan_partial_downloads(
            self._bursts(spark), AOI, lines_per_burst=1500, pol="vv"
        ).collect()
        by = {(r["product_id"], r["subswath"]): r for r in jobs}
        assert set(by) == {("P1", "IW1"), ("P1", "IW2")}
        r = by[("P1", "IW1")]
        # bursts 2..5 by range (gap burst 4 included), download.py:411-415
        assert (r["min_burst"], r["max_burst"]) == (2, 5)
        assert r["line_start"] == 1500 * 1
        assert r["number_of_lines"] == 1500 * 4
        assert all(j["pol"] == "vv" for j in jobs)

    def test_full_pol_doubles_jobs_in_vv_vh_order(self, spark):
        jobs = stac.plan_partial_downloads(
            self._bursts(spark), AOI, lines_per_burst=1500, pol="full"
        )
        assert jobs.count() == 4  # 2 subswaths × 2 pols
        assert {r["pol"] for r in jobs.collect()} == {"vv", "vh"}

    def test_empty_selection_raises_reference_error(self, spark):
        far = ring(170.0, 80.0, 171.0, 81.0)
        with pytest.raises(RuntimeError, match="list of bursts to process is empty"):
            stac.plan_partial_downloads(
                self._bursts(spark), far, lines_per_burst=1500
            )

    def test_assets_join_and_manifest(self, spark):
        assets = spark.createDataFrame(
            [
                ("P1", "IW1", "vv", "s3://b/P1.SAFE/measurement/s1a-iw1-slc-vv-p1.tiff"),
                ("P1", "IW2", "vv", "s3://b/P1.SAFE/measurement/s1a-iw2-slc-vv-p1.tiff"),
            ],
            "product_id string, subswath string, pol string, href string",
        )
        jobs = stac.plan_partial_downloads(
            self._bursts(spark), AOI, lines_per_burst=1500, pol="vv",
            assets=assets,
        )
        by = {(r["product_id"], r["subswath"]): r.asDict() for r in jobs.collect()}
        # download.py:425-435: file = measurement/<href basename>
        assert by[("P1", "IW1")] == {
            "product_id": "P1", "subswath": "IW1", "pol": "vv",
            "min_burst": 2, "max_burst": 5, "lines_per_burst": 1500,
            "line_start": 1500, "number_of_lines": 6000,
            "href": "s3://b/P1.SAFE/measurement/s1a-iw1-slc-vv-p1.tiff",
            "file": "measurement/s1a-iw1-slc-vv-p1.tiff",
        }
        assert by[("P1", "IW2")]["file"] == "measurement/s1a-iw2-slc-vv-p1.tiff"

    def test_per_product_lines_per_burst_frame(self, spark):
        lpb = spark.createDataFrame(
            [("P1", "IW1", 1200), ("P1", "IW2", 1800)],
            "product_id string, subswath string, lines_per_burst int",
        )
        jobs = stac.plan_partial_downloads(
            self._bursts(spark), AOI, lines_per_burst=lpb, pol="vv"
        ).collect()
        by = {(r["product_id"], r["subswath"]): r for r in jobs}
        assert by[("P1", "IW1")]["line_start"] == 1200
        assert by[("P1", "IW2")]["line_start"] == 0
        assert by[("P1", "IW2")]["number_of_lines"] == 1800


class TestGeojsonSidecar:
    def test_validate_rejects_non_polygon(self):
        with pytest.raises(ValueError, match="must not be an empty"):
            stac.validate_single_ring(np.zeros((2, 2)), "shp")
        with pytest.raises(ValueError, match="single polygon ring"):
            stac.validate_single_ring("not a ring", "shp")
