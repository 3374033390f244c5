"""Annotation XML ETL vs golden reference values
(mirrors /root/reference/tests/test_s1_core.py:23-34 fixture numbers:
start_time 2023-09-04T06:37:31.072288, lines_per_burst 1507,
samples_per_burst 23055, burst_count 9)."""

import pytest

from eo_tools_spark.sources.annotation import (
    location_grid_burst_count,
    parse_annotation,
    xml_to_dict,
)


def annotation_xml(burst_count=9, lines_per_burst=1507):
    bursts = "\n".join(
        f"""<burst>
          <azimuthTime>2023-09-04T06:37:{31 + b}.072288</azimuthTime>
          <firstValidSample count="4">-1 0 1 2</firstValidSample>
          <lastValidSample count="4">-1 5 6 7</lastValidSample>
        </burst>"""
        for b in range(burst_count)
    )
    points = "\n".join(
        f"""<geolocationGridPoint>
          <line>{ln * lines_per_burst}</line><pixel>{px}</pixel>
          <latitude>{40.0 + 0.1 * ln}</latitude><longitude>{2.0 + 0.2 * px / 23054}</longitude>
        </geolocationGridPoint>"""
        for ln in range(burst_count + 1)
        for px in (0, 23054)
    )
    return f"""<?xml version="1.0"?>
    <product>
      <adsHeader><startTime>2023-09-04T06:37:31.072288</startTime></adsHeader>
      <generalAnnotation>
        <productInformation>
          <rangeSamplingRate>6.4345241e7</rangeSamplingRate>
          <azimuthSteeringRate>1.590368784</azimuthSteeringRate>
          <radarFrequency>5.40500045433435e9</radarFrequency>
        </productInformation>
        <azimuthFmRateList count="2">
          <azimuthFmRate>
            <azimuthTime>2023-09-04T06:37:30.000000</azimuthTime>
            <azimuthFmRatePolynomial count="3">-2325.499 450781.3 -7.659135e7</azimuthFmRatePolynomial>
          </azimuthFmRate>
          <azimuthFmRate>
            <azimuthTime>2023-09-04T06:37:45.000000</azimuthTime>
            <azimuthFmRatePolynomial count="3">-2325.2 450700.1 -7.66e7</azimuthFmRatePolynomial>
          </azimuthFmRate>
        </azimuthFmRateList>
      </generalAnnotation>
      <imageAnnotation>
        <imageInformation>
          <azimuthTimeInterval>2.055556280538332e-3</azimuthTimeInterval>
          <slantRangeTime>5.337232734606481e-3</slantRangeTime>
          <numberOfSamples>23055</numberOfSamples>
        </imageInformation>
      </imageAnnotation>
      <dopplerCentroid>
        <dcEstimateList count="2">
          <dcEstimate>
            <azimuthTime>2023-09-04T06:37:29.000000</azimuthTime>
            <dataDcPolynomial count="3">-20.03 72425.49 -1.0509e7</dataDcPolynomial>
          </dcEstimate>
          <dcEstimate>
            <azimuthTime>2023-09-04T06:37:44.000000</azimuthTime>
            <dataDcPolynomial count="3">-19.9 72400.0 -1.05e7</dataDcPolynomial>
          </dcEstimate>
        </dcEstimateList>
      </dopplerCentroid>
      <swathTiming>
        <linesPerBurst>{lines_per_burst}</linesPerBurst>
        <samplesPerBurst>23055</samplesPerBurst>
        <burstList count="{burst_count}">
        {bursts}
        </burstList>
      </swathTiming>
      <geolocationGrid>
        <geolocationGridPointList count="{2 * (burst_count + 1)}">
        {points}
        </geolocationGridPointList>
      </geolocationGrid>
    </product>"""


class TestXmlToDict:
    def test_xmltodict_conventions(self):
        d = xml_to_dict('<a x="1"><b>t</b><c n="2">v</c><b>u</b></a>')
        assert d["a"]["@x"] == "1"
        assert d["a"]["b"] == ["t", "u"]  # repeated tags → list
        assert d["a"]["c"] == {"@n": "2", "#text": "v"}

    def test_single_child_stays_scalar(self):
        d = xml_to_dict("<a><b>only</b></a>")
        assert d["a"]["b"] == "only"


class TestAnnotationGolden:
    def test_swath_init_fixture_values(self):
        """test_s1_core.py:23-34 golden values."""
        a = parse_annotation(annotation_xml())
        assert a["start_time"] == "2023-09-04T06:37:31.072288"
        assert a["lines_per_burst"] == 1507
        assert a["samples_per_burst"] == 23055
        assert a["burst_count"] == 9

    def test_valid_sample_arrays_typed(self):
        a = parse_annotation(annotation_xml())
        assert len(a["bursts"]) == 9
        b1 = a["bursts"][0]
        assert b1["burst"] == 1
        assert b1["first_valid"] == [-1, 0, 1, 2]
        assert b1["last_valid"] == [-1, 5, 6, 7]

    def test_poly_tables(self):
        a = parse_annotation(annotation_xml())
        assert [p["coeffs"] for p in a["fm_rate"]][0] == [-2325.499, 450781.3, -7.659135e7]
        assert a["dc_estimate"][1]["coeffs"] == [-19.9, 72400.0, -1.05e7]

    def test_deramp_scalar_inputs(self):
        a = parse_annotation(annotation_xml())
        assert a["azimuth_time_interval"] == pytest.approx(2.055556280538332e-3)
        assert a["slant_range_time"] == pytest.approx(5.337232734606481e-3)
        assert a["range_sampling_rate"] == pytest.approx(6.4345241e7)
        assert a["azimuth_steering_rate"] == pytest.approx(1.590368784)
        assert a["radar_frequency"] == pytest.approx(5.40500045433435e9)
        assert a["number_of_samples"] == 23055

    def test_geolocation_grid_burst_count(self):
        """auxils.py:66-73: bursts = distinct line values − 1."""
        a = parse_annotation(annotation_xml(burst_count=9))
        assert location_grid_burst_count(a["geolocation_grid"]) == 9
        assert len(a["geolocation_grid"]) == 20
        p = a["geolocation_grid"][0]
        assert (p["line"], p["pixel"]) == (0, 0)
        assert p["lat"] == pytest.approx(40.0) and p["lon"] == pytest.approx(2.0)


class TestBurstPolygons:
    """parse_subswath_geometry semantics (auxils.py:78-121): grid →
    per-burst quads, corner order [TR, TL, BL, BR], (lon, lat) coords."""

    def test_quads_from_fixture_grid(self):
        from eo_tools_spark.sources.annotation import burst_polygons

        a = parse_annotation(annotation_xml(burst_count=3, lines_per_burst=100))
        quads = burst_polygons(a["geolocation_grid"])
        assert set(quads) == {1, 2, 3}
        # fixture grid: 2 points/line at pixels (0, 23054); line ln has
        # lat 40+0.1·ln, lon 2+0.2·px/23054 → TR=(lon(px0),lat(l_{b-1})),
        # TL=(lon(px23054),lat(l_{b-1})), BL/BR on line b
        for b, q in quads.items():
            lat_top = 40.0 + 0.1 * (b - 1)
            lat_bot = 40.0 + 0.1 * b
            assert q[0] == pytest.approx((2.0, lat_top))          # TR
            assert q[1] == pytest.approx((2.2, lat_top))          # TL
            assert q[2] == pytest.approx((2.2, lat_bot))          # BL
            assert q[3] == pytest.approx((2.0, lat_bot))          # BR

    def test_reference_stride_21(self):
        """The reference's exact hardcoded indices (tr 0, tl 20, bl 41,
        br 21, stride 21) fall out of the generalized formula at
        P=21 points/line."""
        from eo_tools_spark.sources.annotation import burst_polygons

        grid = []
        for ln in range(3):          # 2 bursts
            for px in range(21):
                grid.append(
                    {"line": ln * 1500, "pixel": px * 1000,
                     "lat": 40.0 + ln, "lon": float(px)}
                )
        quads = burst_polygons(grid)
        assert quads[1][0] == (0.0, 40.0)    # idx 0  (TR)
        assert quads[1][1] == (20.0, 40.0)   # idx 20 (TL)
        assert quads[1][2] == (20.0, 41.0)   # idx 41 (BL)
        assert quads[1][3] == (0.0, 41.0)    # idx 21 (BR)
        assert quads[2][0] == (0.0, 41.0)    # idx 21 (stride 21)

    def test_feeds_footprint_wkb(self):
        """Quads plug into the engine's WKB footprint tables (the
        get_burst_geometry consumer path)."""
        from eo_tools_spark.geo.wkb import polygon_to_wkb, wkb_to_coords
        from eo_tools_spark.sources.annotation import burst_polygons

        a = parse_annotation(annotation_xml(burst_count=2, lines_per_burst=100))
        quads = burst_polygons(a["geolocation_grid"])
        wkb = polygon_to_wkb(quads[1])
        rings = wkb_to_coords(wkb)
        assert len(rings) == 1 and len(rings[0]) >= 4
