"""Annotation XML ETL → typed side tables.

The reference reads Sentinel-1 annotation XML with xmltodict
(/root/reference/eo_tools/S1/core.py:1078-1083 read_metadata) and picks
fields out of the nested dict (core.py:184-212 swath init,
eo_tools/auxils.py:58-97 geolocation grid). This module
re-implements that ETL with the stdlib only (``xml_to_dict`` mirrors
xmltodict's conventions: ``@attr`` keys, ``#text`` for text alongside
attributes, repeated tags → lists), then exposes the typed rows the
engine consumes (swath timing, valid-sample bounds, Doppler polynomial
tables, geolocation-grid burst quads).

Scale shape: one annotation XML is ~1 MB per (product, subswath, pol) —
side data, not pixel data. The ``annotation_etl`` driver query runs
``parse_annotation`` distributed (one XML string per row) and checks it
against a DuckDB oracle.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET


# --------------------------------------------------- xmltodict-compatible

def _elem_to_obj(e: ET.Element):
    children = list(e)
    attrs = {f"@{k}": v for k, v in e.attrib.items()}
    if not children:
        text = e.text
        if attrs:
            if text is not None and text.strip():
                attrs["#text"] = text
            return attrs
        return text
    d = dict(attrs)
    for c in children:
        v = _elem_to_obj(c)
        if c.tag in d:
            if not isinstance(d[c.tag], list):
                d[c.tag] = [d[c.tag]]
            d[c.tag].append(v)
        else:
            d[c.tag] = v
    return d


def xml_to_dict(text: str) -> dict:
    """Parse XML into the dict shape xmltodict produces (the shape all
    reference code paths index into): attributes as ``@name``, element
    text as ``#text`` when attributes are present, repeated sibling tags
    collapsed into lists, single occurrences kept scalar."""
    root = ET.fromstring(text)
    return {root.tag: _elem_to_obj(root)}


def _as_list(x) -> list:
    return x if isinstance(x, list) else [x]


def _text(x) -> str:
    """Field value whether or not the element carried attributes."""
    return x["#text"] if isinstance(x, dict) else x


# ------------------------------------------------------------ annotation

def parse_annotation(text: str) -> dict:
    """Annotation XML → typed dict of everything the engine consumes.

    Field paths match the reference exactly:
    - swathTiming scalars (core.py:186-189)
    - burst list: azimuthTime, firstValidSample/lastValidSample int
      arrays (core.py:704-725 masking inputs)
    - imageInformation / productInformation scalars — the reference's
      deramp inputs (core.py:554-576)
    - azimuthFmRateList + dcEstimateList polynomial tables
      (core.py:586-623)
    - geolocationGridPointList (auxils.py:58-73 semantics)
    """
    meta = xml_to_dict(text)
    product = meta["product"]
    st = product["swathTiming"]
    img = product["imageAnnotation"]["imageInformation"]
    gen = product["generalAnnotation"]["productInformation"]

    bursts = []
    for i, b in enumerate(_as_list(st["burstList"]["burst"]), start=1):
        bursts.append(
            {
                "burst": i,
                "azimuth_time": b["azimuthTime"],
                "first_valid": [int(v) for v in _text(b["firstValidSample"]).split()],
                "last_valid": [int(v) for v in _text(b["lastValidSample"]).split()],
            }
        )

    def poly_rows(items, poly_key):
        rows = []
        for it in _as_list(items):
            rows.append(
                {
                    "azimuth_time": it["azimuthTime"],
                    "coeffs": [float(c) for c in _text(it[poly_key]).split(" ")],
                }
            )
        return rows

    fm = poly_rows(
        product["generalAnnotation"]["azimuthFmRateList"]["azimuthFmRate"],
        "azimuthFmRatePolynomial",
    )
    dc = poly_rows(
        product["dopplerCentroid"]["dcEstimateList"]["dcEstimate"],
        "dataDcPolynomial",
    )

    grid = []
    gl = product.get("geolocationGrid")
    if gl:
        for p in _as_list(gl["geolocationGridPointList"]["geolocationGridPoint"]):
            grid.append(
                {
                    "line": int(_text(p["line"])),
                    "pixel": int(_text(p["pixel"])),
                    "lat": float(_text(p["latitude"])),
                    "lon": float(_text(p["longitude"])),
                }
            )

    return {
        "start_time": product["adsHeader"]["startTime"],
        "lines_per_burst": int(_text(st["linesPerBurst"])),
        "samples_per_burst": int(_text(st["samplesPerBurst"])),
        "burst_count": int(st["burstList"]["@count"]),
        "azimuth_time_interval": float(_text(img["azimuthTimeInterval"])),
        "slant_range_time": float(_text(img["slantRangeTime"])),
        "number_of_samples": int(_text(img["numberOfSamples"])),
        "range_sampling_rate": float(_text(gen["rangeSamplingRate"])),
        "azimuth_steering_rate": float(_text(gen["azimuthSteeringRate"])),
        "radar_frequency": float(_text(gen["radarFrequency"])),
        "bursts": bursts,
        "fm_rate": fm,
        "dc_estimate": dc,
        "geolocation_grid": grid,
    }


def location_grid_burst_count(grid: list[dict]) -> int:
    """auxils.py:66-73: number of bursts = distinct line values − 1."""
    return len({p["line"] for p in grid}) - 1


def burst_polygons(grid: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """Geolocation grid → per-burst footprint quads — the reference's
    parse_subswath_geometry (auxils.py:78-121), generalized from its
    hardcoded 21 points/line to the grid's actual stride.

    Corner indices per burst b (1-based), with P points per line
    (reference: tr=0, tl=20, bl=41, br=21, stride 21):
    tr=(b−1)·P, tl=(b−1)·P+P−1, bl=b·P+P−1, br=b·P; corner order
    [top-right, top-left, bottom-left, bottom-right], coordinates as
    (lon, lat) (auxils.py:80-84 swaps (lat, lon) → (lon, lat)).
    Rows must be in annotation order (line-major) — parse_annotation
    preserves document order.
    """
    if not grid:
        return {}
    lines = sorted({p["line"] for p in grid})
    n_bursts = len(lines) - 1
    per_line = len(grid) // len(lines)
    coords = [(p["lon"], p["lat"]) for p in grid]

    out: dict[int, list[tuple[float, float]]] = {}
    for b in range(1, n_bursts + 1):
        tr = (b - 1) * per_line
        tl = (b - 1) * per_line + per_line - 1
        bl = b * per_line + per_line - 1
        br = b * per_line
        out[b] = [coords[tr], coords[tl], coords[bl], coords[br]]
    return out

