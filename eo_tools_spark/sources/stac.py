"""Partial-product download planning — the job list of the reference's
CDSE partial downloader, computed distributed.

Reference surface (/root/reference/eo_tools/S1/download.py):
``download_partial_products`` (download.py:114-243) selects, per
product, the bursts that intersect an AOI and the per-(pol, subswath)
measurement line windows to fetch. That planning
(download.py:378-443 ``_build_download_list``) is pure logic and is
computed here by ``plan_partial_downloads``; the ranged S3/HTTP read
itself is not part of the engine.

At 100 TB the planning side is the part that must scale: the burst
catalog is millions of rows (every product × subswath × burst), so
selection runs through the engine's cover-cell broadcast join
(spatial_join.aoi_footprint_join) — no driver-side geometry loop; only
the ≤ (products × 6) job rows reach the driver, and only when the
caller collects them.
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np

from pyspark.sql import DataFrame, functions as F

from eo_tools_spark.geo import wkb as W
from eo_tools_spark.operators.pairing import burst_range
from eo_tools_spark.operators.spatial_join import aoi_footprint_join

#: download.py:290 — allowed polarizations, in canonical order
ALLOWED_POLS = ("vv", "vh")


def normalize_polarizations(pol: str | Sequence[str]) -> list[str]:
    """download.py:288-310 ``_normalize_polarizations``, identical
    contract: 'full' → both, strings lowered, canonical (vv, vh) order,
    same ValueError texts."""
    if isinstance(pol, str):
        selected = list(ALLOWED_POLS) if pol.lower() == "full" else [pol.lower()]
    elif isinstance(pol, (list, tuple, set)):
        selected = [p.lower() for p in pol]
    else:
        raise ValueError("pol must be a string or an iterable of strings")
    invalid = sorted(set(selected) - set(ALLOWED_POLS))
    if invalid:
        raise ValueError(
            f"Invalid polarization(s): {invalid}. Allowed values are 'vv', "
            "'vh', 'full', or ['vv', 'vh']."
        )
    selected = [p for p in ALLOWED_POLS if p in set(selected)]
    if not selected:
        raise ValueError("At least one valid polarization must be selected")
    return selected


def validate_single_ring(shp: Any, parameter_name: str) -> np.ndarray:
    """download.py:276-286 ``_validate_single_polygon`` for the engine's
    geometry model: one closed (N,2) lon/lat ring (or its WKB)."""
    if isinstance(shp, (bytes, bytearray)):
        rings = W.wkb_to_coords(bytes(shp))
        if len(rings) != 1:
            raise ValueError(
                f"{parameter_name} must be a single Polygon, not "
                f"{len(rings)} rings."
            )
        shp = rings[0]
    if not isinstance(shp, np.ndarray) or shp.ndim != 2 or shp.shape[1] != 2:
        raise ValueError(
            f"{parameter_name} must be a single polygon ring ((N,2) array "
            f"or WKB), not {type(shp).__name__}."
        )
    if shp.shape[0] < 4:
        raise ValueError(f"{parameter_name} must not be an empty Polygon.")
    return np.asarray(shp, dtype=np.float64)


def plan_partial_downloads(
    bursts: DataFrame,
    shp: Any,
    lines_per_burst: int | DataFrame,
    pol: str | Sequence[str] = "full",
    assets: DataFrame | None = None,
    res: int = 7,
) -> DataFrame:
    """The distributed form of ``_build_download_list``
    (download.py:378-443): burst×AOI intersects → per (product,
    subswath) consecutive burst range → per selected polarization one
    download job with the measurement line window.

    ``bursts``: (product_id, subswath, burst, footprint:binary) — the
    burst-geometry catalog (get_burst_geometry analog).
    ``lines_per_burst``: constant, or a (product_id, subswath,
    lines_per_burst) frame read from annotations.
    ``assets``: optional (product_id, subswath, pol, href) frame; when
    given, each job carries the measurement href and its basename as
    ``file`` (download.py:425-427: the asset key is
    ``{subswath}-{pol}``, the tiff name is the href basename).

    Output jobs frame (one row per product × subswath × pol):
    product_id, subswath, pol, min_burst, max_burst, lines_per_burst,
    line_start, number_of_lines [, href, file]. Raises the reference's
    RuntimeError when no burst intersects (download.py:391-394).
    """
    ring = validate_single_ring(shp, "shp")
    pols = normalize_polarizations(pol)
    spark = bursts.sparkSession

    hit = aoi_footprint_join(
        bursts, {"_aoi": ring}, wkb_col="footprint", res=res,
        id_cols=["product_id", "subswath", "burst"],
    )
    if hit.isEmpty():
        raise RuntimeError(
            "The list of bursts to process is empty. Make sure shp "
            "intersects the product."
        )
    ranges = burst_range(hit.select("product_id", "subswath", "burst"))
    if isinstance(lines_per_burst, DataFrame):
        ranges = ranges.join(
            F.broadcast(lines_per_burst), ["product_id", "subswath"]
        )
    else:
        ranges = ranges.withColumn(
            "lines_per_burst", F.lit(int(lines_per_burst))
        )
    # download.py:414-415 — the shared formula home (per-row lpb Column)
    from eo_tools_spark.operators.pairing import line_range

    jobs = line_range(
        ranges.crossJoin(
            F.broadcast(spark.createDataFrame([(p,) for p in pols], "pol string"))
        ),
        F.col("lines_per_burst"),
    )
    if assets is not None:
        jobs = jobs.join(
            F.broadcast(assets), ["product_id", "subswath", "pol"], "left"
        ).withColumn("file", F.concat(F.lit("measurement/"),
                                      F.element_at(F.split("href", "/"), -1)))
    return jobs.select(
        "product_id", "subswath", "pol", "min_burst", "max_burst",
        "lines_per_burst", "line_start", "number_of_lines",
        *(["href", "file"] if assets is not None else []),
    )
