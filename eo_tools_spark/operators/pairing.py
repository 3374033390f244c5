"""Burst-range reduction and ESD mean.

These are the reference's catalog-level aggregations re-expressed:

- ``burst_range``: per (product, subswath) min/max burst from the AOI
  join, then range expansion — selection is BY RANGE, gaps included
  (process.py:389-393, download.py:411-415; F.sequence for the expand).
- ``line_range``: the partial-product line window of a burst range.
- ``esd_phase_mean``: mean of complex phases per overlap region →
  groupBy(sum re, sum im) + atan2 — associative partial aggregation
  (core.py:1009-1014, process.py:2587-2613).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def burst_range(joined: DataFrame) -> DataFrame:
    """(product_id, subswath, burst) rows → per-group consecutive range.

    Output: product_id, subswath, min_burst, max_burst, bursts(list —
    gaps filled, matching the by-range selection semantics).
    """
    return (
        joined.groupBy("product_id", "subswath")
        .agg(F.min("burst").alias("min_burst"), F.max("burst").alias("max_burst"))
        .withColumn("bursts", F.sequence("min_burst", "max_burst"))
    )


def line_range(burst_range_df: DataFrame, lines_per_burst) -> DataFrame:
    """Partial-product line window arithmetic
    (download.py:414-415: line_start = lpb·(min−1), n = lpb·(max−min+1)).
    ``lines_per_burst`` may be an int or a Column (per-row lpb, used by
    stac.plan_partial_downloads) — the single home of this formula."""
    from pyspark.sql import Column

    lpb = (
        lines_per_burst
        if isinstance(lines_per_burst, Column)
        else F.lit(lines_per_burst)
    )
    return burst_range_df.withColumn(
        "line_start", lpb * (F.col("min_burst") - 1)
    ).withColumn(
        "number_of_lines", lpb * (F.col("max_burst") - F.col("min_burst") + 1)
    )


def esd_phase_mean(df: DataFrame, group_cols: list[str], re_col: str = "re", im_col: str = "im") -> DataFrame:
    """Mean phase of complex samples per group: angle(Σ re, Σ im).

    Complex mean is associative → Spark's partial aggregation applies
    (map-side combine), unlike the reference's in-memory np.nanmean
    (core.py:1009-1014)."""
    return df.groupBy(*group_cols).agg(
        F.atan2(F.sum(im_col), F.sum(re_col)).alias("esd_phase"),
        F.count(F.lit(1)).alias("n_samples"),
    )
