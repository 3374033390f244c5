"""Raster↔vector tile assignment: bbox interval join.

Reference semantics: a burst's buffered footprint bbox selects the DEM
tiles/window covering it (/root/reference/eo_tools/S1/process.py:2308-2327
``geometry_window``; buffer of ``buffer_arc_sec/3600``° and union-bbox at
core.py:302-317).

Physical shape: both sides expand their bbox into covering cells at a
shared resolution (tiles usually one cell; footprints a handful) →
equi-join on cell → dropDuplicates of the pair → NATIVE column predicate
refine (closed-interval bbox overlap — no Python at all in the refine).
When the tile side is small it is broadcast and the big side never
shuffles; when both sides are huge the cell key is the shuffle key and
skew is bounded by cell granularity + AQE skew-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_bbox_cells(df: DataFrame, res: int, prefix: str = "") -> DataFrame:
    """Add `_cell` exploded from the bbox cover of (minx,miny,maxx,maxy).

    The cover of an axis-aligned bbox is a dense ix/iy range — expressed
    as a cross of two Catalyst ``sequence`` ranges, entirely JVM-side.
    """
    n = 1 << res
    ix0 = f"LEAST(GREATEST(CAST(FLOOR(({prefix}minx + 180.0) * {n} / 360.0) AS BIGINT), 0), {n - 1})"
    ix1 = f"LEAST(GREATEST(CAST(FLOOR(({prefix}maxx + 180.0) * {n} / 360.0) AS BIGINT), 0), {n - 1})"
    iy0 = f"LEAST(GREATEST(CAST(FLOOR(({prefix}miny + 90.0) * {n} / 180.0) AS BIGINT), 0), {n - 1})"
    iy1 = f"LEAST(GREATEST(CAST(FLOOR(({prefix}maxy + 90.0) * {n} / 180.0) AS BIGINT), 0), {n - 1})"
    cell_expr = (
        f"explode(flatten(transform(sequence({ix0}, {ix1}), ix -> "
        f"transform(sequence({iy0}, {iy1}), iy -> "
        f"CAST({res} AS BIGINT) * {1 << 58} + ix * {1 << 29} + iy))))"
    )
    return df.withColumn("_cell", F.expr(cell_expr))


def bbox_intersect_join(
    left: DataFrame,
    right: DataFrame,
    res: int = 7,
    buffer_deg: float = 0.0,
) -> DataFrame:
    """Inner join on closed-interval bbox overlap, left bbox optionally
    buffered by ``buffer_deg`` (reference: buffer_arc_sec/3600).

    Expects bbox columns named (minx,miny,maxx,maxy) on the left and
    (t_minx,t_miny,t_maxx,t_maxy) on the right. All left/right columns
    are carried through.
    """
    lb = left
    if buffer_deg:
        for c, s in (("minx", -1), ("miny", -1), ("maxx", 1), ("maxy", 1)):
            lb = lb.withColumn(c, F.col(c) + s * buffer_deg)
    lc = with_bbox_cells(lb, res)
    rc = with_bbox_cells(right, res, prefix="t_")
    cand = lc.join(F.broadcast(rc), "_cell")
    # reference-point dedup (no distinct/shuffle): a matching pair is
    # emitted only by the cell containing the intersection's min corner,
    # which both sides' covers always include
    n = 1 << res
    ref_cell = (
        f"CAST({res} AS BIGINT) * {1 << 58} + "
        f"LEAST(GREATEST(CAST(FLOOR((GREATEST(minx, t_minx) + 180.0) * {n} / 360.0) AS BIGINT), 0), {n - 1}) * {1 << 29} + "
        f"LEAST(GREATEST(CAST(FLOOR((GREATEST(miny, t_miny) + 90.0) * {n} / 180.0) AS BIGINT), 0), {n - 1})"
    )
    return cand.where(
        (F.col("minx") <= F.col("t_maxx"))
        & (F.col("maxx") >= F.col("t_minx"))
        & (F.col("miny") <= F.col("t_maxy"))
        & (F.col("maxy") >= F.col("t_miny"))
        & (F.col("_cell") == F.expr(ref_cell))
    ).drop("_cell")
