"""Skew handling: salted repartition on parent cells + plan checks.

Dense AOIs concentrate rows in a few cells (the synthetic tables plant
50% of rows in one 1°×1° hotspot on purpose). Three layers of defense,
as mandated by the north rule:

1. The flagship join broadcasts the AOI cover → NO shuffle of the big
   side → join skew is structurally impossible there.
2. Aggregations keyed by cell use two-phase salted aggregation
   (``salted_agg``): partial per (cell, salt) then final per cell —
   classic map-side skew splitting, done with plain DataFrame ops so
   Catalyst sees both stages.
3. AQE skew-join splitting stays on (session factory) as the backstop
   for shuffle joins we don't control.

``parent_cell_salt`` derives the salt from finer-resolution child cells
instead of random numbers: deterministic (resumable runs re-produce the
same partitioning — randomness would break snapshot resume) and
locality-preserving (children of one parent stay near each other).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from eo_tools_spark.functions.spatial import cell_col


def parent_cell_salt(lon: str, lat: str, parent_res: int, salt_bits: int = 4) -> Column:
    """Deterministic salt: the low ``salt_bits`` of BOTH the child ix
    and iy at parent_res + salt_bits — splits each parent cell into up
    to 4^salt_bits shards. (Taking the packed id's low bits would use
    iy only: 2^salt_bits shards and longitude-blind — review finding.)

    LIMIT (measured by scripts/skew_probe.py): the spread comes from
    the data's spatial extent WITHIN the parent cell, so a hotspot
    finer than the child-cell size defeats it — a 0.05-degree point
    mass inside a res-8 parent lands in <= 4 res-12 children and the
    "salt" takes 4 values, not 4^salt_bits. When the skewed key's rows
    need no spatial locality in the shards (any SUM-decomposable agg,
    any per-shard processing merged downstream), use ``row_salt`` —
    it spreads a point mass uniformly."""
    child = cell_col(lon, lat, parent_res + salt_bits)
    m = (1 << salt_bits) - 1
    ix_bits = F.shiftright(child, 29) % (m + 1)
    iy_bits = child % (m + 1)
    return (ix_bits * (m + 1) + iy_bits).cast("int")


def row_salt(id_col: str, salt_bits: int = 8) -> Column:
    """Deterministic NON-spatial salt: xxhash64 of a stable row id,
    masked to ``salt_bits``. Splits ANY hot key — including a true
    point mass, which defeats every spatial salt — into up to
    2^salt_bits shards. Deterministic per row (resumable runs
    reproduce the layout; no rand()), uniform by hash mixing."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << salt_bits)).cast("int")


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    salt: Column,
    aggs: dict[str, Column],
    nsalt_name: str = "_salt",
) -> DataFrame:
    """Two-phase aggregation: partial per (keys, salt), final per keys.

    ``aggs`` maps output name → SUM-decomposable partial expression
    (count/sum/min/max). The partial shuffle spreads a hot key over all
    its salt shards; the final shuffle moves only #distinct-keys ×
    #salts rows."""
    partial = (
        df.withColumn(nsalt_name, salt)
        .groupBy(*key_cols, nsalt_name)
        .agg(*[expr.alias(f"_p_{name}") for name, expr in aggs.items()])
    )
    final_aggs = []
    for name in aggs:
        col = F.col(f"_p_{name}")
        # partial results combine by SUM for count/sum, MIN/MAX for those
        if name.startswith("min"):
            final_aggs.append(F.min(col).alias(name))
        elif name.startswith("max"):
            final_aggs.append(F.max(col).alias(name))
        else:
            final_aggs.append(F.sum(col).alias(name))
    return partial.groupBy(*key_cols).agg(*final_aggs)


def explain_str(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()
