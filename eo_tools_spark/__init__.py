"""eo_tools_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the query/data-processing capabilities of
``odhondt/eo_tools`` (Sentinel-1/2 scene-and-burst geometry, geocoding,
tile algebra) as idiomatic ``pyspark.sql`` DataFrame plans with vectorized
pandas/Arrow UDFs.  This is NOT a port: the reference's single-node
mechanisms (numba kernels, dask chunking, rasterio windows) are replaced by
Spark primitives — broadcast cell joins, groupBy aggregations, halo-tile
joins, snapshot-based resume.

Subpackages
-----------
geo        pure-numpy geometry kernels: WKB codec, point-in-polygon,
           polygon clipping, hierarchical cell index (H3/S2-style).
functions  column-level function library (spatial, text, vector, imaging)
           built on pyspark.sql.functions + pandas UDFs.
operators  relational operators: spatial join, kNN, range join, burst
           ranges, dedup, similarity search, tile algebra, geocoding.
sources    deterministic synthetic generators + snapshot/lineage table
           layer (Iceberg-style commit/resume on local parquet).
plans      plan inspection and tuning helpers (AQE, skew, broadcast).
streaming  optional Structured Streaming wrappers (foreachBatch
           snapshot commits, watermarked exact dedup).
"""

__version__ = "0.1.0"

from eo_tools_spark.session import get_spark  # noqa: F401
