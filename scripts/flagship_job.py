#!/usr/bin/env python
"""Cluster entry point for the flagship pipeline, submitted as:

    python scripts/make_pyfiles.py              # build dist/eo_tools_spark.zip
    spark-submit --py-files dist/eo_tools_spark.zip \
        scripts/flagship_job.py --images <parquet> --out <snapshot-table>

On a real cluster add --master/--deploy-mode/--num-executors; the job
body is identical (nothing below assumes local mode). The run is
RESUMABLE: work is batched by AOI, each batch commits one snapshot;
re-submitting after a failure skips committed batches (append_batch is
idempotent per batch id).
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True, help="image+caption parquet (cell-partitioned)")
    ap.add_argument("--out", required=True, help="snapshot table path")
    ap.add_argument("--limit", type=int, default=0, help="optional row cap (smoke)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName("eo-tools-spark-flagship").getOrCreate()
    # load-bearing for the bytes scan: the vectorized reader degrades
    # ~4x on multi-KB binary columns and the per-read option is ignored
    # by Spark 4.1 — set the (runtime-settable) SQL conf explicitly so
    # the job doesn't depend on spark-submit --conf
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")

    from eo_tools_spark.functions.spatial import tile_id_col
    from eo_tools_spark.operators.spatial_join import (
        aoi_partition_cells,
        aoi_point_join,
        build_aoi_cover,
    )
    from eo_tools_spark.sources.derived import aoi_rings
    from eo_tools_spark.sources.snapshots import SnapshotTable
    from eo_tools_spark.sources.synthetic import PARTITION_RES

    from eo_tools_spark.session import read_binary_parquet

    images = read_binary_parquet(spark, args.images)
    if args.limit:
        # deterministic subset (ids are zero-padded): .limit() would pick
        # an arbitrary, resubmission-dependent row set and break the
        # resume guarantee; a range predicate is stable and pushes down
        images = images.where(F.col("image_id") < f"img-{args.limit:012d}")
    aois = aoi_rings()
    cover_df, res_by_id = build_aoi_cover(spark, aois)
    table = SnapshotTable(spark, args.out)

    # one batch per AOI → per-batch snapshot commit + lineage metrics;
    # already-committed AOIs are skipped on resubmit (resume path)
    for aoi_id, ring in aois.items():
        batch_id = f"aoi={aoi_id}"
        pcells = aoi_partition_cells({aoi_id: ring}, PARTITION_RES)
        pruned = images.where(F.col("pcell").isin(pcells)) if "pcell" in images.columns else images
        aoi_cover = (
            cover_df.where(F.col("aoi_id") == aoi_id),
            {aoi_id: res_by_id[aoi_id]},
        )
        out = aoi_point_join(pruned, {aoi_id: ring}, cover=aoi_cover).withColumn(
            "dem_tile_id", tile_id_col("lon", "lat")
        )
        res = table.append_batch(
            out.select("image_id", "aoi_id", "dem_tile_id", "lon", "lat"), batch_id
        )
        print(f"skip committed {batch_id}" if res.get("skipped") else res)

    for s in table.snapshot_summaries():
        print(s)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
