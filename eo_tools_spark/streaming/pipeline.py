"""Structured Streaming adapters.

``stream_images_to_snapshots``: ``readStream`` on a parquet directory
(new files = new images) → ``foreachBatch`` running the batch spatial
join + tile assignment → ``SnapshotTable.append_batch(batch_id=epoch)``.
Restart-safe twice over: Spark's streaming checkpoint replays an epoch
at most once, and the snapshot layer skips already-committed batch ids
(idempotent). ``available_now`` processes the current backlog then
stops — the batch-incremental mode that mirrors the reference's
skip-if-exists reruns.

``stream_exact_dedup``: first-seen row per md5 content fingerprint,
state bounded by an event-time watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from eo_tools_spark.sources.snapshots import SnapshotTable


def stream_images_to_snapshots(
    spark: SparkSession,
    source_dir: str,
    source_schema,
    table: SnapshotTable,
    aois: dict,
    checkpoint_dir: str,
    available_now: bool = True,
    post_commit_hook=None,
):
    """Start the stream; returns the StreamingQuery.

    ``post_commit_hook(epoch_id)`` is a failure-injection seam invoked
    AFTER the snapshot commit and BEFORE Spark records the epoch in the
    streaming checkpoint — raising from it simulates the torn-epoch
    crash window (sink committed, checkpoint not). On restart Spark
    replays the epoch with the SAME id and the snapshot layer's
    idempotent batch-id skip keeps the output exactly-once
    (pytest-pinned in test_streaming)."""
    from eo_tools_spark.functions.spatial import tile_id_col
    from eo_tools_spark.operators.spatial_join import aoi_point_join, build_aoi_cover

    cover = build_aoi_cover(spark, aois)

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        joined = aoi_point_join(batch_df, aois, cover=cover).withColumn(
            "dem_tile_id", tile_id_col("lon", "lat")
        )
        table.append_batch(
            joined.select("image_id", "aoi_id", "dem_tile_id", "lon", "lat"),
            f"epoch={epoch_id:08d}",
        )
        if post_commit_hook is not None:
            post_commit_hook(epoch_id)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    source_schema,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark: str = "2 hours",
    ts_col: str = "ts",
):
    """Streaming exact dedup: emit each distinct content fingerprint
    AT MOST ONCE WITHIN THE WATERMARK HORIZON (state = fingerprints
    seen, bounded by an event-time watermark so state is evictable).

    NOT a global-uniqueness guarantee: a duplicate whose event time
    arrives after its first-seen state was evicted by the watermark
    (> ``watermark`` later) is re-emitted — that eviction is exactly
    what bounds state at scale. Downstream consumers that need a
    globally-unique canonical key must dedup again at rest (e.g. an
    md5 groupBy over the sink, or MERGE into a keyed table).

    Built on ``dropDuplicatesWithinWatermark`` over md5(text): native
    Spark state store (RocksDB-ready on a real cluster), no Python in
    the hot path. Output: the first-seen row per fingerprint, with the
    fingerprint column attached — downstream joins use it as the
    canonical content key.

    Scale shape: state size = distinct fingerprints inside the
    watermark horizon (not the full history); at 10^12 docs/day with a
    2 h watermark the store holds only ~2 h of distinct hashes, evicted
    by event time.
    """
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    deduped = (
        stream.withColumn("fp", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
