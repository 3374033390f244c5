"""Streaming adapter: backlog → micro-batches → snapshot commits,
restart-safe and equal to the one-shot batch result."""

from eo_tools_spark.sources.derived import aoi_rings
from eo_tools_spark.sources.snapshots import SnapshotTable
from eo_tools_spark.sources.synthetic import IMAGE_SCHEMA, images_table
from eo_tools_spark.streaming import stream_images_to_snapshots


def test_stream_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    # backlog of 3 file groups
    imgs = images_table(spark, 300, partitions=3)
    imgs.write.parquet(src)

    table = SnapshotTable(spark, str(tmp_path / "snap"))
    q = stream_images_to_snapshots(
        spark, src, IMAGE_SCHEMA, table,
        aoi_rings(), str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(300)

    got = {(r.image_id, r.aoi_id) for r in table.read().collect()}

    from eo_tools_spark.operators.spatial_join import aoi_point_join

    batch = aoi_point_join(spark.read.parquet(src), aoi_rings())
    exp = {(r.image_id, r.aoi_id) for r in batch.collect()}
    assert got == exp and len(exp) > 0

    # re-running the stream (same checkpoint) adds nothing — exactly-once
    n_before = len(table.committed_batches())
    q2 = stream_images_to_snapshots(
        spark, src, IMAGE_SCHEMA, table,
        aoi_rings(), str(tmp_path / "ckpt"), available_now=True,
    )
    q2.awaitTermination(300)
    assert {(r.image_id, r.aoi_id) for r in table.read().collect()} == exp


def test_stream_torn_epoch_exactly_once(spark, tmp_path):
    """Round-5 verdict task 6: crash in the window AFTER the snapshot
    commit but BEFORE the streaming checkpoint records the epoch (the
    classic torn-epoch double-write hazard). On restart Spark replays
    the epoch with the same id; the snapshot layer's idempotent
    batch-id skip must yield exactly-once rows == the batch oracle."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    images_table(spark, 300, partitions=3).write.parquet(src)
    table = SnapshotTable(spark, str(tmp_path / "snap"))

    crashed = []

    def bomb(epoch_id):
        crashed.append(epoch_id)
        raise RuntimeError("torn epoch: killed before checkpoint commit")

    q = stream_images_to_snapshots(
        spark, src, IMAGE_SCHEMA, table,
        aoi_rings(), str(tmp_path / "ckpt"), available_now=True,
        post_commit_hook=bomb,
    )
    with pytest.raises(StreamingQueryException, match="torn epoch"):
        q.awaitTermination(300)
    assert set(crashed) == {0}
    # the sink already holds epoch 0 (commit happened before the crash)
    assert table.committed_batches() == ["epoch=00000000"]

    # restart with the SAME checkpoint, no bomb: Spark replays epoch 0,
    # the snapshot layer skips the already-committed batch id
    q2 = stream_images_to_snapshots(
        spark, src, IMAGE_SCHEMA, table,
        aoi_rings(), str(tmp_path / "ckpt"), available_now=True,
    )
    q2.awaitTermination(300)

    from eo_tools_spark.operators.spatial_join import aoi_point_join

    exp = {(r.image_id, r.aoi_id) for r in aoi_point_join(
        spark.read.parquet(src), aoi_rings()
    ).collect()}
    rows = table.read().select("image_id", "aoi_id").collect()
    assert len(rows) == len(exp) > 0  # no duplicates (multiset equality)
    assert {(r.image_id, r.aoi_id) for r in rows} == exp
    # the replay committed under the SAME batch id — no shadow batch
    assert table.committed_batches() == ["epoch=00000000"]


def test_stream_exact_dedup(spark, tmp_path, sf_dir):
    """Streaming dedup emits each distinct text once across
    micro-batches; survivors are a superset-exact match of the batch
    distinct-fingerprint set."""
    from pyspark.sql import functions as F

    from eo_tools_spark.streaming.pipeline import stream_exact_dedup

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(400)
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
    )
    src = str(tmp_path / "dsrc")
    docs.repartition(8).write.parquet(src)  # 8 files → several micro-batches

    q = stream_exact_dedup(
        spark, src, spark.read.parquet(src).schema,
        str(tmp_path / "dout"), str(tmp_path / "dck"),
    )
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "dout")).toPandas()
    exp_fps = {
        r.fp for r in docs.select(F.md5("text").alias("fp")).distinct().collect()
    }
    assert set(got["fp"]) == exp_fps          # every distinct content present
    assert len(got) == len(set(got["fp"]))    # exactly once
