"""Optional Structured Streaming wrappers.

The reference is pure batch (SURVEY §2.9); incremental work is
idempotent skip-if-exists. The streaming surface here is therefore
thin (``streaming.pipeline``):

- ``stream_images_to_snapshots``: a file-source stream of image rows
  driven through the SAME batch pipeline via ``foreachBatch``, each
  micro-batch committed as one snapshot (exactly-once via SnapshotTable
  idempotency + Spark's checkpointed batch ids);
- ``stream_exact_dedup``: md5 exact dedup with watermark-bounded state.
"""

from eo_tools_spark.streaming.pipeline import stream_images_to_snapshots  # noqa: F401
