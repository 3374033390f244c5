"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 run
over the driver's parquet tables (or deterministic views derived from
them — see eo_tools_spark/sources/derived.py); ``oracle_sql()`` gives the
DuckDB-equivalent SQL. Spatial operators use the engine's real physical
plans (broadcast cell joins, mapInPandas kNN) — the oracles recompute the
same semantics relationally.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CELL_RES = 12  # fixed resolution for the cell_index query


def _scenes(spark: SparkSession, sf_dir: str):
    from eo_tools_spark.sources.derived import scenes_view

    return scenes_view(spark, sf_dir)


def _fresh_tmp(prefix: str) -> str:
    """Tempdir for a driver query, removing dirs left by PREVIOUS
    invocations of the same query first — repeated oracle-gate/bench
    rounds otherwise accumulate unbounded /tmp trees on the shared
    host (this process is the only writer of these prefixes)."""
    import glob
    import shutil
    import tempfile

    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        shutil.rmtree(old, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix)


# ---------------------------------------------------------------- queries

def q_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point → hierarchical cell id (JVM-side Catalyst arithmetic).

    SURVEY §2.8 geo scalar (h3.latlng_to_cell analog)."""
    from eo_tools_spark.functions.spatial import cell_col

    scenes = _scenes(spark, sf_dir)
    return scenes.select(
        "scene_id", cell_col("lon", "lat", CELL_RES).alias("cell")
    )


def q_pip_aoi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: AOI × scenes broadcast cell spatial join with exact PIP
    refine (SURVEY §2.3 row 1; process.py:321-323 semantics)."""
    from eo_tools_spark.operators.spatial_join import aoi_point_join
    from eo_tools_spark.sources.derived import aoi_rings

    scenes = _scenes(spark, sf_dir)
    return aoi_point_join(scenes, aoi_rings()).select(
        "scene_id", "lon", "lat", "aoi_id"
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster↔vector tile assignment: scene → 1°×1° DEM tile name +
    per-tile counts (SURVEY §2.3 burst/DEM-tile assignment)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.functions.spatial import tile_id_col

    scenes = _scenes(spark, sf_dir)
    return (
        scenes.withColumn("dem_tile_id", tile_id_col("lon", "lat"))
        .groupBy("dem_tile_id")
        .agg(F.count(F.lit(1)).alias("n_scenes"))
    )


def _tile_catalog_pdf():
    """10×10 1° tile catalog over [5,15]×[35,45] — matches the SQL
    range()-generated catalog in the kNN oracle exactly."""
    import pandas as pd

    rows = [
        (f"T{ix:02d}{iy:02d}", 5.5 + ix, 35.5 + iy)
        for ix in range(10)
        for iy in range(10)
    ]
    return pd.DataFrame(rows, columns=["dem_tile_id", "cx", "cy"])


def q_knn_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN scene→DEM-tile (k=3) via broadcast grid-bucket index +
    cell-ring expansion in mapInPandas (SURVEY §2.3 kNN variant)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.operators.knn import knn_join

    scenes = _scenes(spark, sf_dir).where(F.expr("scene_id % 2 = 0"))
    out = knn_join(scenes, _tile_catalog_pdf(), k=3)
    return out.select("scene_id", "dem_tile_id", "knn_rank")


def q_footprint_aoi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon×polygon flagship variant: scene FOOTPRINT quads (WKB)
    intersecting AOIs via cover-cell explode + exact polygon refine
    (SURVEY §2.3 row 1, the aoi_footprint_join operator). The oracle
    reduces to bbox-interval predicates because the derived footprints
    are axis-aligned boxes."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from eo_tools_spark.geo.wkb import box_to_wkb
    from eo_tools_spark.operators.spatial_join import aoi_footprint_join
    from eo_tools_spark.sources.derived import aoi_rings

    scenes = _scenes(spark, sf_dir).where("scene_id % 5 = 0")

    schema = StructType(
        [StructField("scene_id", LongType()), StructField("footprint", BinaryType())]
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(r.scene_id), box_to_wkb(r.lon - 0.15, r.lat - 0.1, r.lon + 0.15, r.lat + 0.1))
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(rows, columns=["scene_id", "footprint"])

    fp = scenes.select("scene_id", "lon", "lat").mapInPandas(mk, schema=schema)
    out = aoi_footprint_join(fp, aoi_rings(), res=8, id_cols=["scene_id"])
    return out.select("scene_id", "aoi_id")


def q_burst_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AOI join → per (product, subswath) consecutive burst range +
    partial-product line-window arithmetic (SURVEY §2.3/§2.4;
    process.py:389-393 + download.py:414-415)."""
    from eo_tools_spark.operators.pairing import burst_range, line_range
    from eo_tools_spark.operators.spatial_join import aoi_point_join
    from eo_tools_spark.sources.derived import aoi_rings

    scenes = _scenes(spark, sf_dir)
    rings = {k: v for k, v in aoi_rings().items() if k == "aoi_mid"}
    joined = aoi_point_join(scenes, rings)
    return line_range(burst_range(joined), 1507).select(
        "product_id", "subswath", "min_burst", "max_burst",
        "line_start", "number_of_lines",
    )


def q_partial_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-product download PLANNING end to end (SURVEY §2.1 partial
    S3 download row, network as a seam): burst-footprint×AOI intersects
    → per (product, subswath) burst range → per-polarization jobs with
    line windows and measurement file names
    (download.py:378-443 `_build_download_list` semantics)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, IntegerType, StringType, StructField, StructType,
    )

    from eo_tools_spark.geo.wkb import box_to_wkb
    from eo_tools_spark.sources.derived import aoi_rings
    from eo_tools_spark.sources.stac import plan_partial_downloads

    scenes = _scenes(spark, sf_dir).where("scene_id % 5 = 0")

    schema = StructType([
        StructField("product_id", StringType()),
        StructField("subswath", StringType()),
        StructField("burst", IntegerType()),
        StructField("footprint", BinaryType()),
    ])

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (r.product_id, r.subswath, int(r.burst),
                 box_to_wkb(r.lon - 0.15, r.lat - 0.1, r.lon + 0.15, r.lat + 0.1))
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(
                rows, columns=["product_id", "subswath", "burst", "footprint"]
            )

    bursts = scenes.select(
        "product_id", "subswath", "burst", "lon", "lat"
    ).mapInPandas(mk, schema=schema)

    # measurement assets per (product, subswath, pol) — href follows the
    # SAFE naming convention so `file` is its basename
    assets = (
        scenes.select("product_id", "subswath").distinct()
        .crossJoin(spark.createDataFrame([("vv",), ("vh",)], "pol string"))
        .withColumn(
            "href",
            F.concat(
                F.lit("s3://eodata/"), F.col("product_id"),
                F.lit(".SAFE/measurement/s1a-"), F.lower("subswath"),
                F.lit("-slc-"), F.col("pol"), F.lit("-"),
                F.lower("product_id"), F.lit(".tiff"),
            ),
        )
    )
    ring = aoi_rings()["aoi_mid"]
    return plan_partial_downloads(
        bursts, ring, lines_per_burst=1507, pol="full", assets=assets, res=8
    ).select(
        "product_id", "subswath", "pol", "min_burst", "max_burst",
        "line_start", "number_of_lines", "file",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING under the oracle gate (SURVEY §2.9): the
    documents table plus planted near-in-time duplicates flows through
    `stream_exact_dedup` (dropDuplicatesWithinWatermark over md5(text),
    availableNow trigger, parquet sink + checkpoint); the sink must
    equal the batch DISTINCT — duplicates arriving inside the watermark
    horizon are suppressed exactly once. Output columns are
    fp-functional (fp, text_len) so first-seen row arbitrariness can't
    leak into the compare."""
    import tempfile

    from pyspark.sql import functions as F

    from eo_tools_spark.streaming.pipeline import stream_exact_dedup

    base = _fresh_tmp("eo_stream_dedup_")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text",
        F.to_timestamp(
            F.lit("2024-01-01 00:00:00")
        ).cast("timestamp").alias("ts"),
    ).withColumn("ts", F.col("ts") + F.make_interval(secs=F.col("doc_id") % 600))
    docs.write.mode("overwrite").parquet(src)
    # duplicates 30 min later — inside the 2 h watermark → suppressed
    dups = docs.where("doc_id % 5 = 0").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 MINUTES")
    ).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    dups.write.mode("append").parquet(src)

    q = stream_exact_dedup(
        spark, src, docs.schema, sink, ckpt,
        text_col="text", id_col="doc_id", watermark="2 hours",
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .select("fp", F.length("text").cast("long").alias("text_len"))
    )


def q_stream_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING FLAGSHIP under the oracle gate (SURVEY §2.9 +
    north-rule resumability): the scenes table flows through
    `stream_images_to_snapshots` — readStream source → broadcast-cover
    PIP join per micro-batch → exactly-once SnapshotTable commits with
    per-partition lineage (availableNow trigger) — and the snapshot
    read-back must equal the batch PIP oracle exactly. A second run of
    the stream against the same checkpoint is asserted inline to add
    nothing (replay-safe commits, SnapshotTable.append_batch)."""
    import tempfile

    from pyspark.sql import functions as F

    from eo_tools_spark.sources.derived import aoi_rings
    from eo_tools_spark.sources.snapshots import SnapshotTable
    from eo_tools_spark.streaming.pipeline import stream_images_to_snapshots

    base = _fresh_tmp("eo_stream_sj_")
    src, snap, ckpt = f"{base}/src", f"{base}/snap", f"{base}/ckpt"

    scenes = _scenes(spark, sf_dir).select(
        F.col("scene_id").alias("image_id"), "lon", "lat"
    )
    scenes.repartition(12).write.parquet(src)  # backlog → >1 micro-batch

    table = SnapshotTable(spark, snap)
    q = stream_images_to_snapshots(
        spark, src, scenes.schema, table, aoi_rings(), ckpt
    )
    q.awaitTermination()
    n_first = table.read().count()
    q2 = stream_images_to_snapshots(
        spark, src, scenes.schema, table, aoi_rings(), ckpt
    )
    q2.awaitTermination()
    assert table.read().count() == n_first, "stream replay broke exactly-once"
    return table.read().select(
        F.col("image_id").alias("scene_id"), "lon", "lat", "aoi_id"
    )


def q_esd_phase_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESD phase-difference mean: associative complex mean via
    groupBy(sum re, sum im) (SURVEY §2.4; core.py:1009-1014).

    The hash-compared output carries the EXACT complex sums (integers in
    doubles — associative, order-independent); the final atan2 is a
    deterministic scalar on top, pinned against numpy in pytest instead
    of here because JVM StrictMath and DuckDB libm atan2 differ by 1 ulp.
    """
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        "l_returnflag",
        (F.col("l_partkey") % 13 - 6).cast("double").alias("re"),
        (F.col("l_suppkey") % 7 - 3).cast("double").alias("im"),
    )
    return df.groupBy("l_returnflag").agg(
        F.sum("re").alias("sum_re"),
        F.sum("im").alias("sum_im"),
        F.count(F.lit(1)).alias("n_samples"),
    )


# ------------------------------------------------- text / dedup / vectors

_DUAL_QUERIES: dict[str, tuple[str, list[str]]] = {}


def _register_dual_queries() -> None:
    """Text/dedup/similarity/window queries built once as dual-dialect
    SQL (see eo_tools_spark/operators/text_queries.py)."""
    if _DUAL_QUERIES:
        return
    from eo_tools_spark.operators import text_queries as TQ

    specs = {
        "dedup_exact": (TQ.dedup_exact(), ["documents"]),
        "minhash_lsh_pairs": (TQ.minhash_lsh_pairs(), ["documents"]),
        "ngram_jaccard_pairs": (TQ.ngram_jaccard_pairs(), ["documents"]),
        "langid": (TQ.langid(), ["documents"]),
        "langid_mixed": (TQ.langid_mixed(), ["documents"]),
        "quality_score": (TQ.quality_score(), ["documents"]),
        "repetition_stats": (TQ.repetition_stats(), ["documents"]),
        "token_stats": (TQ.token_stats(), ["documents"]),
        "winnow_pairs": (TQ.winnow_pairs(), ["documents"]),
        "ann_topk": (TQ.ann_topk(), ["embeddings"]),
        "neardup_embedding": (TQ.neardup_embedding(), ["embeddings"]),
        "events_hourly": (TQ.events_hourly(), ["events"]),
        "sessionize": (TQ.sessionize(), ["events"]),
        "stitch_lines": (TQ.stitch_lines(), []),
        "minby_poly": (TQ.minby_poly(), ["orders"]),
        "subswath_union": (TQ.subswath_union(), ["orders"]),
        "validation_antijoin": (TQ.validation_antijoin(), ["orders"]),
        "amplitude_proj": (TQ.amplitude_proj(), ["lineitem"]),
        "s2_scaling": (TQ.s2_scaling(), ["lineitem"]),
        "dem_cache_key": (TQ.dem_cache_key(), ["orders"]),
        "annotation_vectors": (TQ.annotation_vectors(), ["lineitem"]),
        "pairing_offset": (TQ.pairing_offset(), []),
        "orders_rollup": (TQ.orders_rollup(), ["customer", "orders", "lineitem"]),
    }
    for name, ((spark_sql, duck_sql), tables) in specs.items():
        _DUAL_QUERIES[name] = (duck_sql, tables)

        def make(sql: str, tbls: list[str]):
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                for t in tbls:
                    spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
                return spark.sql(sql)

            return run

        globals()[f"_dual_{name}"] = make(spark_sql, tables)


_register_dual_queries()


# --------------------------------------------------------- annotation ETL

def q_annotation_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML→typed-rows ETL verified at scale: per order row, build a
    synthetic annotation XML (pure function of the row), run the
    engine's parser (sources/annotation.parse_annotation inside
    mapInPandas — the distributed ETL path), and return the typed
    scalars + a fold over the parsed burst arrays. The DuckDB oracle
    computes the same values in closed form from the source columns —
    so the parse itself is what's being checked."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    from eo_tools_spark.sources.annotation import parse_annotation

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("lines_per_burst", IntegerType()),
            StructField("samples_per_burst", IntegerType()),
            StructField("burst_count", IntegerType()),
            StructField("fv_total", LongType()),
        ]
    )

    def xml_of(k: int, ck: int) -> str:
        lpb = k % 1500 + 1
        spb = ck % 20000 + 1
        bc = k % 9 + 1
        bursts = "".join(
            f"<burst><azimuthTime>2023-09-04T06:37:{31 + b}</azimuthTime>"
            f"<firstValidSample count=\"3\">{b} {b + 1} {b + 2}</firstValidSample>"
            f"<lastValidSample count=\"3\">{b + 3} {b + 4} {b + 5}</lastValidSample></burst>"
            for b in range(1, bc + 1)
        )
        return (
            "<product>"
            "<adsHeader><startTime>2023-09-04T06:37:31</startTime></adsHeader>"
            "<generalAnnotation><productInformation>"
            "<rangeSamplingRate>6.4e7</rangeSamplingRate>"
            "<azimuthSteeringRate>1.59</azimuthSteeringRate>"
            "<radarFrequency>5.405e9</radarFrequency>"
            "</productInformation>"
            "<azimuthFmRateList count=\"1\"><azimuthFmRate>"
            "<azimuthTime>2023-09-04T06:37:30</azimuthTime>"
            "<azimuthFmRatePolynomial count=\"3\">-2325.0 450000.0 -7.6e7</azimuthFmRatePolynomial>"
            "</azimuthFmRate></azimuthFmRateList>"
            "</generalAnnotation>"
            "<imageAnnotation><imageInformation>"
            "<azimuthTimeInterval>2.05e-3</azimuthTimeInterval>"
            "<slantRangeTime>5.33e-3</slantRangeTime>"
            f"<numberOfSamples>{spb}</numberOfSamples>"
            "</imageInformation></imageAnnotation>"
            "<dopplerCentroid><dcEstimateList count=\"1\"><dcEstimate>"
            "<azimuthTime>2023-09-04T06:37:29</azimuthTime>"
            "<dataDcPolynomial count=\"3\">-20.0 72000.0 -1.05e7</dataDcPolynomial>"
            "</dcEstimate></dcEstimateList></dopplerCentroid>"
            "<swathTiming>"
            f"<linesPerBurst>{lpb}</linesPerBurst>"
            f"<samplesPerBurst>{spb}</samplesPerBurst>"
            f"<burstList count=\"{bc}\">{bursts}</burstList>"
            "</swathTiming>"
            "</product>"
        )

    def etl(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for r in pdf.itertuples():
                a = parse_annotation(xml_of(int(r.o_orderkey), int(r.o_custkey)))
                fv_total = sum(sum(b["first_valid"]) for b in a["bursts"])
                rows.append(
                    (int(r.o_orderkey), a["lines_per_burst"], a["samples_per_burst"],
                     a["burst_count"], fv_total)
                )
            yield pd.DataFrame(
                rows,
                columns=["k", "lines_per_burst", "samples_per_burst", "burst_count", "fv_total"],
            )
            rows = []

    return orders.mapInPandas(etl, schema=schema)


ANNOTATION_ETL_ORACLE = (
    # fv per burst b: b + (b+1) + (b+2) = 3b+3; total over b=1..bc:
    # 3·bc(bc+1)/2 + 3·bc
    "SELECT o_orderkey AS k, "
    "CAST(o_orderkey % 1500 + 1 AS INT) AS lines_per_burst, "
    "CAST(o_custkey % 20000 + 1 AS INT) AS samples_per_burst, "
    "CAST(o_orderkey % 9 + 1 AS INT) AS burst_count, "
    "CAST(3 * (o_orderkey % 9 + 1) * (o_orderkey % 9 + 2) / 2 "
    "+ 3 * (o_orderkey % 9 + 1) AS BIGINT) AS fv_total "
    "FROM orders"
)


# -------------------------------------------------------- image pipeline
# rows-only checks: the image table is generated (deterministically) by
# the engine itself; pixel synthesis is not SQL-expressible, so these
# have no oracle_sql entry. Their invariants (lossless allclose / lossy
# PSNR >= 40 dB, caption equality, phash parity) are enforced IN the
# returned rows (boolean columns, asserted by tests/test_imaging.py).

_IMG_N = 400


def q_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint per-row invariant: decode(bytes) vs reference pixels —
    allclose for png/raw, PSNR >= 40 dB for lossy, caption equality."""
    from eo_tools_spark.operators.image_pipeline import verify_roundtrip
    from eo_tools_spark.sources.synthetic import images_table

    return verify_roundtrip(images_table(spark, _IMG_N))


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the image table (native bit
    ops, no decode)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.operators.image_pipeline import phash_neardup
    from eo_tools_spark.sources.synthetic import images_table

    imgs = images_table(spark, _IMG_N)
    # deterministic duplicate subset (ids are zero-padded; limit() would
    # pick partition-order-dependent rows and break the pinned oracle)
    dup = imgs.where(F.col("image_id") < f"img-{20:012d}").withColumn(
        "image_id", F.concat(F.lit("dup-"), F.col("image_id"))
    )
    return phash_neardup(imgs.union(dup), max_hamming=3)


def q_image_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline on the image table itself: AOI join + 1° tile
    assignment + per-tile counts (column pruning keeps bytes unread)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.functions.spatial import tile_id_col
    from eo_tools_spark.operators.spatial_join import aoi_point_join
    from eo_tools_spark.sources.derived import aoi_rings
    from eo_tools_spark.sources.synthetic import images_table

    imgs = images_table(spark, _IMG_N)
    return (
        aoi_point_join(imgs, aoi_rings())
        .withColumn("dem_tile_id", tile_id_col("lon", "lat"))
        .groupBy("aoi_id", "dem_tile_id")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


# ------------------------------------------------------- media pipeline
# real multimodal decode (round-4 verdict task 3): deterministic AVI/WAV
# container bytes (sources/synthetic.media_table) decoded by the pure
# numpy RIFF parsers (functions/media.py) inside mapInPandas. Oracles
# are fixture parquet pinned by scripts/make_media_oracle.py, which
# re-parses every container with an INDEPENDENT struct-walk and asserts
# package == independent == generator before writing.

_MEDIA_NV = 40
_MEDIA_NA = 40


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncompressed-AVI frame sampling: decode → every-2nd frame →
    digest + exact-mean stats (raw frame bytes projected away for the
    hash compare; pixel equality is pinned by the digest column and
    tests/test_imaging.py's array_equal check)."""
    from eo_tools_spark.operators.image_pipeline import frame_sample
    from eo_tools_spark.sources.synthetic import media_table

    media = media_table(spark, n_video=_MEDIA_NV, n_audio=0)
    return frame_sample(media, every_n=2).select(
        "media_id", "frame_idx", "fh", "fw", "f_mean", "digest"
    )


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM16 decode (WAV + 'sowt'-in-MP4) + exact per-clip statistics."""
    from eo_tools_spark.operators.image_pipeline import audio_stats
    from eo_tools_spark.sources.synthetic import media_table

    media = media_table(spark, n_video=0, n_audio=_MEDIA_NA)
    return audio_stats(media)


# ----------------------------------------------------- near-dup clustering

def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reduce a dedup pipeline actually needs: LSH near-dup PAIRS →
    connected components → (doc_id, cluster_id = min id of the
    component). Spark side: the dual-dialect minhash pair SQL feeds the
    star-contraction operator (operators/cluster.py);
    the DuckDB oracle computes the same components with a recursive-CTE
    transitive closure over the IDENTICAL pair set."""
    from eo_tools_spark.operators import text_queries as TQ
    from eo_tools_spark.operators.cluster import connected_components

    spark_sql, _ = TQ.minhash_lsh_pairs()
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return connected_components(spark.sql(spark_sql))


def _neardup_clusters_oracle() -> str:
    from eo_tools_spark.operators import text_queries as TQ

    _, duck = TQ.minhash_lsh_pairs()
    return (
        "WITH RECURSIVE pairs AS (" + duck + "), "
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs), "
        "reach(a, b) AS (SELECT DISTINCT src, src FROM edges "
        "UNION SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src) "
        "SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a"
    )


# ------------------------------------------------- simhash near-dup pairs

def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs end to end THROUGH THE OPERATORS: the
    mapInPandas signature kernel (segmented ±1 bit sums) → pigeonhole
    chunk-pair banding self-join → exact popcount verify
    (operators/dedup.simhash_signatures / simhash_pairs). With
    token_hash="md5" the per-token hash is the dual-dialect 60-bit
    md5_bigint, so the DuckDB oracle recomputes the ENTIRE simhash
    from scratch in SQL (per-bit weighted sums over unnested tokens)
    and the pair sets must match exactly. max_hamming=6 drives the
    narrow-chunk banding path (width 8 < min 12 → chunk-PAIR keys)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.functions.text import DOCS_AUG_SQL
    from eo_tools_spark.operators.dedup import simhash_pairs, simhash_signatures

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    docs = spark.sql(DOCS_AUG_SQL)
    sig = simhash_signatures(docs, token_hash="md5")
    # max_bucket=None: the DuckDB oracle is an uncapped brute-force
    # join, so the correctness gate must compare CAP-FREE plans — with
    # md5 token hashes the top 4 simhash bits are always zero (60-bit
    # hash), lowering chunk-key entropy, and at a larger sf a hot-bucket
    # drop would silently fail the gate. The cap stays on for the
    # bench/scale path (bench q9 and production defaults).
    return simhash_pairs(sig, max_hamming=6, max_bucket=None).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _simhash_pairs_oracle(max_hamming: int = 6) -> str:
    """Independent DuckDB simhash: 60-bit md5 token hash, per-bit ±1
    sums per doc, sign → signature, brute-force hamming self-join."""
    from eo_tools_spark.functions.text import DOCS_AUG_SQL

    sums = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(60)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    return (
        f"WITH docs AS ({DOCS_AUG_SQL}), "
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs), "
        "h AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok), "
        f"acc AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig} AS sh FROM acc) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming "
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}"
    )


# ------------------------------------------- deterministic split assign

_SPLIT_FRACS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment THROUGH THE OPERATOR
    (operators/sampling.split_assign, method='hash' — the zero-shuffle
    100 TB path): bucket = dual-dialect md5(salt ‖ id) mod 1e6 against
    cumulative fraction thresholds, so DuckDB reproduces the EXACT
    per-row assignment, not just the fractions."""
    from eo_tools_spark.functions.text import DOCS_AUG_SQL
    from eo_tools_spark.operators.sampling import split_assign

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    docs = spark.sql(DOCS_AUG_SQL)
    return split_assign(docs, _SPLIT_FRACS).select("doc_id", "split")


def _stratified_split_oracle() -> str:
    from eo_tools_spark.functions.text import DOCS_AUG_SQL, md5_bigint

    hx = md5_bigint("concat('split_', CAST(doc_id AS VARCHAR))", "duck")
    return (
        f"WITH docs AS ({DOCS_AUG_SQL}), "
        f"b AS (SELECT doc_id, ({hx}) % 1000000 AS bk FROM docs) "
        "SELECT doc_id, CASE WHEN bk < 900000 THEN 'train' "
        "WHEN bk < 950000 THEN 'val' ELSE 'test' END AS split FROM b"
    )


# ------------------------------------------- benchmark decontamination

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination THROUGH THE OPERATOR
    (operators/dedup.decontaminate): documents are split into a
    synthetic eval set (doc_id % 11 == 3, the 'benchmark') and the
    training corpus (the rest); every corpus doc sharing ≥ 2 winnowing
    fingerprints with any benchmark doc is flagged. token_hash='sql'
    puts the whole chain — dual-dialect md5 k-gram hashes, window-min
    winnowing, the broadcast cross-table fingerprint join — under a
    from-scratch DuckDB recomputation."""
    from eo_tools_spark.functions.text import DOCS_AUG_SQL
    from eo_tools_spark.operators.dedup import decontaminate

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    docs = spark.sql(DOCS_AUG_SQL)
    bench = docs.where("doc_id % 11 = 3").selectExpr(
        "doc_id AS bench_id", "text"
    )
    corpus = docs.where("doc_id % 11 <> 3")
    return decontaminate(
        corpus, bench, k=4, w=5, min_shared=2, token_hash="sql"
    )


def _decontaminate_oracle(k: int = 4, w: int = 5, min_shared: int = 2) -> str:
    """DuckDB recomputation of the full decontamination chain (same
    dual-dialect winnowing law as the winnow_pairs oracle, but across
    the corpus/benchmark split instead of a self-join)."""
    from eo_tools_spark.functions import text as T
    from eo_tools_spark.functions.text import DOCS_AUG_SQL

    h = T.kgram_hashes("text", k, "duck")
    fps = T.winnow_mins("h", w, "duck")
    return (
        f"WITH docs AS ({DOCS_AUG_SQL}), "
        "bench AS (SELECT doc_id AS bench_id, text FROM docs WHERE doc_id % 11 = 3), "
        "corp AS (SELECT doc_id, text FROM docs WHERE doc_id % 11 <> 3), "
        f"bh AS (SELECT bench_id, {h} AS h FROM bench), "
        f"bw AS (SELECT bench_id, {fps} AS fps FROM bh), "
        "bf AS (SELECT bench_id, unnest(fps) AS fp FROM bw), "
        f"ch AS (SELECT doc_id, {h} AS h FROM corp), "
        f"cw AS (SELECT doc_id, {fps} AS fps FROM ch), "
        "cf AS (SELECT doc_id, unnest(fps) AS fp FROM cw) "
        "SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared "
        "FROM cf c JOIN bf b ON c.fp = b.fp "
        "GROUP BY c.doc_id, b.bench_id "
        f"HAVING COUNT(*) >= {min_shared}"
    )


# --------------------------------------- adaptive-cover flagship variant

def q_pip_aoi_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship join routed through the DENSITY-SPLIT cover
    (adaptive=True): boundary cells holding more than max_rows_per_cell
    scenes are quadtree-split to finer resolution before the broadcast
    cell join — the north-rule skew path, in production form. The cap
    is set low enough that splits actually trigger at sf0.01, and the
    oracle is the SAME exact PIP SQL as the static-cover flagship:
    identical rows through a structurally different (mixed-res) plan."""
    from eo_tools_spark.operators.spatial_join import aoi_point_join
    from eo_tools_spark.sources.derived import aoi_rings

    scenes = _scenes(spark, sf_dir)
    return aoi_point_join(
        scenes, aoi_rings(), adaptive=True, max_rows_per_cell=200
    ).select("scene_id", "lon", "lat", "aoi_id")


# -------------------------------------------------------- IVF exact mode

def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index code path under the exact-oracle gate: with
    nprobe = ncells every inverted list is probed, so the result is the
    exact top-k — identical (query_id, vec_id, rank) set to the
    brute-force oracle (cosine VALUES are numpy pairwise sums, not the
    SQL left fold, so the float column itself is projected away; rank
    identity is robust because synthetic-embedding cosine gaps dwarf
    float noise). Exercises centroid training, the deterministic
    hash-ordered sample, cell assignment, and the per-partition probe
    kernel (operators/similarity.ivf_topk)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    out = ivf_topk(emb, q, k=10, ncells=16, nprobe=16, id_col="vec_id")
    return out.select("query_id", "vec_id", "rank")


def _ann_topk_ivf_oracle() -> str:
    # the proven brute-force dual-dialect oracle, cosine projected away
    # (rank identity is the contract; the float column is engine-local)
    from eo_tools_spark.operators import text_queries as TQ

    _, duck = TQ.ann_topk(k=10, n_queries=5)
    return f"SELECT query_id, vec_id, rank FROM ({duck}) t"


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-quantization path under the exact-oracle gate:
    pq_train (per-subspace k-means on the deterministic hash-ordered
    sample) → pq_encode (m-byte codes, 16× smaller than the fp32
    vectors here) → pq_topk with rerank ≥ corpus size, so every row is
    an exact-rerank candidate and the output equals brute force —
    identical (query_id, vec_id, rank) to the same oracle as
    ann_topk_ivf (the nprobe=ncells trick, PQ edition). The approximate
    regime (rerank=50, recall ≥ 0.9) is pytest-pinned instead
    (tests/test_dedup_similarity.py::TestProductQuantization)."""
    from pyspark.sql import functions as F

    from eo_tools_spark.operators.similarity import (
        _train_from_df,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    # residual (IVF-PQ) mode — the production form (see pq_train for
    # why flat codes fail on clustered corpora); the coarse term,
    # residual encode, and cell scoring all sit under this oracle
    coarse = _train_from_df(emb, 16, 2048, "vec_id", "embedding")
    books = pq_train(emb, m=8, k=256, centroids=coarse)
    codes = pq_encode(emb, books, centroids=coarse)
    out = pq_topk(
        codes, q, books, k=10, rerank=10**9, emb_df=emb, centroids=coarse
    )
    return out.select("query_id", "vec_id", "rank")


def q_ann_topk_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF index under the exact-oracle gate (round-4
    verdict task 1): build_ivf_index materializes (cell, vec_id,
    embedding) through the snapshot layer partitioned by cell, then
    ivf_topk_pruned answers by scanning ONLY probed-cell partitions
    (PartitionFilters on cell — I/O pruning, not just compute skip;
    plan-audited as PLANS.md q15). With nprobe = ncells every cell is
    probed, so the result is the exact top-k — identical rows to the
    brute-force oracle. Same centroids as ivf_topk (deterministic
    hash-ordered sample), so the pinned recall curve transfers to the
    pruned path at approximate nprobe (pytest-pinned equality)."""
    import tempfile

    from pyspark.sql import functions as F

    from eo_tools_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_pruned,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = (
        emb.where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .toPandas()
    )
    idx_path = _fresh_tmp("ivf_idx_")
    build_ivf_index(emb, idx_path, ncells=16, id_col="vec_id")
    out = ivf_topk_pruned(spark, idx_path, q, k=10, nprobe=16, id_col="vec_id")
    return out.select("query_id", "vec_id", "rank")


# ----------------------------------------------- InSAR / terrain lifecycle
# The reference's flagship chains (process.py:47-222 align→ifg→coh,
# process.py:1305-1458 geocode_and_merge, process.py:2505-2535 +
# core.py:1377-1529 terrain correction) gated the same way as the image
# queries: deterministic analytic fixture scenes (sources/insar_fixture),
# hash-stable outputs (per-tile md5 digests / order-independent sorted
# folds), expected rows pinned by scripts/make_insar_oracle.py AFTER
# verifying Spark == the dense numpy oracle chain.


def q_insar_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """align secondary (LUT gather join) → filtered interferogram →
    fused coherence over the fixture SLC pair; per-tile digests."""
    from eo_tools_spark.operators.insar import insar_products
    from eo_tools_spark.sources.insar_fixture import (
        N_INSAR, T_INSAR, insar_pair_tiles, tiles_digest,
    )

    prm, sec, lut = insar_pair_tiles(spark)
    prods = insar_products(prm, sec, lut, N_INSAR, N_INSAR, T_INSAR)
    out = tiles_digest(prods["aligned"], "aligned")
    out = out.unionByName(tiles_digest(prods["ifg"], "ifg"))
    return out.unionByName(tiles_digest(prods["coh"], "coh"))


def q_geocode_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-swath geocode → first-priority mosaic → AOI NaN-clip
    (process.py:1305-1458 semantics); per-geo-tile digests."""
    import numpy as np

    from eo_tools_spark.operators.insar import geocode_and_merge
    from eo_tools_spark.sources.insar_fixture import (
        G_GEO, SW_W, T_GEO, swath_lut, swath_tiles, tiles_digest,
    )

    per_swath = [
        (swath_tiles(spark, 0), swath_lut(spark, 0), G_GEO, SW_W),
        (swath_tiles(spark, 1), swath_lut(spark, 1), G_GEO, SW_W),
    ]
    ring = np.array(
        [[20.0, 30.0], [170.0, 30.0], [170.0, 160.0], [20.0, 160.0], [20.0, 30.0]]
    )
    mosaic = geocode_and_merge(
        per_swath, T_GEO, kernel="bicubic", out_kind="f4",
        aoi=ring, geo_origin=(0.0, float(G_GEO)), geo_px=1.0,
    )
    return tiles_digest(mosaic, "mosaic")


def q_coherence_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDALONE tile-algebra coherence operator under the driver
    gate (round-4 verdict task 5; insar_products covers the fused
    aligned-pair chain — this gates tiles_coherence directly, WITH
    multilook so the presum path is driver-gated too): fused product
    join + one multi-channel halo exchange; per-tile md5 digests,
    pinned by scripts/make_insar_oracle.py after dense-numpy parity +
    cross-parallelism bit-stability."""
    from eo_tools_spark.operators.tiles import tiles_coherence
    from eo_tools_spark.sources.insar_fixture import (
        insar_pair_tiles, tiles_digest,
    )

    prm, sec, _lut = insar_pair_tiles(spark)
    coh = tiles_coherence(prm, sec, box_az=5, box_rg=5, mlt_az=2, mlt_rg=2)
    return tiles_digest(coh, "coh_mlt2")


def q_polsar_h_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-pol covariance + H/alpha decomposition under the driver
    gate (round-4 verdict task 5): polsar_products' fused two-exchange
    plan emits c11/c22/c12/halpha tiles from one vv⋈vh join + one halo
    exchange; digests per raster, same fixture protocol."""
    from pyspark.sql import functions as F

    from eo_tools_spark.operators.polsar import polsar_products
    from eo_tools_spark.sources.insar_fixture import (
        insar_pair_tiles, tiles_digest,
    )

    vv, vh, _lut = insar_pair_tiles(spark)
    prods = polsar_products(
        vv, vh, box_az=5, box_rg=5, mlt_az=2, mlt_rg=2, h_alpha=True
    )
    out = None
    for rid in ("c11", "c22", "c12", "halpha"):
        d = tiles_digest(prods.where(F.col("raster_id") == rid), rid)
        out = d if out is None else out.unionByName(d)
    return out


def q_goldstein_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone Goldstein phase filter under the driver gate
    (process.py:2113 map_overlap depth-32 semantics): raw fixture
    interferogram → tiles_goldstein (64×64 FFT patch grid per padded
    chunk, halo 32); per-tile md5 digests pinned by
    scripts/make_insar_oracle.py after per-tile dense-numpy parity +
    cross-parallelism bit-stability."""
    from eo_tools_spark.operators.tiles import tiles_goldstein, tiles_interferogram
    from eo_tools_spark.sources.insar_fixture import (
        insar_pair_tiles, tiles_digest,
    )

    prm, sec, _lut = insar_pair_tiles(spark)
    flt = tiles_goldstein(tiles_interferogram(prm, sec), alpha=0.5)
    return tiles_digest(flt, "goldstein")


def q_s2_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 color composite under the driver gate (S2.py:236-289): three
    fixture reflectance bands → SWIR recipe 3-way tile join →
    uint8(255·clip(band, 0, 1)) interleaved RGB tiles; digests per tile,
    same fixture-pinning protocol."""
    from eo_tools_spark.operators.s2 import s2_color_composite
    from eo_tools_spark.sources.insar_fixture import (
        S2_FIX_BANDS, s2_band_tiles, tiles_digest,
    )

    bands = {b: s2_band_tiles(spark, b) for b in S2_FIX_BANDS}
    rgb = s2_color_composite(bands, name="SWIR")
    return tiles_digest(rgb, "swir")


def q_coreg_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed coregistration (core.py:838-918) under the driver
    gate: DEM-node LUT pair (node-per-row, with a NaN hole) →
    coreg_project's block-quad scatter + max_by(rank) reduce →
    per-primary-pixel secondary (az, rg). Doubles compare bit-exactly:
    each pixel's value is produced by exactly one (quad, triangle)
    winner — no cross-partition float accumulation."""
    from eo_tools_spark.operators.coreg import coreg_project
    from eo_tools_spark.sources.insar_fixture import (
        COREG_NAZ, COREG_NRG, coreg_nodes,
    )

    return coreg_project(coreg_nodes(spark), COREG_NAZ, COREG_NRG, block=16)


def q_terrain_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain-flattening γ simulation: per-DEM-block triangle kernel
    (map-side, incl. shadow line-scan) + per-pixel scatter reduce.
    The driver-gated sum uses an order-independent sorted fold
    (aggregate(array_sort(collect_list))) so the double is bit-stable
    at any partitioning; the production F.sum path (scatter_accumulate)
    is pinned ≈ this fold by pytest."""
    from pyspark.sql import functions as F

    from eo_tools_spark.sources.insar_fixture import terrain_contributions

    contrib = terrain_contributions(spark)
    return contrib.groupBy("az", "rg").agg(
        F.count(F.lit(1)).alias("n_contrib"),
        F.expr(
            "aggregate(array_sort(collect_list(gamma)), CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("gamma_sum"),
    )


# ---------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship spatial join + tile assignment at sf0.001."""
    from pyspark.sql import functions as F

    from eo_tools_spark.functions.spatial import tile_id_col

    out = q_pip_aoi_join(spark, "/root/testdata/sf0.001")
    return out.withColumn("dem_tile_id", tile_id_col("lon", "lat"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "cell_index": q_cell_index,
        "pip_aoi_join": q_pip_aoi_join,
        "tile_assign": q_tile_assign,
        "knn_tile": q_knn_tile,
        "burst_range": q_burst_range,
        "partial_plan": q_partial_plan,
        "stream_dedup": q_stream_dedup,
        "stream_spatial_join": q_stream_spatial_join,
        "esd_phase_mean": q_esd_phase_mean,
        "footprint_aoi_join": q_footprint_aoi_join,
    }
    for name in _DUAL_QUERIES:
        out[name] = globals()[f"_dual_{name}"]
    out["image_roundtrip"] = q_image_roundtrip
    out["image_phash_neardup"] = q_image_phash_neardup
    out["image_tile_assign"] = q_image_tile_assign
    out["annotation_etl"] = q_annotation_etl
    out["insar_products"] = q_insar_products
    out["geocode_merge"] = q_geocode_merge
    out["terrain_gamma"] = q_terrain_gamma
    out["neardup_clusters"] = q_neardup_clusters
    out["ann_topk_ivf"] = q_ann_topk_ivf
    out["ann_topk_ivf_pruned"] = q_ann_topk_ivf_pruned
    out["ann_topk_pq"] = q_ann_topk_pq
    out["simhash_pairs"] = q_simhash_pairs
    out["decontaminate"] = q_decontaminate
    out["stratified_split"] = q_stratified_split
    out["pip_aoi_join_adaptive"] = q_pip_aoi_join_adaptive
    out["frame_sample"] = q_frame_sample
    out["audio_stats"] = q_audio_stats
    out["coherence_tiles"] = q_coherence_tiles
    out["polsar_h_alpha"] = q_polsar_h_alpha
    out["goldstein_tiles"] = q_goldstein_tiles
    out["s2_composite"] = q_s2_composite
    out["coreg_offsets"] = q_coreg_offsets
    return out


def oracle_sql() -> dict[str, str]:
    from eo_tools_spark.geo.cells import cell_id_sql
    from eo_tools_spark.functions.spatial import tile_id_sql
    from eo_tools_spark.sources.derived import (
        AOI_BOXES,
        SCENES_SQL_BODY,
        aoi_pip_oracle_sql,
    )

    scenes_cte = f"WITH scenes AS ({SCENES_SQL_BODY})"

    fp_parts = []
    for aid, (x0, y0, x1, y1) in AOI_BOXES.items():
        fp_parts.append(
            f"SELECT scene_id, '{aid}' AS aoi_id FROM scenes "
            f"WHERE scene_id % 5 = 0 AND lon - 0.15 <= {x1} AND lon + 0.15 >= {x0} "
            f"AND lat - 0.1 <= {y1} AND lat + 0.1 >= {y0}"
        )
    footprint_sql = f"{scenes_cte} " + " UNION ALL ".join(fp_parts)

    x0, y0, x1, y1 = AOI_BOXES["aoi_mid"]
    partial_plan_sql = (
        f"{scenes_cte} "
        "SELECT r.product_id, r.subswath, p.pol, r.min_burst, r.max_burst, "
        "1507 * (r.min_burst - 1) AS line_start, "
        "1507 * (r.max_burst - r.min_burst + 1) AS number_of_lines, "
        "'measurement/s1a-' || lower(r.subswath) || '-slc-' || p.pol || "
        "'-' || lower(r.product_id) || '.tiff' AS file "
        "FROM (SELECT product_id, subswath, "
        "MIN(burst) AS min_burst, MAX(burst) AS max_burst FROM scenes "
        "WHERE scene_id % 5 = 0 "
        f"AND lon - 0.15 <= {x1} AND lon + 0.15 >= {x0} "
        f"AND lat - 0.1 <= {y1} AND lat + 0.1 >= {y0} "
        "GROUP BY product_id, subswath) r "
        "CROSS JOIN (SELECT 'vv' AS pol UNION ALL SELECT 'vh') p"
    )
    burst_range_sql = (
        f"{scenes_cte} "
        "SELECT product_id, subswath, "
        "MIN(burst) AS min_burst, MAX(burst) AS max_burst, "
        "1507 * (MIN(burst) - 1) AS line_start, "
        "1507 * (MAX(burst) - MIN(burst) + 1) AS number_of_lines "
        "FROM scenes "
        f"WHERE lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1} "
        "GROUP BY product_id, subswath"
    )

    knn_sql = (
        f"{scenes_cte}, "
        "tiles AS (SELECT 'T' || lpad(CAST(ix AS VARCHAR), 2, '0') || "
        "lpad(CAST(iy AS VARCHAR), 2, '0') AS dem_tile_id, "
        "5.5 + ix AS cx, 35.5 + iy AS cy "
        "FROM (SELECT range AS ix FROM range(10)), "
        "(SELECT range AS iy FROM range(10))), "
        "d AS (SELECT scene_id, dem_tile_id, "
        "(cx - lon) * (cx - lon) + (cy - lat) * (cy - lat) AS dist2 "
        "FROM scenes, tiles WHERE scene_id % 2 = 0), "
        "r AS (SELECT scene_id, dem_tile_id, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY scene_id ORDER BY dist2, dem_tile_id) AS INT) AS knn_rank "
        "FROM d) "
        "SELECT scene_id, dem_tile_id, knn_rank FROM r WHERE knn_rank <= 3"
    )

    out = {
        "cell_index": (
            f"{scenes_cte} SELECT scene_id, "
            f"{cell_id_sql('lon', 'lat', CELL_RES)} AS cell FROM scenes"
        ),
        "pip_aoi_join": aoi_pip_oracle_sql(),
        "tile_assign": (
            f"{scenes_cte} SELECT {tile_id_sql('lon', 'lat')} AS dem_tile_id, "
            "COUNT(*) AS n_scenes FROM scenes GROUP BY 1"
        ),
        "knn_tile": knn_sql,
        "burst_range": burst_range_sql,
        "partial_plan": partial_plan_sql,
        "stream_dedup": (
            "SELECT DISTINCT md5(text) AS fp, "
            "CAST(LENGTH(text) AS BIGINT) AS text_len FROM documents"
        ),
        # the streaming flagship lands the SAME rows as the batch PIP join
        "stream_spatial_join": aoi_pip_oracle_sql(),
        "footprint_aoi_join": footprint_sql,
        "esd_phase_mean": (
            "SELECT l_returnflag, "
            "SUM(CAST(l_partkey % 13 - 6 AS DOUBLE)) AS sum_re, "
            "SUM(CAST(l_suppkey % 7 - 3 AS DOUBLE)) AS sum_im, "
            "COUNT(*) AS n_samples "
            "FROM lineitem GROUP BY l_returnflag"
        ),
    }
    for name, (duck_sql, _tables) in _DUAL_QUERIES.items():
        out[name] = duck_sql
    out["annotation_etl"] = ANNOTATION_ETL_ORACLE
    out["neardup_clusters"] = _neardup_clusters_oracle()
    out["ann_topk_ivf"] = _ann_topk_ivf_oracle()
    out["ann_topk_ivf_pruned"] = _ann_topk_ivf_oracle()
    out["ann_topk_pq"] = _ann_topk_ivf_oracle()
    out["simhash_pairs"] = _simhash_pairs_oracle()
    out["decontaminate"] = _decontaminate_oracle()
    out["stratified_split"] = _stratified_split_oracle()
    # identical truth through a structurally different (split) cover
    out["pip_aoi_join_adaptive"] = aoi_pip_oracle_sql()

    # image queries: the image table is synthesized deterministically
    # (make_image is pure in (i, seed)), so expected outputs are
    # precomputed OUTSIDE Spark by scripts/make_image_oracle.py and
    # pinned as parquet fixtures DuckDB reads — real row/schema/hash
    # comparisons instead of rows-only checks.
    # filenames derive from _IMG_N: if the query size ever changes
    # without regenerating fixtures (scripts/make_image_oracle.py), the
    # existence check fails and the queries fall back to rows-only
    # instead of silently comparing against stale expectations
    _oracle_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dist", "oracle")
    _rt = os.path.join(_oracle_dir, f"image_roundtrip_{_IMG_N}.parquet")
    _pp = os.path.join(_oracle_dir, f"image_phash_pairs_{_IMG_N}.parquet")
    _meta = os.path.join(_oracle_dir, f"images_meta_{_IMG_N}.parquet")
    if os.path.exists(_rt):
        out["image_roundtrip"] = (
            "SELECT image_id, fmt, psnr, pixels_ok, caption_ok "
            f"FROM read_parquet('{_rt}')"
        )
    if os.path.exists(_pp):
        out["image_phash_neardup"] = (
            f"SELECT id_a, id_b, hamming FROM read_parquet('{_pp}')"
        )
    if os.path.exists(_meta):
        from eo_tools_spark.sources.derived import AOI_BOXES as _BOXES

        pip_parts = [
            f"SELECT image_id, '{aid}' AS aoi_id, lon, lat "
            f"FROM read_parquet('{_meta}') "
            f"WHERE lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1}"
            for aid, (x0, y0, x1, y1) in _BOXES.items()
        ]
        out["image_tile_assign"] = (
            "WITH pip AS (" + " UNION ALL ".join(pip_parts) + ") "
            f"SELECT aoi_id, {tile_id_sql('lon', 'lat')} AS dem_tile_id, "
            "COUNT(*) AS n_images FROM pip GROUP BY 1, 2"
        )
    # media fixtures: pinned by scripts/make_media_oracle.py AFTER the
    # independent struct-walk parser agrees with the package codecs
    _fs = os.path.join(_oracle_dir, f"frame_sample_{_MEDIA_NV}.parquet")
    _au = os.path.join(_oracle_dir, f"audio_stats_{_MEDIA_NA}.parquet")
    if os.path.exists(_fs):
        out["frame_sample"] = (
            "SELECT media_id, frame_idx, fh, fw, f_mean, digest "
            f"FROM read_parquet('{_fs}')"
        )
    if os.path.exists(_au):
        out["audio_stats"] = (
            "SELECT media_id, rate, n_samples, sum_s, sum_sq, peak "
            f"FROM read_parquet('{_au}')"
        )
    # InSAR / terrain fixtures: pinned by scripts/make_insar_oracle.py,
    # which verifies the Spark chains against the dense numpy oracle
    # (remap→ifg→coh, mosaic truth, simulate_terrain_gamma_dense)
    # BEFORE writing. Missing fixture → rows-only fallback, never a
    # stale compare.
    for qname, cols in [
        ("insar_products", "product, ty, tx, th, tw, digest"),
        ("geocode_merge", "product, ty, tx, th, tw, digest"),
        ("terrain_gamma", "az, rg, n_contrib, gamma_sum"),
        ("coherence_tiles", "product, ty, tx, th, tw, digest"),
        ("polsar_h_alpha", "product, ty, tx, th, tw, digest"),
        ("goldstein_tiles", "product, ty, tx, th, tw, digest"),
        ("s2_composite", "product, ty, tx, th, tw, digest"),
        ("coreg_offsets", "apix, rpix, az_s, rg_s"),
    ]:
        fx = os.path.join(_oracle_dir, f"{qname}.parquet")
        if os.path.exists(fx):
            out[qname] = f"SELECT {cols} FROM read_parquet('{fx}')"
    return out
