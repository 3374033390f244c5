"""Salted aggregation correctness + flagship plan shape."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from eo_tools_spark.functions.spatial import cell_col
from eo_tools_spark.plans.skew import explain_str, parent_cell_salt, salted_agg


def test_salted_agg_equals_plain(spark):
    rng = np.random.default_rng(2)
    n = 20000
    # hotspot: 70% of points in one tiny box
    hot = rng.random(n) < 0.7
    lon = np.where(hot, 10.0 + rng.random(n) * 0.01, rng.uniform(-170, 170, n))
    lat = np.where(hot, 40.0 + rng.random(n) * 0.01, rng.uniform(-80, 80, n))
    df = spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat, "v": rng.integers(0, 100, n)})
    ).withColumn("cell", cell_col("lon", "lat", 5))

    plain = {
        (r.cell,): (r.n, r.sum_v, r.min_v, r.max_v)
        for r in df.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }
    salted = {
        (r.cell,): (r.n, r.sum_v, r.min_v, r.max_v)
        for r in salted_agg(
            df,
            ["cell"],
            parent_cell_salt("lon", "lat", 5),
            {
                "n": F.count(F.lit(1)),
                "sum_v": F.sum("v"),
                "min_v": F.min("v"),
                "max_v": F.max("v"),
            },
        ).collect()
    }
    assert plain == salted


def test_row_salt_spreads_point_mass(spark):
    """A true point mass (every row at the SAME coordinate) defeats any
    spatial salt; row_salt must still spread it into 2^bits shards,
    deterministically."""
    from eo_tools_spark.plans.skew import row_salt

    df = spark.range(10000).select(
        F.col("id"), F.lit(10.01).alias("lon"), F.lit(40.01).alias("lat")
    )
    s = df.select(row_salt("id", salt_bits=6).alias("s"))
    vals = [r.s for r in s.groupBy("s").count().collect()]
    assert len(vals) == 64  # all 2^6 shards hit at n=10000
    counts = [r["count"] for r in df.select(row_salt("id", 6).alias("s")).groupBy("s").count().collect()]
    assert max(counts) <= 3 * min(counts)  # roughly uniform
    a = [r[0] for r in df.select(row_salt("id", 6)).collect()]
    b = [r[0] for r in df.select(row_salt("id", 6)).collect()]
    assert a == b  # deterministic
    assert min(a) >= 0  # pmod, not %: no negative shards


def test_salted_agg_with_row_salt_equals_plain(spark):
    from eo_tools_spark.plans.skew import row_salt

    rng = np.random.default_rng(5)
    n = 5000
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": np.arange(n),
                "k": rng.integers(0, 4, n),
                "v": rng.integers(0, 100, n),
            }
        )
    )
    plain = {
        r.k: (r.n, r.sum_v)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.sum_v)
        for r in salted_agg(
            df,
            ["k"],
            row_salt("id", 5),
            {"n": F.count(F.lit(1)), "sum_v": F.sum("v")},
        ).collect()
    }
    assert plain == salted


def test_salt_is_deterministic(spark):
    df = spark.range(100).select(
        (F.col("id") / 10.0).alias("lon"), (F.col("id") / 20.0).alias("lat")
    )
    a = [r[0] for r in df.select(parent_cell_salt("lon", "lat", 6)).collect()]
    b = [r[0] for r in df.select(parent_cell_salt("lon", "lat", 6)).collect()]
    assert a == b
    assert len(set(a)) > 1  # actually spreads


def test_salt_spans_4_pow_bits_shards(spark):
    """Within one parent cell the salt must reach 4^bits distinct
    values (regression: packed-id low bits were iy-only → 2^bits and
    longitude-blind)."""
    from eo_tools_spark.geo.cells import cell_of_points

    rng = np.random.default_rng(0)
    df = spark.createDataFrame(
        pd.DataFrame({"lon": rng.uniform(0, 11.2, 60000), "lat": rng.uniform(0, 5.6, 60000)})
    )
    parent = int(cell_of_points([5.0], [2.0], 5)[0])
    one = df.withColumn("p", cell_col("lon", "lat", 5)).where(F.col("p") == parent)
    n = one.select(parent_cell_salt("lon", "lat", 5, salt_bits=3)).distinct().count()
    assert n == 64


def test_flagship_plan_broadcast(spark, sf_dir):
    from eo_tools_spark.operators.spatial_join import aoi_point_join
    from eo_tools_spark.sources.derived import aoi_rings, scenes_view

    plan = explain_str(aoi_point_join(scenes_view(spark, sf_dir), aoi_rings()))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_sar2geo_plan_shape(spark):
    """The distributed gather join's plan: exactly one big exchange for
    the (ty,tx) tile join + the cogroup exchanges — no extra shuffles
    sneaking in (VERDICT r2 plan-audit discipline)."""
    import numpy as np

    from eo_tools_spark.operators.geocode import sar2geo_tiles
    from eo_tools_spark.operators.tiles import raster_to_tiles
    from eo_tools_spark.plans.skew import explain_str

    rng = np.random.default_rng(0)
    img = rng.normal(size=(64, 64)).astype(np.float32)
    sar = raster_to_tiles(spark, img, "sar", 32)
    az = rng.uniform(0, 63, (8, 8))
    lut = spark.createDataFrame(
        [("L0", az.tobytes(), az.T.copy().tobytes(), 8, 8)],
        "dem_tile_id string, az binary, rg binary, th int, tw int",
    )
    plan = explain_str(sar2geo_tiles(lut, sar, 64, 64, 32, "bicubic", out_kind="f4"))
    # tile equi-join + 2 cogroup-side exchanges on dem_tile_id; the big
    # SAR side shuffles at most twice (join key, then cogroup key)
    assert plan.count("Exchange") <= 4, plan


def test_capped_lsh_plan_shape(spark):
    """Hot-bucket cap plan: NO Window operator (WindowExec buffers hot
    frames — the guard would OOM on the skew it guards), counts via
    partial-aggregating groupBy. With no skew present the eager
    counting pass proves the cap unnecessary and the anti-join vanishes
    from the plan entirely; the self-join side is broadcast because the
    SAME pass measured the frame as provably tiny (round-3 no-skew fast
    path — Spark's own estimate is never trusted)."""
    from eo_tools_spark.operators.dedup import drop_report, simhash_pairs
    from eo_tools_spark.plans.skew import explain_str

    df = spark.createDataFrame(
        [(i, i * 7919) for i in range(50)], "doc_id long, simhash long"
    )
    out = simhash_pairs(df, max_hamming=3, max_bucket=100)
    plan = explain_str(out)
    assert "Window" not in plan, plan
    # no-skew fast path: the anti-join is gone; the only broadcast is
    # the measured-tiny self-join probe side
    assert "LeftAnti" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    rep = drop_report(out)
    assert rep["anti_join"] == "skipped" and rep["rows_dropped"] == 0


def test_self_join_never_broadcasts_unmeasured_or_big_frames(spark):
    """The 100 TB contract: a banded frame whose measured rows exceed
    the broadcast budget — or one never counted (cap disabled) — takes
    the spill-safe sort-merge path, NEVER a broadcast (Spark broadcast
    a 2.2 GB exploded frame under the 64 MB threshold; measured OOM)."""
    from eo_tools_spark.operators.dedup import (
        cap_hot_buckets, drop_report, self_join_probe_side,
    )
    from eo_tools_spark.plans.skew import explain_str

    df = spark.createDataFrame(
        [(i, 1, i % 7) for i in range(60)], "doc_id long, band int, key long"
    )
    capped = cap_hot_buckets(df, ["band", "key"], 50, "bigprobe")
    # measured size above the budget → merge
    b = self_join_probe_side(df, drop_report(capped), banded_broadcast_bytes=10)
    plan = explain_str(
        capped.alias("a").join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
    )
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan
    # un-counted frame (cap disabled, report None) → merge as well
    b2 = self_join_probe_side(df, None)
    plan2 = explain_str(
        df.alias("a").join(
            b2.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
    )
    assert "SortMergeJoin" in plan2 and "BroadcastHashJoin" not in plan2, plan2


def test_probe_side_measures_bytes_not_rows(spark):
    """A few rows with fat payloads must NOT be broadcast: the decision
    is on the measured byte total (a row count says nothing when the id
    is a 100-byte URL or the row carries a signature array)."""
    from eo_tools_spark.operators.dedup import (
        cap_hot_buckets, drop_report, self_join_probe_side,
    )
    from eo_tools_spark.plans.skew import explain_str

    fat = spark.createDataFrame(
        [(("u" * 2000) + str(i), 1, i % 7) for i in range(60)],
        "doc_id string, band int, key long",
    )
    capped = cap_hot_buckets(fat, ["band", "key"], 50, "fatprobe")
    rep = drop_report(capped)
    assert rep["n_rows"] == 60 and rep["n_bytes"] > 60 * 2000
    # 60 rows but ~120 kB of payload vs a 1 kB budget → merge
    b = self_join_probe_side(fat, rep, banded_broadcast_bytes=1024)
    plan = explain_str(
        capped.alias("a").join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
    )
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan


def test_probe_side_unmeasurable_schema_never_broadcasts(spark):
    """A column type _row_bytes_expr can't bound (array<string>) makes
    the frame un-measurable: cap still works (n_bytes=None) and the
    probe side falls back to sort-merge."""
    from eo_tools_spark.operators.dedup import (
        cap_hot_buckets, drop_report, self_join_probe_side,
    )
    from eo_tools_spark.plans.skew import explain_str

    df = spark.createDataFrame(
        [(i, 1, i % 7, ["x"]) for i in range(30)],
        "doc_id long, band int, key long, toks array<string>",
    )
    capped = cap_hot_buckets(df, ["band", "key"], 50, "unmeasurable")
    rep = drop_report(capped)
    assert rep["n_bytes"] is None and rep["n_rows"] == 30
    b = self_join_probe_side(df, rep)
    plan = explain_str(
        capped.alias("a").join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
    )
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan


def test_capped_lsh_plan_shape_with_skew(spark):
    """When hot buckets EXIST the cap materializes as a broadcast
    anti-join (small measured hot set) on top of the measured-size
    probe-side broadcast."""
    from eo_tools_spark.operators.dedup import drop_report, simhash_pairs
    from eo_tools_spark.plans.skew import explain_str

    rows = [(i, i * 7919) for i in range(50)] + [(1000 + i, 0) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    out = simhash_pairs(df, max_hamming=3, max_bucket=20)
    plan = explain_str(out)
    assert "Window" not in plan, plan
    assert "LeftAnti" in plan, plan
    # 2 broadcasts: tiny hot-key anti-join + measured-tiny probe side
    assert plan.count("BroadcastHashJoin") == 2, plan
    rep = drop_report(out)
    assert rep["anti_join"] == "broadcast" and rep["rows_dropped"] > 0
    # and the degenerate key is actually gone from the output
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert not any(a >= 1000 and b >= 1000 for a, b in got)


def test_cap_merge_fallback_above_broadcast_limit(spark):
    """Hot-key sets larger than hot_broadcast_rows switch the anti-join
    to sort-merge instead of sailing into the 8 GB broadcast cliff
    (VERDICT r2 task #6) — same output either way."""
    from eo_tools_spark.operators.dedup import cap_hot_buckets, drop_report
    from eo_tools_spark.plans.skew import explain_str

    # 30 hot keys (3 members each, cap 2) + 50 singleton keys
    rows = [(k * 100 + j, 0, k) for k in range(30) for j in range(3)]
    rows += [(10000 + i, 0, 1000 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, band int, key long")

    merged = cap_hot_buckets(df, ["band", "key"], 2, "mergecap", hot_broadcast_rows=10)
    rep = drop_report(merged)
    assert rep["anti_join"] == "merge" and rep["n_hot_buckets"] == 30
    plan = explain_str(merged)
    assert "BroadcastHashJoin" not in plan, plan
    assert "LeftAnti" in plan, plan

    bcast = cap_hot_buckets(df, ["band", "key"], 2, "bcastcap")
    assert drop_report(bcast)["anti_join"] == "broadcast"
    assert sorted(r.doc_id for r in merged.collect()) == sorted(
        r.doc_id for r in bcast.collect()
    )


def test_cap_merge_fallback_above_broadcast_bytes(spark):
    """The hot-key collect is bounded by MEASURED BYTES, not just rows
    (ADVICE r3 item 2): wide string keys push the hot set over
    hot_broadcast_bytes even when the row count is tiny — the cap must
    fall back to the lazy sort-merge anti-join, with identical output."""
    from eo_tools_spark.operators.dedup import cap_hot_buckets, drop_report
    from eo_tools_spark.plans.skew import explain_str

    wide = "u" * 200  # 200-byte string key component
    rows = [(k * 100 + j, f"{wide}-{k}") for k in range(5) for j in range(3)]
    rows += [(10000 + i, f"{wide}-solo-{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, key string")

    # 5 hot keys x ~220 B each ≈ 1.1 kB measured > 512 B budget
    merged = cap_hot_buckets(
        df, ["key"], 2, "bytecap", hot_broadcast_bytes=512
    )
    rep = drop_report(merged)
    assert rep["anti_join"] == "merge" and rep["n_hot_buckets"] == 5
    assert rep["hot_key_bytes"] is not None and rep["hot_key_bytes"] > 512
    plan = explain_str(merged)
    assert "BroadcastHashJoin" not in plan, plan

    # generous byte budget: same hot set broadcasts, same output rows
    bcast = cap_hot_buckets(df, ["key"], 2, "bytecap_ok")
    assert drop_report(bcast)["anti_join"] == "broadcast"
    assert sorted(r.doc_id for r in merged.collect()) == sorted(
        r.doc_id for r in bcast.collect()
    )
