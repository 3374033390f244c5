"""The benchmark's workloads.

Each workload is built from a seed. ``generate`` writes its input tables
(Spark or numpy, before any timing) and ``oracle`` computes the expected
answers from those tables with numpy alone, outside the engine. ``setup``
registers the inputs and builds the broadcast dimensions (it is given
the oracle only so a pass can report its recall); ``run_pass``
runs one full pass of the chain, materialising each layer's output inside
that layer's span, and ``check`` compares a pass's outputs with the
oracle. The engine only ever sees the generated tables.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


class Pass:
    """What one pass holds: frames it persisted and its outputs."""

    def __init__(self):
        self.held = []
        self.out: dict = {}
        self.counters: dict[str, float] = {}

    def keep(self, df):
        """Persist ``df`` until the pass is released."""
        self.held.append(df.persist())
        return df

    def hold(self, df):
        """Track an operator's ``_eo_persisted`` frame, if it has one."""
        p = getattr(df, "_eo_persisted", None)
        if p is not None:
            self.held.append(p)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist(blocking=True)
        self.held.clear()


class Workload:
    name = ""
    #: cache name of the generated tables (workloads may share them)
    table = ""
    #: repo files the generated inputs are a function of (cache key)
    sources: tuple[str, ...] = ()

    def __init__(self, seed: int, scale: float, nslots: int):
        self.seed, self.scale, self.nslots = seed, scale, nslots

    def n(self, base: int, lo: int = 1) -> int:
        return max(lo, int(round(base * self.scale)))

    def items(self) -> int:
        raise NotImplementedError

    def generate(self, d: str) -> None:
        """Write the input tables into ``d``, skipping any already there."""
        raise NotImplementedError

    def oracle(self, d: str) -> dict[str, np.ndarray]:
        raise NotImplementedError

    def setup(self, spark, d: str, work: str, exp: dict) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, st: dict, tr, p: Pass) -> None:
        raise NotImplementedError

    def check(self, out: dict, exp: dict) -> list[str]:
        raise NotImplementedError


def _mismatch(what: str, got, exp) -> list[str]:
    return [] if got == exp else [f"{what}: got {got!r}, expected {exp!r}"]


def _set_mismatch(what: str, got: set, exp: set) -> list[str]:
    if got == exp:
        return []
    return [f"{what}: {len(got - exp)} unexpected, {len(exp - got)} missing "
            f"of {len(exp)}"]


def _img_idx(ids) -> np.ndarray:
    """'img-000000001234' -> 1234."""
    return np.array([int(s[4:]) for s in ids], dtype=np.int64)


# --------------------------------------------------------- geo_tiles

# Axis-parallel staircase of three overlapping bursts: non-convex, so
# aoi_point_join takes the Arrow ray-casting refine. Vertices sit on a
# .0005 offset, off every coordinate the generator can produce (0.001
# and 0.01 grids), so no point lies on an edge.
BURST_RING = np.array(
    [[10.0505, 40.0505], [10.4005, 40.0505], [10.4005, 40.3005],
     [10.7005, 40.3005], [10.7005, 40.6005], [10.9505, 40.6005],
     [10.9505, 40.9505], [10.6005, 40.9505], [10.6005, 40.7005],
     [10.3005, 40.7005], [10.3005, 40.4005], [10.0505, 40.4005],
     [10.0505, 40.0505]]
)
KNN_K = 3


def _in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting, plain numpy."""
    inside = np.zeros(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > y) != (y2 > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (x < xc)
    return inside


def _tile_name(lon: float, lat: float) -> str:
    la, lo = int(np.floor(lat)), int(np.floor(lon))
    return (f"{'N' if la >= 0 else 'S'}{abs(la):02d}"
            f"{'E' if lo >= 0 else 'W'}{abs(lo):03d}")


def _read_images(d: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(os.path.join(d, "images"), columns=columns).to_pandas()


class _ImageTable(Workload):
    sources = (
        "eo_tools_spark/sources/synthetic.py",
        "eo_tools_spark/functions/imaging.py",
        "eo_tools_spark/geo/cells.py",
        "eo_tools_spark/geo/wkb.py",
    )
    table = "images"
    base_images = 1000

    def items(self) -> int:
        return self.n(self.base_images, 64)

    def _write_images(self, d: str) -> None:
        """The image table, row by row from the package's per-id
        generator, hive-partitioned on ``pcell`` as the engine stores it.
        Written without Spark, so the timed session starts cold."""
        import pyarrow as pa

        from eo_tools_spark.sources.synthetic import make_image

        out = os.path.join(d, "images")
        if os.path.exists(out):
            return
        names = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                 "lon", "lat", "footprint", "pcell"]
        types = [pa.string(), pa.binary(), pa.int32(), pa.int32(), pa.string(),
                 pa.string(), pa.int64(), pa.float64(), pa.float64(), pa.binary(),
                 pa.int64()]
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # one file per (id range, pcell), as a Spark write of an
        # nslots-partition range leaves it, so the hotspot cell is still
        # scanned by nslots tasks
        bounds = np.linspace(0, self.items(), self.nslots + 1).astype(int)
        for c, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            cols = list(zip(*(make_image(int(i), self.seed)[:-1] for i in range(lo, hi))))
            table = pa.table([pa.array(x, type=t) for x, t in zip(cols, types)], names=names)
            pq.write_to_dataset(table, tmp, partition_cols=["pcell"],
                                basename_template=f"part-{c:05d}-{{i}}.parquet")
        os.replace(tmp, out)


class GeoTiles(_ImageTable):
    """Scan -> spatial join -> tile ids -> kNN -> bbox join -> decode ->
    one snapshot commit per AOI: the north-rule job."""

    name = "geo_tiles"

    def generate(self, d: str) -> None:
        self._write_images(d)
        rng = np.random.default_rng(self.seed)
        # DEM-tile catalog: one jittered center per 1-degree tile of a
        # band around the AOIs (more tiles than the brute-force cutoff,
        # so kNN takes its cell-ring index path)
        lon0, lat0 = np.meshgrid(np.arange(-40, 150), np.arange(-20, 80))
        cx = lon0.ravel() + rng.uniform(0.05, 0.95, lon0.size)
        cy = lat0.ravel() + rng.uniform(0.05, 0.95, lat0.size)
        pd.DataFrame({
            "dem_tile_id": [f"T{i:05d}" for i in range(cx.size)],
            "cx": cx, "cy": cy,
        }).to_parquet(os.path.join(d, "catalog.parquet"))

    @staticmethod
    def _aois() -> tuple[dict, dict]:
        from eo_tools_spark.sources import derived

        return derived.aoi_rings(), {"burst": BURST_RING}

    def oracle(self, d: str) -> dict:
        img = _read_images(d, ["image_id", "lon", "lat", "phash", "fmt"])
        idx = _img_idx(img["image_id"])
        lon, lat = img["lon"].to_numpy(), img["lat"].to_numpy()
        boxes, rings = self._aois()
        pip = []
        for aid, ring in {**boxes, **rings}.items():
            if aid in boxes:
                (x0, y0), (x1, y1) = ring.min(axis=0), ring.max(axis=0)
                m = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
            else:
                m = _in_ring(lon, lat, ring)
            pip += [(int(i), aid, _tile_name(x, y))
                    for i, x, y in zip(idx[m], lon[m], lat[m])]
        scene = np.unique([i for i, _, _ in pip])
        order = np.argsort(idx)
        pos = order[np.searchsorted(idx, scene, sorter=order)]
        sx, sy = lon[pos], lat[pos]
        # kNN: brute force over the catalog, stable ties by tile order
        cat = pd.read_parquet(os.path.join(d, "catalog.parquet"))
        d2 = ((cat["cx"].to_numpy()[None, :] - sx[:, None]) ** 2
              + (cat["cy"].to_numpy()[None, :] - sy[:, None]) ** 2)
        top = np.argpartition(d2, KNN_K, axis=1)[:, :KNN_K]
        rows = np.arange(len(top))[:, None]
        top = top[rows, np.lexsort((top, d2[rows, top]), axis=1)]
        # bbox join: footprint box (lon +- .15, lat +- .1) vs the
        # closed 1-degree grid cells it touches
        pairs = []
        for i, x, y in zip(scene, sx, sy):
            for gx in range(int(np.ceil(x - 0.15)) - 1, int(np.floor(x + 0.15)) + 1):
                for gy in range(int(np.ceil(y - 0.1)) - 1, int(np.floor(y + 0.1)) + 1):
                    if -180 <= gx < 180 and -90 <= gy < 90:
                        pairs.append((int(i), (gy + 90) * 360 + gx + 180))
        lossless = img["fmt"].isin(["png", "raw"]).to_numpy()[pos]
        return {
            "pip_idx": np.array([p[0] for p in pip], dtype=np.int64),
            "pip_aoi": np.array([p[1] for p in pip]),
            "pip_tile": np.array([p[2] for p in pip]),
            "scene": scene,
            "knn_tile": cat["dem_tile_id"].to_numpy()[top].astype(str),
            "range_pairs": np.array(pairs, dtype=np.int64).reshape(-1, 2),
            "phash": img["phash"].to_numpy()[pos],
            "lossless": lossless,
        }

    def setup(self, spark, d: str, work: str, exp: dict) -> dict:
        from pyspark.sql import functions as F

        from eo_tools_spark.operators.spatial_join import (
            aoi_partition_cells, build_aoi_cover,
        )
        from eo_tools_spark.session import read_binary_parquet
        from eo_tools_spark.sources.synthetic import PARTITION_RES

        boxes, rings = self._aois()
        images = read_binary_parquet(spark, os.path.join(d, "images"))
        pcells = aoi_partition_cells({**boxes, **rings}, PARTITION_RES)
        grid = spark.range(64800).select(
            F.col("id").alias("tid"),
            (F.col("id") % 360 - 180).cast("double").alias("t_minx"),
            (F.floor(F.col("id") / 360) - 90).cast("double").alias("t_miny"),
            (F.col("id") % 360 - 179).cast("double").alias("t_maxx"),
            (F.floor(F.col("id") / 360) - 89).cast("double").alias("t_maxy"),
        )
        return {
            "scan": images.where(F.col("pcell").isin(pcells)),
            "boxes": boxes, "rings": rings,
            "box_cover": build_aoi_cover(spark, boxes),
            "ring_cover": build_aoi_cover(spark, rings),
            "catalog": pd.read_parquet(os.path.join(d, "catalog.parquet")),
            "grid": grid,
            "work": work,
        }

    def run_pass(self, spark, st: dict, tr, p: Pass) -> None:
        from pyspark.sql import functions as F

        from eo_tools_spark.functions.spatial import tile_id_col
        from eo_tools_spark.operators.image_pipeline import decode_stats
        from eo_tools_spark.operators.knn import knn_join
        from eo_tools_spark.operators.range_join import bbox_intersect_join
        from eo_tools_spark.operators.spatial_join import aoi_point_join
        from eo_tools_spark.session import binary_batch_scope
        from eo_tools_spark.sources.snapshots import SnapshotTable

        with tr.span("session"):
            scan = p.keep(st["scan"])
            p.counters["session.rows_out"] = scan.count()
        with tr.span("spatial_join"):
            matched = p.keep(
                aoi_point_join(scan, st["boxes"], cover=st["box_cover"])
                .unionByName(aoi_point_join(scan, st["rings"], cover=st["ring_cover"]))
                .withColumn("dem_tile_id", tile_id_col("lon", "lat"))
            )
            rows = matched.select("image_id", "aoi_id", "dem_tile_id").collect()
            scenes = p.keep(matched.dropDuplicates(["image_id"]).drop("aoi_id"))
            n_scenes = scenes.count()
            p.out["pip"] = rows
            p.counters["spatial_join.rows_out"] = len(rows)
        with tr.span("knn"):
            knn = knn_join(scenes, st["catalog"], k=KNN_K, id_col="image_id")
            p.out["knn"] = p.hold(knn).select("image_id", "dem_tile_id", "knn_rank").collect()
            p.counters["knn.rows_out"] = len(p.out["knn"])
        with tr.span("range_join"):
            foot = scenes.select(
                "image_id",
                (F.col("lon") - 0.15).alias("minx"), (F.col("lat") - 0.1).alias("miny"),
                (F.col("lon") + 0.15).alias("maxx"), (F.col("lat") + 0.1).alias("maxy"),
            )
            p.out["range"] = (bbox_intersect_join(foot, st["grid"], res=7)
                              .select("image_id", "tid").collect())
            p.counters["range_join.rows_out"] = len(p.out["range"])
        with tr.span("image_pipeline"):
            with binary_batch_scope(spark):
                p.out["decode"] = decode_stats(scenes).select("image_id", "phash2").collect()
            p.counters["image_pipeline.rows_out"] = len(p.out["decode"])
            p.counters["images_decoded"] = n_scenes
        snap = os.path.join(st["work"], "snapshot")
        shutil.rmtree(snap, ignore_errors=True)
        with tr.span("snapshots"):
            table = SnapshotTable(spark, snap)
            commits = {}
            for aid in (*st["boxes"], *st["rings"]):
                res = table.append_batch(
                    matched.where(F.col("aoi_id") == aid)
                    .select("image_id", "aoi_id", "dem_tile_id"), aid)
                commits[aid] = res.get("rows", -1)
            p.out["commits"] = commits
            p.counters["snapshots.rows_out"] = sum(commits.values())
        p.counters["snapshots.files_written"] = len(
            glob.glob(os.path.join(snap, "**", "*.parquet"), recursive=True))
        shutil.rmtree(snap, ignore_errors=True)

    def check(self, out: dict, exp: dict) -> list[str]:
        bad = _set_mismatch(
            "pip rows",
            {(int(r.image_id[4:]), r.aoi_id, r.dem_tile_id) for r in out["pip"]},
            set(zip(exp["pip_idx"].tolist(), exp["pip_aoi"].tolist(),
                    exp["pip_tile"].tolist())),
        )
        bad += _mismatch("pip row count", len(out["pip"]), len(exp["pip_idx"]))
        scenes = exp["scene"].tolist()
        bad += _set_mismatch(
            "knn rows",
            {(int(r.image_id[4:]), r.knn_rank, r.dem_tile_id) for r in out["knn"]},
            {(i, k + 1, t) for i, row in zip(scenes, exp["knn_tile"].tolist())
             for k, t in enumerate(row)},
        )
        bad += _set_mismatch(
            "bbox pairs",
            {(int(r.image_id[4:]), int(r.tid)) for r in out["range"]},
            set(map(tuple, exp["range_pairs"].tolist())),
        )
        got = {int(r.image_id[4:]): r.phash2 for r in out["decode"]}
        bad += _set_mismatch("decoded images", set(got), set(scenes))
        wrong = sum(1 for i, h, ok in zip(scenes, exp["phash"].tolist(),
                                          exp["lossless"].tolist())
                    if ok and got.get(i, h) != h)
        bad += _mismatch("lossless phash mismatches", wrong, 0)
        per_aoi = pd.Series(exp["pip_aoi"]).value_counts().to_dict()
        bad += _mismatch("snapshot rows per aoi", out["commits"],
                         {a: int(per_aoi.get(a, 0)) for a in out["commits"]})
        return bad



# ----------------------------------------------------------- neardup

PHASH_K = 2           # max hamming distance of a phash near-dup pair
LSH_BANDS, LSH_HASHES, JACCARD = 16, 64, 0.8


def _popcount(x: np.ndarray) -> np.ndarray:
    table = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    return table[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)


def _components(a: np.ndarray, b: np.ndarray) -> int:
    """Number of connected components of the graph with edges (a, b)."""
    verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(verts)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(inv[: len(a)].tolist(), inv[len(a):].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return sum(1 for i in range(len(verts)) if find(i) == i)


class NearDup(_ImageTable):
    """phash near-dup pairs -> connected components, plus caption
    minhash -> banded LSH -> exact Jaccard verify, over the image table."""

    name = "neardup"

    def max_bucket(self) -> int:
        # small enough that the hottest phash bands are dropped, as the
        # default 4096 cap does on the full-size tables
        return max(8, self.items() // 100)

    def generate(self, d: str) -> None:
        self._write_images(d)

    def oracle(self, d: str) -> dict:
        img = _read_images(d, ["image_id", "phash", "caption"])
        idx = _img_idx(img["image_id"])
        h = img["phash"].to_numpy(dtype=np.int64)
        width = 64 // (PHASH_K + 1)
        pairs = set()
        for band in range(PHASH_K + 1):
            key = (h >> (band * width)) & ((1 << width) - 1)
            order = np.argsort(key, kind="stable")
            ks = key[order]
            starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
            ends = np.r_[starts[1:], len(ks)]
            for s, e in zip(starts, ends):
                if e - s < 2 or e - s > self.max_bucket():
                    continue  # singleton, or a hot bucket the cap drops
                m = order[s:e]
                ia, ib = np.triu_indices(len(m), 1)
                near = _popcount(h[m[ia]] ^ h[m[ib]]) <= PHASH_K
                lo = np.minimum(idx[m[ia]], idx[m[ib]])[near]
                hi = np.maximum(idx[m[ia]], idx[m[ib]])[near]
                pairs.update(zip(lo.tolist(), hi.tolist()))
        p = np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)
        captions = np.empty(idx.max() + 1, dtype=object)
        captions[idx] = img["caption"].to_numpy()
        return {"phash_pairs": p,
                "n_clusters": np.int64(_components(p[:, 0], p[:, 1])),
                "captions": captions.astype(str)}

    def setup(self, spark, d: str, work: str, exp: dict) -> dict:
        images = spark.read.parquet(os.path.join(d, "images"))
        return {"scan": images.select("image_id", "phash", "caption")}

    def run_pass(self, spark, st: dict, tr, p: Pass) -> None:
        from pyspark.sql import functions as F

        from eo_tools_spark.operators.cluster import connected_components
        from eo_tools_spark.operators.dedup import (
            drop_report, lsh_pairs, minhash_signatures, verify_jaccard,
        )
        from eo_tools_spark.operators.image_pipeline import phash_neardup

        with tr.span("session"):
            scan = p.keep(st["scan"])
            p.counters["session.rows_out"] = scan.count()
        with tr.span("dedup"):
            pairs = p.keep(p.hold(phash_neardup(
                scan, max_hamming=PHASH_K, max_bucket=self.max_bucket())))
            p.out["phash_pairs"] = pairs.select("id_a", "id_b").collect()
            reports = [drop_report(pairs)]
        with tr.span("cluster"):
            cc = connected_components(pairs, algorithm="star")
            p.out["n_clusters"] = cc.agg(F.countDistinct("cluster_id")).first()[0]
            p.counters["cluster.rows_out"] = p.out["n_clusters"]
            p.counters["cluster.rounds"] = cc._eo_cc_rounds
            p.counters["cluster.local_finish"] = float(cc._eo_cc_local_finish)
        with tr.span("dedup"):
            docs = scan.select(F.col("image_id").alias("doc_id"),
                               F.col("caption").alias("text"))
            sig = p.keep(minhash_signatures(docs, num_hashes=LSH_HASHES, shingle=2))
            cand = p.keep(p.hold(lsh_pairs(sig, bands=LSH_BANDS,
                                           max_bucket=self.max_bucket())))
            n_cand = cand.count()
            p.out["verified"] = verify_jaccard(cand, docs, threshold=JACCARD).collect()
            reports.append(drop_report(cand))
        p.counters["dedup.candidate_pairs"] = n_cand
        p.counters["dedup.pair_yield"] = len(p.out["verified"]) / n_cand if n_cand else 0.0
        p.counters["dedup.rows_out"] = len(p.out["phash_pairs"]) + len(p.out["verified"])
        p.counters["dedup.hot_buckets"] = sum(r["n_hot_buckets"] for r in reports if r)
        p.counters["dedup.rows_dropped"] = sum(r["rows_dropped"] for r in reports if r)

    def check(self, out: dict, exp: dict) -> list[str]:
        got = [(int(r.id_a[4:]), int(r.id_b[4:])) for r in out["phash_pairs"]]
        bad = _mismatch("phash pair rows", len(got), len(exp["phash_pairs"]))
        bad += _set_mismatch("phash pairs", set(got),
                             set(map(tuple, exp["phash_pairs"].tolist())))
        bad += _mismatch("clusters", out["n_clusters"], int(exp["n_clusters"]))
        # LSH recall is probabilistic; every verified pair must be exact
        caps = exp["captions"]
        wrong = 0
        for r in out["verified"]:
            a, b = set(caps[int(r.id_a[4:])].split(" ")), set(caps[int(r.id_b[4:])].split(" "))
            j = len(a & b) / len(a | b)
            wrong += abs(j - r.jaccard) > 1e-12 or j < JACCARD
        return bad + _mismatch("verified caption pairs off the exact jaccard", wrong, 0)



# --------------------------------------------------------- sar_tiles

_INT_COLS = dict.fromkeys(("ty", "tx", "th", "tw"), np.int32)


def _tiles_table(arr: np.ndarray, raster_id: str, tile: int) -> pd.DataFrame:
    """TILE_SCHEMA rows of a dense raster."""
    kind = "c8" if np.iscomplexobj(arr) else "f4"
    rows = [(raster_id, ty, tx,
             arr[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile].tobytes(),
             tile, tile, kind)
            for ty in range(arr.shape[0] // tile) for tx in range(arr.shape[1] // tile)]
    return pd.DataFrame(rows, columns=["raster_id", "ty", "tx", "data", "th", "tw", "kind"]
                        ).astype(_INT_COLS)


def _raster(pdf: pd.DataFrame, n: int, tile: int) -> np.ndarray:
    """Dense f4 raster from collected TILE_SCHEMA rows."""
    out = np.full((n, n), np.nan, dtype=np.float32)
    for r in pdf.itertuples():
        out[r.ty * tile:r.ty * tile + r.th, r.tx * tile:r.tx * tile + r.tw] = (
            np.frombuffer(r.data, dtype=np.float32).reshape(r.th, r.tw))
    return out


def _box_mean(x: np.ndarray, k: int) -> np.ndarray:
    """Mean over a centred k x k window (k odd), mirror-padded with the
    edge sample repeated (scipy's 'reflect')."""
    h, w, r = x.shape[0], x.shape[1], k // 2
    xp = np.pad(x, r, mode="symmetric")
    acc = np.zeros(x.shape, dtype=np.complex128 if np.iscomplexobj(x) else np.float64)
    for da in range(k):
        for dr in range(k):
            acc += xp[da:da + h, dr:dr + w]
    return acc / (k * k)


def _dense_coherence(p: np.ndarray, s: np.ndarray, k: int) -> np.ndarray:
    """|<p s*>| / sqrt(<|p|^2> <|s|^2>) over k x k windows (inputs have
    no NaN, so no pixel is masked)."""
    p, s = p.astype(np.complex128), s.astype(np.complex128)
    num = _box_mean(p * np.conj(s), k)
    return np.abs(num) / np.sqrt(_box_mean(np.abs(p) ** 2, k) * _box_mean(np.abs(s) ** 2, k))


def _keys_weights(t: np.ndarray) -> list[np.ndarray]:
    """Keys (a = -0.5) cubic weights of the samples at offsets -1, 0, 1
    and 2 from floor(x), for the fraction t = x - floor(x)."""
    t2, t3 = t * t, t * t * t
    return [-0.5 * t3 + t2 - 0.5 * t, 1.5 * t3 - 2.5 * t2 + 1,
            -1.5 * t3 + 2 * t2 + 0.5 * t, 0.5 * t3 - 0.5 * t2]


def _dense_bicubic(img: np.ndarray, az: np.ndarray, rg: np.ndarray) -> np.ndarray:
    """Bicubic resample of ``img`` at (az, rg); edge samples repeat past
    the border, and a coordinate off [0, h) x [0, w) gives NaN."""
    h, w = img.shape
    out = np.full(az.shape, np.nan)
    ok = (az >= 0) & (az < h) & (rg >= 0) & (rg < w)
    a, r = az[ok], rg[ok]
    a0, r0 = np.floor(a).astype(np.int64), np.floor(r).astype(np.int64)
    wa, wr = _keys_weights(a - a0), _keys_weights(r - r0)
    val = np.zeros(a.shape)
    for i in range(4):
        ia = np.clip(a0 + i - 1, 0, h - 1)
        for j in range(4):
            val += wa[i] * wr[j] * img[ia, np.clip(r0 + j - 1, 0, w - 1)]
    out[ok] = val
    return out


def _dense_coreg(azp, rgp, azs, rgs, naz: int, nrg: int):
    """Secondary (az, rg) at each primary pixel, linearly interpolated
    over the two triangles of each node quad. A pixel counts as inside a
    triangle (v0, v1, v2) when its barycentrics satisfy l0 >= 0, l1 >= 0
    and l0 + l1 < 1; where triangles overlap, the later one in row-major
    quad order wins, and the second triangle of a quad beats the first.
    NaN where no triangle covers the pixel."""
    nl, nc = azp.shape
    qi, qj = np.mgrid[0:nl - 1, 0:nc - 1]
    qi, qj = qi.ravel(), qj.ravel()
    # quad corners (i, j), (i, j+1), (i+1, j), (i+1, j+1) -> 0, 1, 2, 3
    corner = [(qi, qj), (qi, qj + 1), (qi + 1, qj), (qi + 1, qj + 1)]
    pix, key, vals = [], [], []
    for t, verts in enumerate(((0, 1, 2), (3, 1, 2))):
        A = [azp[corner[v]] for v in verts]
        R = [rgp[corner[v]] for v in verts]
        S = [(azs[corner[v]], rgs[corner[v]]) for v in verts]
        det = (R[1] - R[2]) * (A[0] - A[2]) + (A[2] - A[1]) * (R[0] - R[2])
        lo_a = np.floor(np.minimum.reduce(A)).astype(np.int64)
        lo_r = np.floor(np.minimum.reduce(R)).astype(np.int64)
        span_a = int((np.ceil(np.maximum.reduce(A)) - lo_a).max()) + 1
        span_r = int((np.ceil(np.maximum.reduce(R)) - lo_r).max()) + 1
        for da in range(span_a):
            for dr in range(span_r):
                pa, pr = lo_a + da, lo_r + dr
                with np.errstate(divide="ignore", invalid="ignore"):
                    l0 = ((R[1] - R[2]) * (pa - A[2]) + (A[2] - A[1]) * (pr - R[2])) / det
                    l1 = ((R[2] - R[0]) * (pa - A[2]) + (A[0] - A[2]) * (pr - R[2])) / det
                l2 = 1 - l0 - l1
                m = ((det != 0) & (l0 >= 0) & (l1 >= 0) & (l0 + l1 < 1)
                     & (pa >= 0) & (pa < naz) & (pr >= 0) & (pr < nrg))
                pix.append(pa[m] * nrg + pr[m])
                key.append(2 * np.flatnonzero(m) + t)
                vals.append([l0[m] * S[0][c][m] + l1[m] * S[1][c][m] + l2[m] * S[2][c][m]
                             for c in (0, 1)])
    pix, key = np.concatenate(pix), np.concatenate(key)
    v = [np.concatenate([x[c] for x in vals]) for c in (0, 1)]
    order = np.lexsort((key, pix))
    last = order[np.r_[pix[order][1:] != pix[order][:-1], True]]
    out = []
    for c in (0, 1):
        o = np.full(naz * nrg, np.nan)
        o[pix[last]] = v[c][last]
        out.append(o.reshape(naz, nrg))
    return out


class SarTiles(Workload):
    """coreg_project on a DEM node grid, then coherence of an SLC pair
    (product join + halo exchange) geocoded to geo tiles through a LUT:
    rows are tile payloads of hundreds of KB."""

    name = table = "sar_tiles"
    tile = 256
    box = 5

    def side(self) -> int:
        return self.tile * max(1, round(2 * self.scale ** 0.5))

    def nodes(self) -> int:
        return max(8, round(64 * self.scale ** 0.5))

    def items(self) -> int:
        return self.side() ** 2

    def _fields(self):
        n, rng = self.side(), np.random.default_rng(self.seed)
        ii, jj = np.mgrid[0:n, 0:n].astype(np.float64)
        # speckle pair with a smooth coherence field and a phase ramp
        gamma = 0.55 + 0.4 * np.sin(ii / (37 + self.seed % 7)) * np.cos(jj / 53)
        p = rng.normal(size=(n, n)) + 1j * rng.normal(size=(n, n))
        e = rng.normal(size=(n, n)) + 1j * rng.normal(size=(n, n))
        s = (gamma * p + np.sqrt(1 - gamma ** 2) * e) * np.exp(1j * jj / 29)
        # geo LUT: mild shear and warp, falling off the SAR grid at the
        # far edge so geocode sees missing (NaN) coverage too
        az = ii + 0.6 * np.sin(jj / 31.0) + rng.uniform(0, 2)
        rg = jj * 1.01 + 0.4 * np.cos(ii / 27.0)
        return p.astype(np.complex64), s.astype(np.complex64), az, rg

    def _node_grid(self):
        """DEM nodes ~2.8 x 2.7 primary pixels apart on smooth warps, a
        seeded sub-pixel offset keeping them off the integer grid, and a
        secondary grid misregistered by a slowly varying field."""
        k, rng = self.nodes(), np.random.default_rng(self.seed + 1)
        i, j = np.mgrid[0:k, 0:k].astype(np.float64)
        o = rng.uniform(0, 1, 4)
        azp = i * 2.8 + 0.8 * np.sin(j / 5.0 + o[0]) - 1.0 + o[1]
        rgp = j * 2.7 + 0.8 * np.cos(i / 6.0 + o[2]) - 1.0 + o[3]
        shift = rng.uniform(-0.5, 0.5, 2)
        azs = azp + 1.3 + 0.2 * np.sin(i / 9.0 + j / 11.0) + shift[0]
        rgs = rgp - 2.1 + 0.2 * np.cos(i / 8.0 - j / 13.0) + shift[1]
        return azp, rgp, azs, rgs

    def coreg_grid(self) -> tuple[int, int]:
        k = self.nodes()
        return int((k - 1) * 2.8) + 3, int((k - 1) * 2.7) + 3

    def generate(self, d: str) -> None:
        p, s, az, rg = self._fields()
        t = self.tile
        _tiles_table(p, "p", t).to_parquet(os.path.join(d, "prm.parquet"))
        _tiles_table(s, "s", t).to_parquet(os.path.join(d, "sec.parquet"))
        nt = self.side() // t
        pd.DataFrame([
            (ty, tx, az[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t].tobytes(),
             rg[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t].tobytes(), t, t)
            for ty in range(nt) for tx in range(nt)
        ], columns=["ty", "tx", "az", "rg", "th", "tw"]).astype(_INT_COLS).to_parquet(
            os.path.join(d, "lut.parquet"))
        azp, rgp, azs, rgs = self._node_grid()
        i, j = np.mgrid[0:azp.shape[0], 0:azp.shape[1]]
        pd.DataFrame({"i": i.ravel().astype(np.int32), "j": j.ravel().astype(np.int32),
                      "azp": azp.ravel(), "rgp": rgp.ravel(),
                      "azs": azs.ravel(), "rgs": rgs.ravel()}).to_parquet(
            os.path.join(d, "nodes.parquet"))

    def oracle(self, d: str) -> dict:
        p, s, az, rg = self._fields()
        coh = _dense_coherence(p, s, self.box)
        geo = _dense_bicubic(coh, az, rg)
        caz, crg = _dense_coreg(*self._node_grid(), *self.coreg_grid())
        return {"coh": coh.astype(np.float32), "geo": geo.astype(np.float32),
                "coreg_az": caz, "coreg_rg": crg}

    def setup(self, spark, d: str, work: str, exp: dict) -> dict:
        from eo_tools_spark.operators.tiles import TILE_SCHEMA

        def tiles(name):
            return spark.read.schema(TILE_SCHEMA).parquet(os.path.join(d, name))

        return {
            "prm": tiles("prm.parquet"), "sec": tiles("sec.parquet"),
            "lut": spark.read.parquet(os.path.join(d, "lut.parquet")),
            "nodes": spark.read.parquet(os.path.join(d, "nodes.parquet"))
            .repartition(self.nslots),
        }

    def run_pass(self, spark, st: dict, tr, p: Pass) -> None:
        from eo_tools_spark.operators.coreg import coreg_project
        from eo_tools_spark.operators.insar import geocode_and_merge
        from eo_tools_spark.operators.tiles import tiles_coherence

        n, t = self.side(), self.tile
        with tr.span("coreg"):
            naz, nrg = self.coreg_grid()
            p.out["coreg"] = coreg_project(st["nodes"], naz, nrg, block=32).toPandas()
            p.counters["coreg.rows_out"] = len(p.out["coreg"])
        with tr.span("tiles"):
            coh = p.keep(tiles_coherence(st["prm"], st["sec"], self.box, self.box))
            p.out["coh"] = coh.toPandas()
            p.counters["tiles.rows_out"] = len(p.out["coh"])
        with tr.span("geocode"):
            geo = geocode_and_merge([(coh, st["lut"], n, n)], t,
                                    kernel="bicubic", out_kind="f4")
            p.out["geo"] = geo.toPandas()
            p.counters["geocode.rows_out"] = len(p.out["geo"])

    def check(self, out: dict, exp: dict) -> list[str]:
        n, t, bad = self.side(), self.tile, []
        for key in ("coh", "geo"):
            got = _raster(out[key], n, t)
            if not np.allclose(got, exp[key], rtol=1e-4, atol=1e-5, equal_nan=True):
                bad.append(f"{key} raster differs from the dense oracle "
                           f"(max abs diff {np.nanmax(np.abs(got - exp[key])):.3g})")
        c = out["coreg"]
        for col, key in (("az_s", "coreg_az"), ("rg_s", "coreg_rg")):
            got = np.full(exp[key].shape, np.nan)
            got[c["apix"].to_numpy(), c["rpix"].to_numpy()] = c[col].to_numpy()
            if not np.allclose(got, exp[key], rtol=1e-9, atol=1e-9, equal_nan=True):
                bad.append(f"coreg {col} differs from the dense oracle")
        return bad



# ----------------------------------------------------------- ann_topk

ANN_DIM, ANN_CENTERS, ANN_K, ANN_NPROBE, ANN_CELLS = 64, 128, 10, 2, 16
PQ_M, PQ_CODES, PQ_RERANK = 16, 64, 1000
#: lowest recall@10 either search may return on this corpus; both measured
#: 1.0 on seeds 1, 2, 3 and 5, at scale 1 and 0.05
ANN_MIN_RECALL = {"ivf": 0.95, "pq": 0.95}


class AnnTopk(Workload):
    """IVF-pruned and PQ+rerank top-k search of a focused query batch
    over a clustered embedding corpus; the index is built in setup."""

    name = table = "ann_topk"
    n_queries = 32

    def n_vecs(self) -> int:
        return self.n(40_000, 1000)

    def items(self) -> int:
        return 2 * self.n_queries  # each query is answered by both searches

    def _centers(self) -> np.ndarray:
        return np.random.default_rng(self.seed).normal(size=(ANN_CENTERS, ANN_DIM))

    def queries(self) -> pd.DataFrame:
        # a focused batch: every query sits near one of 4 corpus clusters
        rng = np.random.default_rng(self.seed + 2)
        c = self._centers()[rng.choice(ANN_CENTERS, 4, replace=False)]
        q = c[np.arange(self.n_queries) % 4] + 0.35 * rng.normal(size=(self.n_queries, ANN_DIM))
        return pd.DataFrame({"query_id": np.arange(self.n_queries, dtype=np.int64),
                             "embedding": list(q.astype(np.float32))})

    def _corpus(self) -> np.ndarray:
        n, rng = self.n_vecs(), np.random.default_rng(self.seed + 1)
        lab = rng.integers(0, ANN_CENTERS, n)
        return (self._centers()[lab] + 0.35 * rng.normal(size=(n, ANN_DIM))).astype(np.float32)

    def generate(self, d: str) -> None:
        import pyarrow as pa

        v = self._corpus()
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, v.size + 1, ANN_DIM, dtype=np.int32)),
            pa.array(v.ravel()))
        pq.write_table(pa.table({"vec_id": np.arange(len(v), dtype=np.int64),
                                 "embedding": emb}),
                       os.path.join(d, "corpus.parquet"), row_group_size=16384)

    def oracle(self, d: str) -> dict:
        v = self._corpus().astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        q = np.vstack(self.queries()["embedding"].to_numpy()).astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        return {"topk": np.argsort(-(q @ v.T), axis=1, kind="stable")[:, :ANN_K]}

    def setup(self, spark, d: str, work: str, exp: dict) -> dict:
        from eo_tools_spark.operators.similarity import (
            build_ivf_index, load_ivf_centroids, pq_encode, pq_train,
        )

        emb = spark.read.parquet(os.path.join(d, "corpus.parquet"))
        ivf = os.path.join(work, "ivf")
        shutil.rmtree(ivf, ignore_errors=True)
        build_ivf_index(emb, ivf, ncells=ANN_CELLS, sample_rows=4096)
        cells = load_ivf_centroids(ivf)
        books = pq_train(emb, m=PQ_M, k=PQ_CODES, sample_rows=4096, centroids=cells)
        codes = os.path.join(work, "pq_codes")
        pq_encode(emb, books, centroids=cells).write.mode("overwrite").parquet(codes)
        q = self.queries()
        qn = np.vstack(q["embedding"].to_numpy()).astype(np.float64)
        qn /= np.linalg.norm(qn, axis=1, keepdims=True)
        probed = np.argsort(-(qn @ cells.T), axis=1, kind="stable")[:, :ANN_NPROBE]
        return {"emb": emb, "ivf": ivf, "cells": cells, "books": books,
                "codes": spark.read.parquet(codes), "queries": q, "topk": exp["topk"],
                "scan_fraction": len(np.unique(probed)) / ANN_CELLS}

    def run_pass(self, spark, st: dict, tr, p: Pass) -> None:
        from eo_tools_spark.operators.similarity import ivf_topk_pruned, pq_topk

        with tr.span("similarity"):
            p.out["ivf"] = ivf_topk_pruned(spark, st["ivf"], st["queries"], k=ANN_K,
                                           nprobe=ANN_NPROBE).toPandas()
            p.out["pq"] = pq_topk(st["codes"], st["queries"], st["books"], k=ANN_K,
                                  rerank=PQ_RERANK, emb_df=st["emb"],
                                  centroids=st["cells"]).toPandas()
        p.counters["similarity.rows_out"] = len(p.out["ivf"]) + len(p.out["pq"])
        p.counters["similarity.scan_fraction"] = st["scan_fraction"]
        p.counters["similarity.recall_at_10"] = self.recall(p.out["ivf"], st["topk"])

    @staticmethod
    def recall(res: pd.DataFrame, topk: np.ndarray) -> float:
        got = res.groupby("query_id")["vec_id"].apply(set).to_dict()
        return float(np.mean([len(got.get(q, set()) & set(row.tolist())) / len(row)
                              for q, row in enumerate(topk)]))

    def check(self, out: dict, exp: dict) -> list[str]:
        bad = []
        for key in ("ivf", "pq"):
            res = out[key]
            bad += _mismatch(f"{key} rows", len(res), ANN_K * self.n_queries)
            r = self.recall(res, exp["topk"])
            if r < ANN_MIN_RECALL[key]:
                bad.append(f"{key} recall@{ANN_K} {r:.3f} < {ANN_MIN_RECALL[key]}")
        return bad


WORKLOADS = {w.name: w for w in (GeoTiles, NearDup, SarTiles, AnnTopk)}
