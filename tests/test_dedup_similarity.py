"""Dedup + similarity operators vs exact numpy oracles."""

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from eo_tools_spark.operators.dedup import (
    lsh_pairs,
    minhash_signatures,
    simhash_pairs,
    simhash_signatures,
    verify_jaccard,
)
from eo_tools_spark.operators.similarity import brute_topk, ivf_topk


def corpus(spark, n=200, seed=3):
    """Synthetic corpus with planted near/exact duplicates."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:03d}" for i in range(300)])
    rows = []
    for i in range(n):
        toks = rng.choice(vocab, size=rng.integers(20, 40))
        rows.append((i, " ".join(toks)))
    # plant exact dups and near dups
    for i in range(0, n, 10):
        rows.append((10000 + i, rows[i][1]))  # exact copy
    for i in range(5, n, 10):
        toks = rows[i][1].split(" ")
        toks[0] = "CHANGED"
        rows.append((20000 + i, " ".join(toks)))  # near dup
    return spark.createDataFrame(rows, "doc_id long, text string"), dict(rows)


class TestMinhashLSH:
    def test_signature_is_minhash(self, spark):
        """Engine sig == numpy reimplementation of the same family
        (vectorized SipHash token base, round-3 family)."""
        df, texts = corpus(spark, n=20)
        sig = {
            r.doc_id: np.array(r.sig, dtype=np.int64).view(np.uint64)
            for r in minhash_signatures(df, num_hashes=8).collect()
        }
        from eo_tools_spark.operators.dedup import _A, _B

        for doc_id, text in list(texts.items())[:5]:
            toks = np.unique(np.array(text.split(" "), dtype=object))
            base = pd.util.hash_array(toks, categorize=False).astype(np.uint64)
            for h in range(8):
                exp = (base * _A[h] + _B[h]).min()
                assert sig[doc_id][h] == exp

    def test_md5_legacy_family_matches_loop(self, spark):
        """token_hash='md5' reproduces the round-2 family exactly (the
        bench speedup baseline must stay the same computation)."""
        df, texts = corpus(spark, n=10)
        sig = {
            r.doc_id: np.array(r.sig, dtype=np.int64).view(np.uint64)
            for r in minhash_signatures(df, num_hashes=4, token_hash="md5").collect()
        }
        from eo_tools_spark.operators.dedup import _A, _B

        doc_id, text = next(iter(texts.items()))
        toks = np.unique(np.array(text.split(" "), dtype=object))
        base = np.array(
            [int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big") for t in toks],
            dtype=np.uint64,
        )
        for h in range(4):
            assert sig[doc_id][h] == (base * _A[h] + _B[h]).min()

    def test_unknown_token_hash_rejected(self, spark):
        """A typo must not silently select the 10x-slower md5 path."""
        df, _ = corpus(spark, n=2)
        with pytest.raises(ValueError, match="token_hash"):
            minhash_signatures(df, num_hashes=4, token_hash="siphash")

    def test_fast_hash_same_pairs_as_md5(self, spark):
        """The full LSH pipeline finds the same verified pair set under
        either token-hash family on the planted corpus (the family only
        moves candidate recall; verification is exact)."""
        df, _ = corpus(spark, n=100)
        out = {}
        for fam in ("fast", "md5"):
            sig = minhash_signatures(df, num_hashes=64, token_hash=fam)
            pairs = verify_jaccard(lsh_pairs(sig, bands=16), df, threshold=0.9)
            out[fam] = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert out["fast"] == out["md5"]

    def test_eager_band_frame_persisted_and_results_identical(self, spark):
        """The eager-cap path persists the exploded banded frame (one
        compute, three consumers: counting pass + both self-join sides)
        and exposes it as ``_eo_persisted`` for callers to unpersist;
        the lazy path (max_bucket=None) must persist nothing. The pair
        set is identical either way — the persist is a pure reuse."""
        df, _ = corpus(spark, n=100)
        sig = minhash_signatures(df, num_hashes=64)
        eager = lsh_pairs(sig, bands=16)
        lazy = lsh_pairs(sig, bands=16, max_bucket=None)
        assert eager._eo_persisted is not None
        assert eager._eo_persisted.storageLevel.useMemory
        assert lazy._eo_persisted is None
        got_e = {(r.id_a, r.id_b) for r in eager.collect()}
        got_l = {(r.id_a, r.id_b) for r in lazy.collect()}
        assert got_e == got_l
        eager._eo_persisted.unpersist()
        assert not eager._eo_persisted.storageLevel.useMemory

    def test_lsh_finds_planted_dups(self, spark):
        df, texts = corpus(spark)
        sig = minhash_signatures(df, num_hashes=64)
        pairs = lsh_pairs(sig, bands=16)
        verified = verify_jaccard(pairs, df, threshold=0.5).toPandas()
        got = {(r.id_a, r.id_b) for r in verified.itertuples()}
        # every exact copy must be found (identical sigs → same bands)
        for i in range(0, 200, 10):
            assert (i, 10000 + i) in got
        # near dups (1 token changed of ≥20) have jaccard ≥ 0.9 → found
        found_near = sum(1 for i in range(5, 200, 10) if (i, 20000 + i) in got)
        assert found_near >= 18  # LSH recall high at this similarity
        # precision: every reported pair really has jaccard ≥ 0.5
        for r in verified.itertuples():
            ta = set(texts[r.id_a].split(" "))
            tb = set(texts[r.id_b].split(" "))
            jac = len(ta & tb) / len(ta | tb)
            assert jac == pytest.approx(r.jaccard)
            assert jac >= 0.5


class TestSimhash:
    def test_exact_dups_have_zero_hamming(self, spark):
        df, _ = corpus(spark, n=100)
        pairs = simhash_pairs(simhash_signatures(df), max_hamming=3).toPandas()
        got = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples()}
        for i in range(0, 100, 10):
            assert got[(i, 10000 + i)] == 0

    def test_hamming_verified(self, spark):
        df, _ = corpus(spark, n=100)
        sig = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
        pairs = simhash_pairs(simhash_signatures(df), max_hamming=3).toPandas()
        for r in pairs.itertuples():
            h = bin((sig[r.id_a] ^ sig[r.id_b]) & (2**64 - 1)).count("1")
            assert h == r.hamming and h <= 3

    def test_md5_token_hash_mode(self, spark):
        """token_hash="md5" = the dual-dialect 60-bit md5_bigint per
        token (first 15 md5 hex chars): signatures must equal a
        from-scratch numpy simhash over int(md5(t).hexdigest()[:15],16),
        and the top 4 bits are always clear (driver-oracle contract —
        __spark_entry__._simhash_pairs_oracle recomputes this in
        DuckDB)."""
        import hashlib

        df, texts = corpus(spark, n=40)
        got = {
            r.doc_id: r.simhash
            for r in simhash_signatures(df, token_hash="md5").collect()
        }
        for doc_id, text in texts.items():
            if doc_id not in got:
                continue
            acc = np.zeros(64, dtype=np.int64)
            for t in text.split(" "):
                hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                for b in range(64):
                    acc[b] += 1 if (hv >> b) & 1 else -1
            expect = sum(1 << b for b in range(64) if acc[b] > 0)
            assert got[doc_id] & 0xFFFFFFFFFFFFFFFF == expect
            assert expect >> 60 == 0  # md5_bigint is 60-bit

    def test_unknown_token_hash_raises(self, spark):
        df, _ = corpus(spark, n=5)
        with pytest.raises(ValueError, match="token_hash"):
            simhash_signatures(df, token_hash="sha1")


def embeddings_df(spark, n=400, dim=32, seed=9):
    rng = np.random.default_rng(seed)
    V = rng.normal(size=(n, dim))
    # plant near-dups: rows 0..9 ≈ rows 100..109
    V[100:110] = V[0:10] + 0.01 * rng.normal(size=(10, dim))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [v.astype(np.float32).tolist() for v in V]}
    )
    return spark.createDataFrame(pdf), V


class TestTopK:
    def test_brute_matches_numpy(self, spark):
        df, V = embeddings_df(spark)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        queries = pd.DataFrame(
            {"query_id": [0, 1], "embedding": [V[0].tolist(), V[50].tolist()]}
        )
        out = brute_topk(df, queries, k=5).toPandas()
        for qi, qv in [(0, Vn[0]), (1, Vn[50])]:
            sims = Vn @ qv
            exp = np.argsort(-sims, kind="stable")[:5]
            got = out[out.query_id == qi].sort_values("rank")["vec_id"].to_numpy()
            np.testing.assert_array_equal(got, exp)

    def test_ivf_recall(self, spark):
        df, V = embeddings_df(spark)
        queries = pd.DataFrame(
            {"query_id": np.arange(8), "embedding": [V[i].tolist() for i in range(8)]}
        )
        brute = brute_topk(df, queries, k=10).toPandas()
        ivf = ivf_topk(df, queries, k=10, ncells=8, nprobe=3).toPandas()
        recalls = []
        for q in range(8):
            b = set(brute[brute.query_id == q]["vec_id"])
            a = set(ivf[ivf.query_id == q]["vec_id"])
            recalls.append(len(a & b) / len(b))
        assert np.mean(recalls) >= 0.7  # nprobe 3/8 cells

    def test_ivf_recall_curve_pinned(self, spark):
        """Approximate-mode recall gate (VERDICT r3 item 4): re-measure
        recall@10 per nprobe on the sf0.01 embeddings table and compare
        EXACTLY against the committed curve (dist/oracle/
        ivf_recall_sf001.json, regenerate with scripts/make_ivf_recall.py).
        Every stage is deterministic, so a mismatch means a refactor
        changed the IVF path's behavior — including a silent recall
        regression a >=-bound would let creep."""
        import json

        fixture = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "dist", "oracle", "ivf_recall_sf001.json",
        )
        with open(fixture) as f:
            pinned = json.load(f)
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
        ))
        from make_ivf_recall import measure

        got = measure(spark)
        assert got == pinned
        curve = [got["recall_at_10_by_nprobe"][str(p)] for p in (1, 2, 4, 8, 16)]
        # sanity on the shape a user tunes against: monotone in nprobe,
        # exact at nprobe == ncells
        assert curve == sorted(curve)
        assert curve[-1] == 1.0

    def test_ivf_deterministic_across_layouts(self, spark):
        """Centroid sample is a seeded hash filter (VERDICT r1 item 7):
        results must be identical regardless of partitioning / row
        order — an unordered limit() would not be."""
        df, V = embeddings_df(spark)
        queries = pd.DataFrame(
            {"query_id": np.arange(4), "embedding": [V[i].tolist() for i in range(4)]}
        )

        def run(frame):
            out = ivf_topk(frame, queries, k=10, ncells=8, nprobe=3).toPandas()
            return out.sort_values(["query_id", "rank"]).reset_index(drop=True)

        a = run(df.repartition(11))
        b = run(df.repartition(3, "vec_id").sortWithinPartitions(F.desc("vec_id")))
        pd.testing.assert_frame_equal(a, b)


class TestIvfPersistedIndex:
    """build_ivf_index / ivf_topk_pruned — the 100 TB IVF path (round-4
    verdict task 1): the cell assignment is materialized once through
    the snapshot layer, partitioned by cell, and queries read ONLY the
    probed cells' files."""

    def _index(self, spark, tmp_path, ncells=8):
        from eo_tools_spark.operators.similarity import build_ivf_index

        df, V = embeddings_df(spark)
        path = str(tmp_path / "ivf_idx")
        res = build_ivf_index(df, path, ncells=ncells)
        return df, V, path, res

    def test_empty_corpus_raises_before_commit(self, spark, tmp_path):
        """Round-5 advice: an empty corpus must fail with an explicit
        ValueError before training/committing, not an opaque TypeError
        from head()[0] / np.vstack."""
        from eo_tools_spark.operators.similarity import build_ivf_index

        df, _ = embeddings_df(spark)
        empty = df.where(F.col("vec_id") < 0)
        path = str(tmp_path / "ivf_empty")
        with pytest.raises(ValueError, match="empty corpus"):
            build_ivf_index(empty, path, ncells=4)
        assert not os.path.exists(os.path.join(path, "_ivf_centroids.json"))

    def test_pruned_equals_inflight_ivf_all_nprobe(self, spark, tmp_path):
        """Identical centroids + identical assignment => the persisted
        path must return exactly ivf_topk's rows at every nprobe, so the
        pinned recall curve (ivf_recall_sf001.json) transfers."""
        from eo_tools_spark.operators.similarity import ivf_topk_pruned

        df, V, path, res = self._index(spark, tmp_path)
        assert res.get("rows") == 400 and res["ncells"] == 8
        queries = pd.DataFrame(
            {"query_id": np.arange(6), "embedding": [V[i].tolist() for i in range(6)]}
        )
        for nprobe in (1, 2, 3, 8):
            a = (
                ivf_topk(df, queries, k=10, ncells=8, nprobe=nprobe)
                .toPandas()
                .sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
            b = (
                ivf_topk_pruned(spark, path, queries, k=10, nprobe=nprobe)
                .toPandas()
                .sort_values(["query_id", "rank"])
                .reset_index(drop=True)
                .astype(a.dtypes.to_dict())
            )
            pd.testing.assert_frame_equal(a, b)

    def test_scan_prunes_to_probed_partitions(self, spark, tmp_path):
        """THE scale property: the executed scan must carry a
        PartitionFilter on cell and open ONLY the probed cells' files
        (numFiles metric), not the whole index."""
        import re

        from eo_tools_spark.operators.similarity import ivf_probed_scan

        df, V, path, _ = self._index(spark, tmp_path)
        probes = {1, 4}
        scan = ivf_probed_scan(spark, path, probes)
        rows = scan.collect()
        assert all(r.cell in probes for r in rows) and len(rows) > 0
        ep = scan._jdf.queryExecution().executedPlan()
        s = ep.toString()
        m = re.search(r"PartitionFilters: \[cell#\d+ IN \(1,4\)\]", s)
        assert m, f"no partition filter on cell in plan: {s[:500]}"

        def find_scan(node):
            if node.nodeName().startswith("Scan"):
                return node
            for i in range(node.children().size()):
                r = find_scan(node.children().apply(i))
                if r is not None:
                    return r
            return None

        metrics = {}
        it = find_scan(ep).metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        # the scan opened exactly the files under the probed cells'
        # directories (a cell dir may hold several part files — one per
        # writing task), and strictly fewer than the whole index
        import glob

        def files_under(cells):
            return [
                f
                for c in cells
                for f in glob.glob(f"{path}/data/batch=*/cell={c}/*.parquet")
            ]

        assert metrics["numFiles"] == len(files_under(probes))
        assert metrics["numFiles"] < len(files_under(range(8)))

    def test_rebuild_is_snapshot_skip(self, spark, tmp_path):
        """Idempotent build: the second call is a snapshot-layer skip
        (crash-resume contract), and the index still answers."""
        from eo_tools_spark.operators.similarity import (
            build_ivf_index,
            ivf_topk_pruned,
        )

        df, V, path, first = self._index(spark, tmp_path)
        assert "rows" in first
        again = build_ivf_index(df, path, ncells=8)
        assert again["skipped"] is True
        queries = pd.DataFrame(
            {"query_id": [0], "embedding": [V[0].tolist()]}
        )
        out = ivf_topk_pruned(spark, path, queries, k=5, nprobe=8).toPandas()
        assert list(out.sort_values("rank")["vec_id"])[0] == 0  # self is top-1


class TestIvfAppend:
    """append_to_ivf_index (round-5 verdict task 4): incremental batch
    append against STORED centroids, same cell partitions, snapshot
    idempotency, and the centroid-drift rebuild recommendation."""

    # corpus > 2×sample_rows so the drift anchor's hash-DESC holdout is
    # actually disjoint from the hash-ASC training sample (the operator
    # docstring's stated regime; a 300-row toy corpus makes both
    # samples the whole corpus and re-introduces the fitted-anchor bias)
    def _split_corpus(self, spark, n0=6000, n1=600, dim=32, seed=9):
        rng = np.random.default_rng(seed)
        V = rng.normal(size=(n0 + n1, dim))

        def df_of(lo, hi):
            pdf = pd.DataFrame(
                {
                    "vec_id": np.arange(lo, hi),
                    "embedding": [v.astype(np.float32).tolist() for v in V[lo:hi]],
                }
            )
            return spark.createDataFrame(pdf)

        return df_of(0, n0), df_of(n0, n0 + n1), df_of(0, n0 + n1)

    def test_append_equals_assign_under_build_centroids(self, spark, tmp_path):
        """build(A) + append(B) must hold EXACT row parity (cell, id,
        packed bytes) with assigning A∪B under A's centroids — cell
        assignment is centroid-determined, so the appended index is
        indistinguishable from a same-centroid whole-corpus build."""
        from eo_tools_spark.operators.similarity import (
            _pack_assign,
            append_to_ivf_index,
            build_ivf_index,
            load_ivf_centroids,
        )
        from eo_tools_spark.sources.snapshots import SnapshotTable

        A, B, AB = self._split_corpus(spark)
        path = str(tmp_path / "idx")
        build_ivf_index(A, path, ncells=8)
        res = append_to_ivf_index(B, path, "batch-b")
        assert res["rows"] == 600
        assert res["rebuild_recommended"] is False  # same distribution
        C = load_ivf_centroids(path)
        from eo_tools_spark.operators.similarity import _load_ivf_meta

        vec_dtype = _load_ivf_meta(path)["vec_dtype"]
        expected = {
            (r.cell, r.vec_id, bytes(r.embedding))
            for r in _pack_assign(AB, C, vec_dtype, "vec_id", "embedding").collect()
        }
        got = {
            (r.cell, r.vec_id, bytes(r.embedding))
            for r in SnapshotTable(spark, path).read().collect()
        }
        assert got == expected

    def test_pruned_query_green_over_appended_index(self, spark, tmp_path):
        """ivf_topk_pruned over build(A)+append(B) at nprobe=ncells
        (probe everything) == brute_topk over A∪B — the appended rows
        are fully visible to the partition-pruned query path."""
        from eo_tools_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
            ivf_topk_pruned,
        )

        A, B, AB = self._split_corpus(spark)
        path = str(tmp_path / "idx")
        build_ivf_index(A, path, ncells=8)
        append_to_ivf_index(B, path, "batch-b")
        queries = pd.DataFrame(
            {
                "query_id": [0, 1],
                "embedding": [
                    r.embedding
                    for r in AB.where(F.col("vec_id").isin([5, 6350]))
                    .orderBy("vec_id")
                    .collect()
                ],
            }
        )
        key = ["query_id", "rank"]
        exact = (
            brute_topk(AB, queries, k=5).toPandas().sort_values(key).reset_index(drop=True)
        )
        pruned = (
            ivf_topk_pruned(spark, path, queries, k=5, nprobe=8)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            exact[["query_id", "vec_id", "rank"]],
            pruned[["query_id", "vec_id", "rank"]].astype(
                exact[["query_id", "vec_id", "rank"]].dtypes.to_dict()
            ),
        )
        np.testing.assert_allclose(
            exact["cosine"].to_numpy(), pruned["cosine"].to_numpy(), atol=1e-12
        )
        # appended ids must actually be reachable
        assert 6350 in set(pruned["vec_id"])

    def test_append_idempotent_and_error_contracts(self, spark, tmp_path):
        from eo_tools_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
        )
        from eo_tools_spark.sources.snapshots import SnapshotTable

        A, B, _ = self._split_corpus(spark)
        path = str(tmp_path / "idx")
        build_ivf_index(A, path, ncells=8)
        append_to_ivf_index(B, path, "batch-b")
        n1 = SnapshotTable(spark, path).read().count()
        # same batch_id re-append = snapshot-layer skip (crash-resume)
        res2 = append_to_ivf_index(B, path, "batch-b")
        assert res2.get("skipped") is True
        assert SnapshotTable(spark, path).read().count() == n1
        # empty batch refuses
        with pytest.raises(ValueError, match="empty batch"):
            append_to_ivf_index(B.where(F.col("vec_id") < 0), path, "batch-c")
        # missing index refuses
        with pytest.raises(FileNotFoundError):
            append_to_ivf_index(B, str(tmp_path / "nope"), "batch-d")
        # dimension mismatch refuses loudly (not a deep numpy error)
        bad = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": [1, 2], "embedding": [[0.1] * 16, [0.2] * 16]}
            )
        )
        with pytest.raises(ValueError, match="dimension"):
            append_to_ivf_index(bad, path, "batch-e")
        # packed/non-array batch refuses loudly
        packed = spark.createDataFrame(
            pd.DataFrame({"vec_id": [1], "embedding": [b"\x00" * 128]})
        )
        with pytest.raises(ValueError, match="array"):
            append_to_ivf_index(packed, path, "batch-f")

    def test_drift_recommends_rebuild_on_shifted_distribution(self, spark, tmp_path):
        """Clustered corpus around 4 axis directions → base anchor
        ~1.0; a batch from the SAME clusters appends silently, a batch
        from a NEW direction trips the drift recommendation (but still
        commits — advisory, not a gate)."""
        from eo_tools_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
        )
        from eo_tools_spark.sources.snapshots import SnapshotTable

        dim = 16
        rng = np.random.default_rng(3)

        def clustered(lo, n, axes):
            V = np.zeros((n, dim))
            for i in range(n):
                V[i, axes[i % len(axes)]] = 1.0
            V += 0.05 * rng.normal(size=(n, dim))
            pdf = pd.DataFrame(
                {
                    "vec_id": np.arange(lo, lo + n),
                    "embedding": [v.astype(np.float32).tolist() for v in V],
                }
            )
            return spark.createDataFrame(pdf)

        path = str(tmp_path / "idx")
        build_ivf_index(clustered(0, 200, [0, 1, 2, 3]), path, ncells=4)
        same = append_to_ivf_index(clustered(1000, 50, [0, 1, 2, 3]), path, "b-same")
        assert same["rebuild_recommended"] is False
        assert same["centroid_drift"] < 0.05
        shifted = append_to_ivf_index(clustered(2000, 50, [7]), path, "b-shift")
        assert shifted["rebuild_recommended"] is True
        assert shifted["centroid_drift"] > 0.5
        # advisory: the shifted batch still committed
        assert SnapshotTable(spark, path).read().count() == 300


class TestHammingBanding:
    """Pair-banding (narrow-chunk scheme) + hot-bucket cap (VERDICT r1
    item 4: band-key skew guard)."""

    def test_pair_banding_matches_bruteforce(self, spark):
        """k=6 triggers chunk-PAIR banding; the candidate set must stay a
        superset of all true pairs → verified output == brute force."""
        rng = np.random.default_rng(42)
        base = rng.integers(0, 2**63, size=60, dtype=np.int64)
        # plant near-dups at controlled hamming distances 0..7
        rows = [(int(i), int(h)) for i, h in enumerate(base)]
        nid = 1000
        for d in range(8):
            h = int(base[d])
            for bit in rng.choice(64, size=d, replace=False):
                h ^= 1 << int(bit)
            rows.append((nid + d, np.int64(np.uint64(h & (2**64 - 1)) .view(np.int64) if h < 2**63 else np.uint64(h).astype(np.int64))))
        rows = [(i, int(np.uint64(h % 2**64).astype(np.int64))) for i, h in rows]
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(df, max_hamming=6).collect()
        }
        # brute force oracle
        exp = {}
        for i, hi in rows:
            for j, hj in rows:
                if i < j:
                    d = bin((hi ^ hj) & (2**64 - 1)).count("1")
                    if d <= 6:
                        exp[(i, j)] = d
        assert got == exp

    def test_phash_pair_banding_matches_bruteforce(self, spark):
        from eo_tools_spark.operators.image_pipeline import phash_neardup

        rng = np.random.default_rng(3)
        base = rng.integers(0, 2**63, size=40, dtype=np.int64)
        rows = [(f"i{i:04d}", int(h)) for i, h in enumerate(base)]
        for d in range(8):
            h = int(base[d])
            for bit in rng.choice(64, size=d, replace=False):
                h ^= 1 << int(bit)
            rows.append((f"n{d:04d}", int(np.uint64(h % 2**64).astype(np.int64))))
        df = spark.createDataFrame(rows, "image_id string, phash long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in phash_neardup(df, max_hamming=6).collect()
        }
        exp = {}
        for i, hi in rows:
            for j, hj in rows:
                if i < j:
                    d = bin((hi ^ hj) & (2**64 - 1)).count("1")
                    if d <= 6:
                        exp[(i, j)] = d
        assert got == exp

    def test_planted_degenerate_key_capped(self, spark):
        """10k identical phashes → every band bucket is hot; with the cap
        the join must NOT go quadratic (would be ~50M candidate pairs)
        and the pairs among the degenerate family are dropped (logged),
        while normal near-dups elsewhere survive."""
        from eo_tools_spark.operators.image_pipeline import phash_neardup

        rng = np.random.default_rng(8)
        n_degen = 10_000
        degen = [(f"d{i:05d}", 0) for i in range(n_degen)]  # all-zero phash
        base = int(rng.integers(1, 2**62))
        normal = [("x00001", base), ("x00002", base ^ (1 << 5))]  # hamming 1
        df = spark.createDataFrame(
            degen + normal, "image_id string, phash long"
        ).repartition(8)
        out = phash_neardup(df, max_hamming=6, max_bucket=100).toPandas()
        pairs = {(r.id_a, r.id_b) for r in out.itertuples()}
        assert ("x00001", "x00002") in pairs
        assert not any(a.startswith("d") for a, _ in pairs)

    def test_cap_none_disables_guard(self, spark):
        from eo_tools_spark.operators.dedup import cap_hot_buckets

        df = spark.createDataFrame(
            [(i, 1, 7) for i in range(50)], "doc_id long, band int, key long"
        )
        assert cap_hot_buckets(df, ["band", "key"], None, "t").count() == 50
        assert cap_hot_buckets(df, ["band", "key"], 10, "t").count() == 0
        assert cap_hot_buckets(df, ["band", "key"], 50, "t").count() == 50

    def test_single_chunk_banding_still_used_when_wide(self, spark):
        """k=3 keeps the classic 16-bit single-chunk scheme — behavior
        identical to round 1 (brute-force check)."""
        rng = np.random.default_rng(5)
        rows = [(int(i), int(h)) for i, h in enumerate(
            rng.integers(0, 2**63, size=50, dtype=np.int64))]
        rows.append((999, rows[0][1] ^ (1 << 10) ^ (1 << 40)))  # hamming 2
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df, max_hamming=3).collect()}
        exp = {}
        for i, hi in rows:
            for j, hj in rows:
                if i < j:
                    d = bin((hi ^ hj) & (2**64 - 1)).count("1")
                    if d <= 3:
                        exp[(i, j)] = d
        assert got == exp


def test_cap_null_keys_filtered_and_metric_truthful(spark):
    """NULL band keys cannot pair through an equi-join; the cap filters
    them up front so (a) they don't ride the shuffle and (b) the
    observe drop metric doesn't count them as 'hot dropped' (review-4
    regression: anti-join passed NULL rows while the metric claimed
    they were dropped)."""
    from eo_tools_spark.operators.dedup import cap_hot_buckets, drop_report

    rows = [(i, 1, 7) for i in range(50)] + [(100 + i, 1, None) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, band int, key long")
    out = cap_hot_buckets(df, ["band", "key"], 10, "nulltest")
    assert out.count() == 0  # hot bucket dropped, NULL rows filtered
    rep = drop_report(out)
    assert rep["rows_dropped"] == 50 and rep["n_hot_buckets"] == 1
    # with a generous cap, non-null rows survive; NULLs stay filtered
    out2 = cap_hot_buckets(df, ["band", "key"], 100, "nulltest2")
    assert out2.count() == 50


class TestWinnowing:
    """Winnowing rolling-hash fingerprints (Schleimer et al. 2003) —
    dedup.winnow_candidates + the dual-dialect builders behind the
    winnow_pairs driver query."""

    def test_guarantee_and_cross_engine_parity(self, spark):
        """Planted exact copies and first-token-edit near-dups must pair
        (winnowing guarantee: a shared token run of >= w+k-1 yields a
        shared fingerprint), and the operator output equals a DuckDB
        recomputation through the duck-dialect builders."""
        import duckdb

        from eo_tools_spark.functions import text as T
        from eo_tools_spark.operators.dedup import winnow_candidates

        df, rows = corpus(spark, n=60)
        out = winnow_candidates(
            df, k=4, w=5, min_shared=2, max_bucket=None, token_hash="sql"
        ).toPandas()
        pairs = {(a, b) for a, b in zip(out.id_a, out.id_b)}
        for i in range(0, 60, 10):
            assert (i, 10000 + i) in pairs  # exact copy
        for i in range(5, 60, 10):
            # first-token edit leaves a shared run of >= 19 tokens
            assert (i, 20000 + i) in pairs
        pdf = pd.DataFrame(list(rows.items()), columns=["doc_id", "text"])
        con = duckdb.connect()
        con.register("docs", pdf)
        h = T.kgram_hashes("text", 4, "duck")
        fps = T.winnow_mins("h", 5, "duck")
        du = con.sql(
            f"WITH b AS (SELECT doc_id, {h} AS h FROM docs), "
            f"wm AS (SELECT doc_id, {fps} AS fps FROM b), "
            f"f AS (SELECT doc_id, unnest(fps) AS fp FROM wm) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(COUNT(*) AS BIGINT) AS n_shared "
            "FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 2"
        ).df()
        key = ["id_a", "id_b", "n_shared"]
        got = out[key].sort_values(key).reset_index(drop=True)
        exp = du[key].sort_values(key).reset_index(drop=True).astype(
            got.dtypes.to_dict()
        )
        assert got.equals(exp)

    def test_hot_fingerprint_capped(self, spark):
        """30 docs sharing identical 20-token boilerplate make every
        boilerplate fingerprint's posting list 30 members; max_bucket=10
        drops those lists BEFORE the self-join (no quadratic family),
        the drop report says so, and a small pair sharing a distinct
        tail still comes through."""
        from eo_tools_spark.operators.dedup import winnow_candidates

        rng = np.random.default_rng(11)
        boiler = " ".join(f"b{i:02d}" for i in range(20))
        vocab = np.array([f"u{i:03d}" for i in range(500)])
        rows = []
        for i in range(30):
            tail = " ".join(rng.choice(vocab, size=12))
            rows.append((i, boiler + " " + tail))
        shared_tail = " ".join(rng.choice(vocab, size=15))
        rows.append((900, "zz aa " + shared_tail))
        rows.append((901, "qq rr " + shared_tail))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = winnow_candidates(df, k=4, w=5, min_shared=1, max_bucket=10)
        out = capped.toPandas()
        pairs = {(a, b) for a, b in zip(out.id_a, out.id_b)}
        assert (900, 901) in pairs
        assert not any(a < 30 and b < 30 for a, b in pairs)
        rep = capped._eo_drop_report
        assert rep["n_hot_buckets"] > 0 and rep["rows_dropped"] > 0
        # uncapped, the boilerplate family pairs quadratically
        full = winnow_candidates(
            df, k=4, w=5, min_shared=1, max_bucket=None
        ).toPandas()
        assert len(full) >= len(out) + 30 * 29 // 2

    def test_fast_kernel_guarantee(self, spark):
        """The production (vectorized SipHash) fingerprint family obeys
        the same winnowing guarantee: every planted exact copy and
        first-token-edit near-dup pairs, and an unrelated-doc pair with
        no shared >= k-token run does not appear spuriously at
        min_shared=2 on this corpus."""
        from eo_tools_spark.operators.dedup import (
            winnow_candidates,
            winnow_fingerprints_fast,
        )

        df, rows = corpus(spark, n=60)
        out = winnow_candidates(
            df, k=4, w=5, min_shared=2, max_bucket=None, token_hash="fast"
        ).toPandas()
        pairs = {(a, b) for a, b in zip(out.id_a, out.id_b)}
        for i in range(0, 60, 10):
            assert (i, 10000 + i) in pairs
        for i in range(5, 60, 10):
            assert (i, 20000 + i) in pairs
        # exact copies share ALL fingerprints in any consistent family
        fps = winnow_fingerprints_fast(df, k=4, w=5).toPandas()
        by_doc = fps.groupby("doc_id").fp.apply(set)
        for i in range(0, 60, 10):
            assert by_doc[i] == by_doc[10000 + i]

    def test_short_doc_parity_fast_vs_sql(self, spark):
        """Docs with fewer than k tokens emit ONE whole-text fingerprint
        in BOTH hash families (round-4 ADVICE: the fast kernel used to
        emit per-token hashes, so two distinct short docs sharing a
        single token paired under 'fast' but not 'sql' at min_shared=1).
        The candidate PAIR sets must now be identical."""
        from eo_tools_spark.operators.dedup import (
            winnow_candidates,
            winnow_fingerprints_fast,
        )

        rows = [
            (0, "alpha beta"),          # short, shares 'beta' with 1
            (1, "beta gamma"),          # short — must NOT pair with 0
            (2, "alpha beta"),          # exact short dup of 0 — must pair
            (3, "one two three"),       # 3 tokens < k=4
            (4, "one two three"),       # exact dup of 3
            (5, "one two three four five six"),  # long doc containing 3's text
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = winnow_fingerprints_fast(df, k=4, w=5).toPandas()
        n_by_doc = fps.groupby("doc_id").fp.nunique()
        for d in (0, 1, 2, 3, 4):
            assert n_by_doc[d] == 1  # one whole-text fingerprint
        pair_sets = {}
        for th in ("fast", "sql"):
            out = winnow_candidates(
                df, k=4, w=5, min_shared=1, max_bucket=None, token_hash=th
            ).toPandas()
            pair_sets[th] = {(a, b) for a, b in zip(out.id_a, out.id_b)}
        assert pair_sets["fast"] == pair_sets["sql"]
        assert (0, 2) in pair_sets["fast"] and (3, 4) in pair_sets["fast"]
        assert (0, 1) not in pair_sets["fast"]

class TestDecontaminate:
    """Cross-table benchmark decontamination (dedup.decontaminate):
    winnowing-guaranteed catch of verbatim >= w+k-1 token overlaps,
    broadcast bench side, clean-corpus anti-join."""

    @staticmethod
    def _tables(spark, seed=17):
        """Benchmark of 5 docs; corpus of 30 clean docs (disjoint
        vocabulary) + 6 contaminated docs embedding a verbatim 10-token
        span from a bench doc (k=4, w=5 → spans >= 8 are guaranteed)."""
        rng = np.random.default_rng(seed)
        bvoc = np.array([f"bench{i:03d}" for i in range(80)])
        cvoc = np.array([f"corp{i:03d}" for i in range(400)])
        bench_rows = [
            (100 + j, " ".join(rng.choice(bvoc, size=25, replace=False)))
            for j in range(5)
        ]
        corpus_rows = [
            (i, " ".join(rng.choice(cvoc, size=30)))
            for i in range(30)
        ]
        planted = []
        for j in range(6):
            src = bench_rows[j % 5][1].split(" ")
            span = " ".join(src[3:13])  # verbatim 10-token span
            filler = " ".join(rng.choice(cvoc, size=10))
            corpus_rows.append((500 + j, filler + " " + span))
            planted.append((500 + j, 100 + (j % 5)))
        bench = spark.createDataFrame(bench_rows, "bench_id long, text string")
        corpus_df = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        return corpus_df, bench, planted

    def test_guarantee_catches_planted_contamination(self, spark):
        from eo_tools_spark.operators.dedup import decontaminate

        corpus_df, bench, planted = self._tables(spark)
        out = decontaminate(
            corpus_df, bench, k=4, w=5, min_shared=1, token_hash="fast"
        ).toPandas()
        got = {(d, b) for d, b in zip(out.doc_id, out.bench_id)}
        for pair in planted:
            assert pair in got, pair
        # clean docs (disjoint vocabulary) never flag
        assert all(d >= 500 for d, _ in got), got

    def test_sql_path_matches_duckdb_recomputation(self, spark):
        import duckdb

        from eo_tools_spark.functions import text as T
        from eo_tools_spark.operators.dedup import decontaminate

        corpus_df, bench, _ = self._tables(spark)
        out = decontaminate(
            corpus_df, bench, k=4, w=5, min_shared=1, token_hash="sql"
        ).toPandas()
        con = duckdb.connect()
        con.register("corp", corpus_df.toPandas())
        con.register("bench", bench.toPandas())
        h = T.kgram_hashes("text", 4, "duck")
        fps = T.winnow_mins("h", 5, "duck")
        du = con.sql(
            f"WITH bh AS (SELECT bench_id, {h} AS h FROM bench), "
            f"bw AS (SELECT bench_id, {fps} AS fps FROM bh), "
            "bf AS (SELECT bench_id, unnest(fps) AS fp FROM bw), "
            f"ch AS (SELECT doc_id, {h} AS h FROM corp), "
            f"cw AS (SELECT doc_id, {fps} AS fps FROM ch), "
            "cf AS (SELECT doc_id, unnest(fps) AS fp FROM cw) "
            "SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared "
            "FROM cf c JOIN bf b ON c.fp = b.fp GROUP BY 1, 2 "
            "HAVING COUNT(*) >= 1"
        ).df()
        key = ["doc_id", "bench_id", "n_shared"]
        got = out[key].sort_values(key).reset_index(drop=True)
        exp = du[key].sort_values(key).reset_index(drop=True).astype(
            got.dtypes.to_dict()
        )
        assert got.equals(exp) and len(got) > 0

    def test_keep_list_removes_exactly_the_flagged_docs(self, spark):
        from eo_tools_spark.operators.dedup import decontaminate

        corpus_df, bench, planted = self._tables(spark)
        flagged = decontaminate(
            corpus_df, bench, k=4, w=5, min_shared=1, token_hash="fast"
        )
        kept = {r.doc_id for r in corpus_df.select("doc_id").collect()} - {
            r.doc_id for r in flagged.select("doc_id").collect()
        }
        assert kept == {i for i in range(30)}  # all clean docs survive
        assert not kept & {d for d, _ in planted}

    def test_bench_side_is_broadcast(self, spark):
        from eo_tools_spark.operators.dedup import decontaminate

        corpus_df, bench, _ = self._tables(spark)
        out = decontaminate(corpus_df, bench, token_hash="fast")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]

    def test_id_collision_raises(self, spark):
        from eo_tools_spark.operators.dedup import decontaminate

        corpus_df, bench, _ = self._tables(spark)
        with pytest.raises(ValueError, match="must differ"):
            decontaminate(
                corpus_df, bench.withColumnRenamed("bench_id", "doc_id"),
                bench_id_col="doc_id",
            )

class TestRepetitionStats:
    """Gopher-style repetition metrics (text_queries.repetition_stats):
    semantics pinned on hand-computable docs (the driver gate checks
    only Spark == DuckDB parity, not the math)."""

    def test_hand_computed_values(self, spark):
        import pandas as pd

        from eo_tools_spark.operators.text_queries import repetition_stats

        rows = [
            # doc 1: "a b a b a b" — 6 tokens, 2 distinct;
            # 5-grams (n=5): "a b a b a", "b a b a b" → 2 distinct of 2;
            # bigrams: ab,ba,ab,ba,ab → top "a b" count 3
            (1, "a b a b a b"),
            # doc 4: all distinct, no repetition anywhere
            (4, "p q r s t u v w"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .createOrReplaceTempView("documents")
        sql, _ = repetition_stats(n=5)
        out = spark.sql(sql).toPandas().set_index("doc_id")
        # DOCS_AUG adds +200000 copies for doc_id % 7 == 0 only (none
        # here) and +100000 trimmed for % 5 == 0 (none); % 13 == 2
        # self-concat applies to neither id.
        r1 = out.loc[1]
        assert r1.n_tokens == 6
        assert r1.dup_token_ratio == pytest.approx(1 - 2 / 6)
        assert r1.dup_ngram_ratio == pytest.approx(0.0)
        assert r1.top_bigram_ratio == pytest.approx(2 * 3 / 6)
        r4 = out.loc[4]
        assert r4.dup_token_ratio == 0.0 and r4.dup_ngram_ratio == 0.0
        # 8 tokens all distinct → every bigram count 1 → 2/8
        assert r4.top_bigram_ratio == pytest.approx(0.25)

    def test_planted_self_concat_doubles_repetition(self, spark):
        from eo_tools_spark.operators.text_queries import repetition_stats

        # doc_id 2 (% 13 == 2) is self-concatenated INSIDE the query:
        # 10 distinct tokens → 20 tokens, dup_token_ratio 0.5, and the
        # 5-gram stream of the doubled doc repeats (16 windows, 12
        # distinct: the 6 straddling + 10 original, minus overlap) —
        # just assert the planted doc shows dup_ngram_ratio > 0 while
        # an untouched all-distinct doc shows 0.
        rows = [
            (2, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
            (3, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .createOrReplaceTempView("documents")
        sql, _ = repetition_stats(n=5)
        out = spark.sql(sql).toPandas().set_index("doc_id")
        assert out.loc[2].n_tokens == 20
        assert out.loc[2].dup_token_ratio == pytest.approx(0.5)
        assert out.loc[2].dup_ngram_ratio > 0
        assert out.loc[3].dup_ngram_ratio == 0.0

    def test_single_token_doc_scores_zero_not_two(self, spark):
        """Regression (round-6 review): a one-token doc has NO bigram —
        the greatest(...,1) floor used to fabricate a NULL pseudo-gram
        and score top_bigram_ratio = 2.0 in BOTH dialects (so the
        oracle gate couldn't see it)."""
        import duckdb
        import pandas as pd

        from eo_tools_spark.operators.text_queries import repetition_stats

        pdf = pd.DataFrame({"doc_id": [1, 9], "text": ["solo", "x"]})
        spark.createDataFrame(pdf).createOrReplaceTempView("documents")
        ssql, dsql = repetition_stats(5)
        out = spark.sql(ssql).toPandas().set_index("doc_id")
        assert (out.top_bigram_ratio == 0.0).all()
        assert (out.n_tokens == 1).all()
        con = duckdb.connect()
        con.register("documents", pdf)
        du = con.sql(dsql).df().set_index("doc_id")
        assert (du.top_bigram_ratio == 0.0).all()

class TestProductQuantization:
    """PQ compression + ADC search (similarity.pq_train/encode/topk):
    64x smaller codes, recall measured against brute force, and the
    exact-rerank degenerate mode equal to brute_topk row for row."""

    @staticmethod
    def _clustered(spark, n=600, dim=32, ncl=6, seed=21):
        """Cluster-structured corpus (ANN is meaningless on isotropic
        noise): ncl Gaussian blobs around random unit centers."""
        rng = np.random.default_rng(seed)
        centers = rng.normal(size=(ncl, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        V = centers[np.arange(n) % ncl] + 0.15 * rng.normal(size=(n, dim))
        pdf = pd.DataFrame(
            {"vec_id": np.arange(n),
             "embedding": [v.astype(np.float32).tolist() for v in V]}
        )
        return spark.createDataFrame(pdf).repartition(4), V

    @staticmethod
    def _queries(V, nq=8):
        return pd.DataFrame(
            {"query_id": np.arange(nq),
             "embedding": [V[i * 7].tolist() for i in range(nq)]}
        )

    def test_codes_are_m_bytes(self, spark):
        from eo_tools_spark.operators.similarity import pq_encode, pq_train

        df, V = self._clustered(spark)
        books = pq_train(df, m=8, k=64)
        codes = pq_encode(df, books).toPandas()
        assert len(codes) == 600
        assert all(len(c) == 8 for c in codes.code)  # 128B fp32 -> 8B

    def test_exact_rerank_degenerate_equals_brute(self, spark):
        """rerank >= corpus size => every row is an exact-rerank
        candidate => output must equal brute_topk exactly (the mode the
        driver oracle gates)."""
        from eo_tools_spark.operators.similarity import (
            brute_topk,
            pq_encode,
            pq_topk,
            pq_train,
        )

        df, V = self._clustered(spark)
        books = pq_train(df, m=4, k=32)
        codes = pq_encode(df, books)
        q = self._queries(V)
        got = pq_topk(
            codes, q, books, k=10, rerank=10**9, emb_df=df
        ).toPandas()
        exp = brute_topk(df, q, k=10).toPandas()
        key = ["query_id", "rank"]
        g = got.sort_values(key).reset_index(drop=True)
        e = exp.sort_values(key).reset_index(drop=True)
        assert list(g.vec_id) == list(e.vec_id)
        assert np.allclose(g.cosine, e.cosine)

    def test_adc_recall_and_rerank_improvement(self, spark):
        from eo_tools_spark.operators.similarity import (
            brute_topk,
            pq_encode,
            pq_topk,
            pq_train,
        )

        df, V = self._clustered(spark)
        # k=256 codewords: measured adc recall 0.763 / rerank50 1.0 on
        # this corpus (k=64 drops ADC to 0.55 — in-cluster near-ties
        # are exactly where quantization noise reshuffles ranks, which
        # is why the rerank recipe exists)
        books = pq_train(df, m=8, k=256)
        codes = pq_encode(df, books)
        q = self._queries(V)
        truth = brute_topk(df, q, k=10).toPandas()
        truth_sets = truth.groupby("query_id").vec_id.apply(set)

        def recall(res):
            r = res.groupby("query_id").vec_id.apply(set)
            return np.mean([
                len(r[qid] & truth_sets[qid]) / 10 for qid in truth_sets.index
            ])

        adc = pq_topk(codes, q, books, k=10).toPandas()
        r_adc = recall(adc)
        rer = pq_topk(codes, q, books, k=10, rerank=50, emb_df=df).toPandas()
        r_rer = recall(rer)
        assert r_adc >= 0.6, r_adc          # quantized-only floor
        assert r_rer >= 0.9, (r_adc, r_rer)  # exact rerank recovers
        assert r_rer >= r_adc

    def test_train_deterministic_across_partitioning(self, spark):
        from eo_tools_spark.operators.similarity import pq_train

        df, _ = self._clustered(spark)
        b1 = pq_train(df.repartition(2), m=4, k=16)
        b2 = pq_train(df.repartition(8), m=4, k=16)
        assert np.array_equal(b1, b2)

    def test_first_match_disabled_when_cap_drops_buckets(self, spark):
        """Regression (round-7, found at sf1): under the hot-bucket cap,
        a pair whose EARLIEST matching band sits in a dropped bucket
        must still be emitted by a later intact band — the first-match
        optimization (which replaces the candidate distinct) is only
        sound when no bucket was dropped, and must fall back to the
        distinct otherwise. 20 rows share chunk0 (hot, cap 10 → band-0
        bucket dropped); rows 0 and 1 additionally share chunk1 and
        differ by one bit in chunk2 → the (0, 1) pair's first matching
        band is the dropped band 0, and it must survive via band 1."""
        from eo_tools_spark.operators.dedup import simhash_pairs

        rows = []
        for i in range(20):
            c0, c1, c2, c3 = 0x1111, 0x2000 + i, 0x3000 + i, 0x4000 + i
            if i == 1:
                c1, c2, c3 = 0x2000, 0x3000 ^ 1, 0x4000
            rows.append((i, (c3 << 48) | (c2 << 32) | (c1 << 16) | c0))
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "simhash"])
        )
        out = simhash_pairs(df, max_hamming=3, max_bucket=10).toPandas()
        got = set(zip(out.id_a, out.id_b))
        assert (0, 1) in got, got
        assert out[(out.id_a == 0) & (out.id_b == 1)].hamming.iloc[0] == 1

    @pytest.mark.parametrize("entry", ["simhash_pairs", "phash_neardup"])
    def test_hot_aware_first_match_equals_distinct_under_drops(
        self, spark, monkeypatch, entry
    ):
        """Under hot-bucket drops the collected hot set lets first-match
        emission replace the candidate distinct (per-band
        "OR key IN hot" — dedup.first_match_band_pred): the pair set
        must equal the distinct fallback EXACTLY, with no duplicate
        emissions; an uncollectable hot set must fall back to the
        distinct. Random multi-band-collision corpus plus a planted
        hot chunk so several pairs match in >1 band. Run through both
        entry points of the shared hamming path."""
        import eo_tools_spark.operators.dedup as D
        from eo_tools_spark.operators.image_pipeline import phash_neardup

        cols, pairs = {
            "simhash_pairs": (["doc_id", "simhash"], D.simhash_pairs),
            "phash_neardup": (["image_id", "phash"], phash_neardup),
        }[entry]

        rng = np.random.default_rng(11)
        rows = []
        for i in range(200):
            c0 = 0x1111 if i < 60 else int(rng.integers(0, 1 << 16))
            c1 = int(rng.integers(0, 8))  # tiny keyspace → multi-match
            c2 = int(rng.integers(0, 8))
            c3 = int(rng.integers(0, 4))
            rows.append((i, (c3 << 48) | (c2 << 32) | (c1 << 16) | c0))
        df = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
        hot = pairs(df, max_hamming=3, max_bucket=50)
        rep = D.drop_report(hot)
        assert rep["n_hot_buckets"] >= 1  # the cap really dropped
        hot_pdf = hot.toPandas()
        # no duplicate emissions from the predicate path
        assert not hot_pdf.duplicated(["id_a", "id_b"]).any()
        # force the distinct fallback and compare exactly
        monkeypatch.setattr(D, "hot_keys_by_band", lambda *_a, **_k: None)
        dist = pairs(df, max_hamming=3, max_bucket=50)
        dist_pdf = dist.toPandas()

        def dedups(frame):  # the candidate distinct plans as an Aggregate
            return "Aggregate" in frame._jdf.queryExecution().optimizedPlan().toString()

        assert not dedups(hot) and dedups(dist)
        key = lambda p: set(map(tuple, p[["id_a", "id_b", "hamming"]].values))  # noqa: E731
        assert key(hot_pdf) == key(dist_pdf)
        # oversized hot set → helper refuses (callers keep the distinct)
        assert D.hot_keys_by_band(rep, max_literal=0) is None
        assert D.hot_keys_by_band(None) is None

    def test_rerank_below_k_still_returns_k_rows(self, spark):
        """Round-6 ADVICE: 0 < rerank < k used per-partition candidates
        of max(k, rerank) but filtered the global shortlist at rerank,
        silently returning at most rerank rows per query. The shortlist
        now filters at max(k, rerank) — every query gets k rows."""
        from eo_tools_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        df, V = self._clustered(spark)
        books = pq_train(df, m=8, k=64)
        codes = pq_encode(df, books)
        q = self._queries(V)
        out = pq_topk(
            codes, q, books, k=10, rerank=5, emb_df=df
        ).toPandas()
        per_q = out.groupby("query_id").size()
        assert (per_q == 10).all(), per_q.to_dict()

    def test_contracts(self, spark):
        from eo_tools_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        df, V = self._clustered(spark, dim=30)
        with pytest.raises(ValueError, match="not divisible"):
            pq_train(df, m=8)
        with pytest.raises(ValueError, match="256"):
            pq_train(df, m=5, k=512)
        empty = df.where("vec_id < 0")
        with pytest.raises(ValueError, match="empty"):
            pq_train(empty, m=5)
        books = pq_train(df, m=5, k=16)
        codes = pq_encode(df, books)
        with pytest.raises(ValueError, match="emb_df"):
            pq_topk(codes, self._queries(V), books, rerank=5)

    def test_residual_mode_beats_flat_and_degenerates_exactly(self, spark):
        """IVF-PQ residual coding: recall at equal code budget must be
        >= flat PQ on the clustered corpus, the degenerate rerank mode
        must still equal brute force exactly, and a codes frame without
        the cell column must be refused."""
        from eo_tools_spark.operators.similarity import (
            _deterministic_sample,
            brute_topk,
            pq_encode,
            pq_topk,
            pq_train,
            train_centroids,
        )

        df, V = self._clustered(spark)
        q = self._queries(V)
        truth = brute_topk(df, q, k=10).toPandas()
        truth_sets = truth.groupby("query_id").vec_id.apply(set)

        def recall(res):
            r = res.groupby("query_id").vec_id.apply(set)
            return np.mean([
                len(r[x] & truth_sets[x]) / 10 for x in truth_sets.index
            ])

        C = train_centroids(
            _deterministic_sample(df, 2048, "vec_id", "embedding"), 6
        )
        fb = pq_train(df, m=8, k=64)
        fc = pq_encode(df, fb)
        rb = pq_train(df, m=8, k=64, centroids=C)
        rc = pq_encode(df, rb, centroids=C)
        r_flat = recall(pq_topk(fc, q, fb, k=10).toPandas())
        r_res = recall(pq_topk(rc, q, rb, k=10, centroids=C).toPandas())
        assert r_res >= r_flat, (r_flat, r_res)
        got = pq_topk(
            rc, q, rb, k=10, rerank=10**9, emb_df=df, centroids=C
        ).toPandas()
        key = ["query_id", "rank"]
        g = got.sort_values(key).reset_index(drop=True)
        e = truth.sort_values(key).reset_index(drop=True)
        assert list(g.vec_id) == list(e.vec_id)
        with pytest.raises(ValueError, match="cell"):
            pq_topk(fc, q, rb, centroids=C)
