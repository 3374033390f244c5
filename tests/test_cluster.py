"""Connected-components clustering vs a union-find oracle."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from eo_tools_spark.operators import cluster
from eo_tools_spark.operators.cluster import (
    _checkpoint_observed,
    _free_local_checkpoint,
    _uf_core,
    connected_components,
)
from eo_tools_spark.operators.dedup import _row_bytes_expr


def union_find_oracle(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to component MIN (path-compress fully)
    return {v: find(v) for v in list(parent)}


def _no_checkpoint(*_args, **_kw):
    raise AssertionError("the raw round-0 path must not checkpoint")


class TestConnectedComponents:
    def test_random_graph_matches_union_find(self, spark):
        rng = np.random.default_rng(4)
        n = 400
        pairs = set()
        # clustered blobs (the near-dup shape) + a few long chains
        for base in range(0, n, 20):
            members = rng.choice(range(base, base + 12), size=8, replace=False)
            for i in range(len(members) - 1):
                a, b = int(members[i]), int(members[i + 1])
                if a != b:
                    pairs.add((min(a, b), max(a, b)))
        for c in range(5):
            for i in range(10):  # chain of 11 nodes → diameter 10
                pairs.add((1000 + c * 20 + i, 1000 + c * 20 + i + 1))
        exp = union_find_oracle(pairs)

        df = spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
        got = {
            r.doc_id: r.cluster_id for r in connected_components(df).collect()
        }
        assert got == exp

    def test_result_is_reusable_after_loop(self, spark):
        """The returned frame must not replay the iteration lineage —
        two actions on it give identical results quickly."""
        df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        out = connected_components(df)
        a = sorted((r.doc_id, r.cluster_id) for r in out.collect())
        b = sorted((r.doc_id, r.cluster_id) for r in out.collect())
        assert a == b == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]

    def test_star_matches_union_find(self, spark):
        """Every exit agrees with the union-find oracle on clustered
        blobs (each closed into a cycle, so contraction shrinks the
        edge set) + chains, for long and string ids: the local finish
        at round 0, the local finish after ≥1 distributed alternation,
        and the pure distributed alternations."""
        rng = np.random.default_rng(7)
        int_pairs = set()
        for base in range(0, 400, 20):
            members = rng.choice(range(base, base + 12), size=8, replace=False)
            for i in range(len(members)):
                a, b = int(members[i - 1]), int(members[i])
                int_pairs.add((min(a, b), max(a, b)))
        for c in range(5):
            for i in range(10):
                int_pairs.add((1000 + c * 20 + i, 1000 + c * 20 + i + 1))
        # fixed-width strings: same order as the ints
        str_pairs = {(f"v{a:05d}", f"v{b:05d}") for a, b in int_pairs}
        for id_type, pairs in (("long", int_pairs), ("string", str_pairs)):
            exp = union_find_oracle(pairs)
            df = spark.createDataFrame(
                sorted(pairs), f"id_a {id_type}, id_b {id_type}"
            )
            canon = df.select(
                F.least("id_a", "id_b").alias("lo"),
                F.greatest("id_a", "id_b").alias("hi"),
            )
            canon_bytes = canon.agg(F.sum(_row_bytes_expr(canon))).first()[0]
            local = connected_components(df)
            # fixed-width rows: the first alternation that drops an edge fits
            mid = connected_components(df, local_finish_bytes=canon_bytes - 1)
            dist = connected_components(df, local_finish_bytes=None)
            assert local._eo_cc_local_finish and local._eo_cc_rounds == 0
            assert mid._eo_cc_local_finish and mid._eo_cc_rounds >= 1
            assert not dist._eo_cc_local_finish
            for out in (local, mid, dist):
                assert {r.doc_id: r.cluster_id for r in out.collect()} == exp

    def test_star_handles_high_diameter_in_log_rounds(self, spark):
        """A 1023-node path (diameter 1022) closes in O(log n) rounds."""
        pairs = [(i, i + 1) for i in range(1022)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        # local finish disabled: the distributed alternations must close
        # the high-diameter graph within the O(log n) bound themselves
        got = connected_components(df, max_iters=15, local_finish_bytes=None)
        rows = got.collect()
        assert len(rows) == 1023
        assert all(r.cluster_id == 0 for r in rows)

    def test_unknown_algorithm_rejected(self, spark):
        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        for name in ("bfs", "label"):
            with pytest.raises(ValueError, match="algorithm"):
                connected_components(df, algorithm=name)

    def test_non_convergence_raises(self, spark):
        """A 13-node path needs 5 alternations; 2 must raise, not
        return partial labels."""
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="no convergence"):
            connected_components(df, max_iters=2, local_finish_bytes=None)

    def test_checkpoint_observed_metrics_match_direct_agg(self, spark):
        """The convergence stats that ride the checkpoint job must equal
        a direct aggregation, and the returned frame must be the durable
        checkpoint (reusable, lineage-free)."""
        df = spark.range(100).select(
            F.col("id").alias("lo"), (F.col("id") % 7).alias("hi")
        )
        ck, got = _checkpoint_observed(
            df,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("fp"),
        )
        exp = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("fp"),
        ).collect()[0]
        assert got["n"] == exp["n"] == 100
        assert got["fp"] == exp["fp"]
        assert ck.count() == 100 and ck.count() == 100  # reusable

    def test_checkpoint_observed_empty_frame_null_metrics(self, spark):
        """Aggregate metrics over an empty frame come back NULL from
        observe (no rows flowed) — callers coalesce; pin that contract."""
        df = spark.range(10).where(F.lit(False)).select(
            F.col("id").alias("lo"), F.col("id").alias("hi")
        )
        ck, got = _checkpoint_observed(
            df, F.sum(F.col("lo")).alias("changed")
        )
        assert got["changed"] is None
        assert ck.count() == 0

    def test_free_local_checkpoint_releases_blocks(self, spark):
        """_free_local_checkpoint relies on private JVM internals
        (queryExecution().logical().rdd()); if a Spark upgrade changes
        the plan shape it silently no-ops and every CC round would leak
        an O(V) snapshot — this test catches that."""
        jsc_sc = spark.sparkContext._jsc.sc()

        def n_cached():
            return len(list(jsc_sc.getRDDStorageInfo()))

        base = n_cached()
        ck = spark.range(10000).localCheckpoint(eager=True)
        assert n_cached() > base, "checkpoint should register storage"
        _free_local_checkpoint(ck)
        # unpersist(blocking=False): poll briefly for the async removal
        for _ in range(50):
            if n_cached() <= base:
                break
            time.sleep(0.1)
        assert n_cached() <= base, "checkpoint blocks were not released"


class TestRoundsIntrospection:
    def test_rounds_attribute(self, spark):
        """The result exposes the round count used and whether the
        local finish ran (the scaling evidence reports both): an 8-node
        path takes log-ish star alternations."""
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(7)], "id_a long, id_b long"
        )
        # tiny edge set → the measured-size local finish fires at once
        out2 = connected_components(path)
        assert out2._eo_cc_local_finish and out2._eo_cc_rounds == 0
        assert {r.cluster_id for r in out2.collect()} == {0}
        # budget disabled → distributed alternations run and report
        out3 = connected_components(path, local_finish_bytes=None)
        assert not out3._eo_cc_local_finish
        assert 1 <= out3._eo_cc_rounds <= 7
        assert {r.cluster_id for r in out3.collect()} == {0}


class TestLocalFinish:
    def test_local_components_matches_union_find(self):
        """The driver union-find, fed the way _finish_locally feeds it
        (edge ends, then extra ids, as one Arrow array), on a random
        graph with long and string ids."""
        import pyarrow as pa

        rng = np.random.default_rng(11)
        pairs = {(int(a), int(b)) for a, b in rng.integers(0, 300, (500, 2)) if a != b}
        extra = [1000, 1001, 1000, int(pairs.pop()[0])]  # dupes + an edged id
        for key in (int, lambda i: f"v{i:05d}"):
            edges = [(key(a), key(b)) for a, b in pairs]
            exp = union_find_oracle({(min(a, b), max(a, b)) for a, b in edges})
            for x in map(key, extra):
                exp.setdefault(x, x)
            ids = pa.array(
                [a for a, _ in edges] + [b for _, b in edges] + [key(x) for x in extra]
            )
            doc, clu = _uf_core(ids, len(edges))
            assert dict(zip(doc.tolist(), clu.tolist())) == exp

    def test_string_ids_local_equals_distributed(self, spark):
        """String ids (the image_id case): the driver-side union-find
        must produce the same min-id labels as the distributed
        alternations (UTF-8 byte order == Python code-point order)."""
        pairs = [
            (f"img-{a:04d}", f"img-{b:04d}")
            for a, b in [(3, 1), (1, 7), (20, 21), (21, 22), (40, 40)]
        ]
        df = spark.createDataFrame(pairs, "id_a string, id_b string")
        loc = connected_components(df)
        dist = connected_components(df, local_finish_bytes=None)
        assert loc._eo_cc_local_finish and not dist._eo_cc_local_finish
        as_map = lambda d: {r.doc_id: r.cluster_id for r in d.collect()}  # noqa: E731
        assert as_map(loc) == as_map(dist)
        # the self-pair-only vertex labels itself in both paths
        assert as_map(loc)["img-0040"] == "img-0040"

    def test_persisted_input_raw_round0_skips_distinct(self, spark, monkeypatch):
        """A PERSISTED pair frame takes the raw round-0 pre-measure
        path (no canonicalizing distinct before the driver collect).
        Duplicate pairs, reversed duplicates and self-pairs must all
        yield labels identical to the distributed run — the union-find
        is idempotent under duplicates and rank-maps by value."""
        pairs = [
            ("img-0003", "img-0001"),
            ("img-0001", "img-0003"),  # reversed duplicate
            ("img-0003", "img-0001"),  # exact duplicate
            ("img-0001", "img-0007"),
            ("img-0020", "img-0021"),
            ("img-0040", "img-0040"),  # self-pair-only vertex
        ]
        df = spark.createDataFrame(pairs, "id_a string, id_b string").persist()
        df.count()
        try:
            dist = connected_components(df, local_finish_bytes=None)
            # the raw path collects the input as-is: no checkpoint at all
            with monkeypatch.context() as m:
                m.setattr(cluster, "_checkpoint_observed", _no_checkpoint)
                loc = connected_components(df)
            assert loc._eo_cc_local_finish and loc._eo_cc_rounds == 0
            as_map = lambda d: {r.doc_id: r.cluster_id for r in d.collect()}  # noqa: E731
            assert as_map(loc) == as_map(dist)
            assert as_map(loc)["img-0007"] == "img-0001"
            assert as_map(loc)["img-0040"] == "img-0040"
        finally:
            df.unpersist()

    def test_midloop_trigger_after_contraction(self, spark):
        """A blob-heavy graph whose edge count collapses under
        contraction: with a budget between the initial and contracted
        sizes, the distributed loop must run ≥1 alternation and THEN
        finish locally, with labels equal to the pure-distributed run."""
        pairs = [
            (base + i, base + j)
            for base in range(0, 2000, 10)
            for i in range(10)
            for j in range(i + 1, 10)
        ]  # 200 cliques of 10 → 9000 edges, contracts to 1800
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        mid = connected_components(df, local_finish_bytes=100 * 1024)
        dist = connected_components(df, local_finish_bytes=None)
        assert mid._eo_cc_local_finish and mid._eo_cc_rounds >= 1
        as_map = lambda d: {r.doc_id: r.cluster_id for r in d.collect()}  # noqa: E731
        assert as_map(mid) == as_map(dist)
        assert len(as_map(mid)) == 2000
