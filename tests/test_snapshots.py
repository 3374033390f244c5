"""Snapshot commit / lineage / resume semantics (Iceberg-contract tests).

Mirrors the reference's idempotent skip-if-exists resume
(/root/reference/eo_tools/S1/process.py:165, S2.py:112-114) lifted to
snapshot granularity, plus the partial-pair resume contract
(process.py:2712-2749: checkpoint state must match on resume)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from eo_tools_spark.sources.snapshots import SnapshotTable


def make_batches(spark, n=4, rows=100):
    out = []
    for b in range(n):
        df = spark.range(b * rows, (b + 1) * rows).withColumn(
            "val", F.col("id") * 2
        )
        out.append((f"b{b:03d}", df))
    return out


def test_append_read_roundtrip(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t1"))
    for bid, df in make_batches(spark, 3):
        t.append_batch(df, bid)
    assert t.committed_batches() == ["b000", "b001", "b002"]
    assert t.read().count() == 300


def test_idempotent_append(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t2"))
    batches = make_batches(spark, 2)
    t.append_batch(batches[0][1], "b000")
    res = t.append_batch(batches[0][1], "b000")
    assert res.get("skipped") is True
    assert t.read().count() == 100  # no double write


def test_crash_resume_equals_oneshot(spark, tmp_path):
    batches = make_batches(spark, 4)

    # one-shot reference run
    t_ref = SnapshotTable(spark, str(tmp_path / "ref"))
    for bid, df in batches:
        t_ref.append_batch(df, bid)
    ref_rows = {r.id for r in t_ref.read().collect()}

    # crashed run: 2 batches commit, then the run dies
    t = SnapshotTable(spark, str(tmp_path / "crash"))
    for bid, df in batches[:2]:
        t.append_batch(df, bid)
    assert len(t.committed_batches()) == 2

    # resume: anti-join work list → only remaining batches run
    work = spark.createDataFrame([(b,) for b, _ in batches], "batch_id string")
    remaining = {r.batch_id for r in t.remaining_work(work, "batch_id").collect()}
    assert remaining == {"b002", "b003"}
    for bid, df in batches:
        if bid in remaining:
            t.append_batch(df, bid)
    assert {r.id for r in t.read().collect()} == ref_rows


def test_lineage_metrics(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t3"))
    for bid, df in make_batches(spark, 2):
        t.append_batch(df.repartition(4), bid)
    lin = t.lineage().toPandas()
    assert set(lin.batch_id) == {"b000", "b001"}
    assert lin.groupby("batch_id")["rows"].sum().eq(100).all()  # per-partition rows sum
    assert (lin.wall_ms >= 0).all()
    summaries = t.snapshot_summaries()
    assert all("throughput_rows_per_s" in s for s in summaries)
    assert t.lineage().schema.simpleString() == (
        "struct<_pid:int,rows:bigint,batch_id:string,wall_ms:bigint>"
    )
    # the layout is the data files and the snapshot chain, nothing else
    assert sorted(os.listdir(t.path)) == ["_snapshots", "data"]

    # one lineage row per Spark partition, with that partition's rows —
    # also when each task writes into several partition_by value dirs
    df = spark.range(0, 700).withColumn("cell", F.col("id") % 5).repartition(7)
    expected = sorted(
        (r.p, r["count"])
        for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    assert len(expected) == 7
    for name, partition_by in (("flat", None), ("cells", ["cell"])):
        tp = SnapshotTable(spark, str(tmp_path / name))
        tp.append_batch(df, "b000", partition_by=partition_by)
        assert sorted((r._pid, r.rows) for r in tp.lineage().collect()) == expected
    files = glob.glob(f"{tp.path}/data/*/cell=*/part-*.parquet")
    assert len(files) > 7  # tasks did write into several value dirs


def test_one_spark_job_per_commit(spark, tmp_path):
    """The data write is a commit's only Spark job: lineage comes from
    the written files, not from a re-read or a second table."""
    sc = spark.sparkContext
    t = SnapshotTable(spark, str(tmp_path / "jobs"))
    sc.setJobGroup("snapshot-one-job", "append_batch job count")
    try:
        t.append_batch(spark.range(0, 100), "b000")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("snapshot-one-job")) == 1


@pytest.mark.parametrize("partition_by", [None, ["cell"]])
def test_empty_batch_commits_zero_rows(spark, tmp_path, partition_by):
    """An empty batch (an AOI no image falls in) commits rows == 0 and
    no lineage rows, and the table stays readable."""
    t = SnapshotTable(spark, str(tmp_path / "emptyb"))
    df = spark.range(0, 100).withColumn("cell", F.col("id") % 5)
    t.append_batch(df, "b000", partition_by=partition_by)
    res = t.append_batch(df.where(F.col("id") < 0), "empty", partition_by=partition_by)
    assert res["rows"] == 0
    assert t.committed_batches() == ["b000", "empty"]
    assert t.lineage().where(F.col("batch_id") == "empty").count() == 0
    assert t.read().count() == 100
    assert t.read(as_of_snapshot="empty").count() == 100


def test_uncommitted_invisible(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t4"))
    batches = make_batches(spark, 2)
    t.append_batch(batches[0][1], "b000")
    # stage a batch's data without commit (crash between write and commit)
    data_dir = f"{t.path}/data/batch=zz"
    batches[1][1].write.parquet(data_dir)
    assert os.path.exists(data_dir)
    assert t.read().count() == 100  # staged-but-uncommitted not visible


class TestIcebergSeam:
    """Pins the seam contract (ICEBERG_MAPPING): the method surface a
    real Iceberg-backed implementation must reproduce, and the
    semantics each method guarantees. When a catalog becomes available,
    implement a SnapshotTable with the mapped Iceberg calls and run
    THIS class against it unchanged."""

    def test_mapping_covers_exactly_the_public_surface(self):
        from eo_tools_spark.sources.snapshots import ICEBERG_MAPPING

        public = {
            m for m in dir(SnapshotTable)
            if not m.startswith("_") and callable(getattr(SnapshotTable, m))
        }
        assert public == set(ICEBERG_MAPPING), (
            "every public SnapshotTable method needs an Iceberg mapping "
            "(and no stale mapping entries)"
        )
        for method, (iceberg_op, semantics) in ICEBERG_MAPPING.items():
            assert iceberg_op and semantics, method

    def test_time_travel_read_by_snapshot(self, spark, tmp_path):
        """read(as_of_snapshot=sid) sees batches committed at or before
        sid — Iceberg's option('snapshot-id', ...) semantics."""
        t = SnapshotTable(spark, str(tmp_path / "tt"))
        for bid, df in make_batches(spark, 3):
            t.append_batch(df, bid)
        assert t.current_snapshot_id() == "b002"
        assert t.read(as_of_snapshot="b000").count() == 100
        assert t.read(as_of_snapshot="b001").count() == 200
        assert t.read().count() == 300
        with pytest.raises(ValueError, match="unknown snapshot"):
            t.read(as_of_snapshot="nope")

    def test_current_snapshot_none_when_empty(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "empty"))
        assert t.current_snapshot_id() is None

    def test_concurrent_same_batch_exactly_one_wins(self, spark, tmp_path):
        """Optimistic-commit conflict (VERDICT r3 item 8): two writers
        stage the SAME batch id concurrently; the metadata swap admits
        exactly one, the loser discards its staged files and reports
        skipped+conflict (Iceberg: CommitFailedException -> retry ->
        no-op). Interleaving is driven deterministically through the
        stage/commit internals — both writers fully staged BEFORE
        either commits, the worst-case race."""
        from eo_tools_spark.sources.snapshots import CommitConflictError

        wa = SnapshotTable(spark, str(tmp_path / "race"))
        wb = SnapshotTable(spark, str(tmp_path / "race"))
        batches = make_batches(spark, 1)
        df = batches[0][1]

        tok_a, rows_a, ms_a = wa._stage(df, "b000")
        tok_b, rows_b, ms_b = wb._stage(df, "b000")
        wa._try_commit(
            "b000", {"batch_id": "b000", "token": tok_a,
                     "rows": 100, "wall_ms": ms_a,
                     "throughput_rows_per_s": 1.0, "committed_at": "x"},
        )
        with pytest.raises(CommitConflictError):
            wb._try_commit(
                "b000", {"batch_id": "b000", "token": tok_b,
                         "rows": 100, "wall_ms": ms_b,
                         "throughput_rows_per_s": 1.0, "committed_at": "x"},
            )
        # loser's retry through the public API: validates, skips
        res = wb.append_batch(df, "b000")
        assert res.get("skipped") is True
        # exactly the winner's rows visible — no duplication, no mix
        assert wb.read().count() == 100
        assert [s["token"] for s in wb.snapshot_summaries()] == [tok_a]
        # loser's staged files are orphans; vacuum removes only them
        removed = wb.vacuum_orphans(older_than_s=0)
        assert any(tok_b in r for r in removed)
        assert not any(tok_a in r for r in removed)
        assert wb.read().count() == 100

    def test_concurrent_same_batch_threaded(self, spark, tmp_path):
        """Eight racing writers of one batch id through the PUBLIC
        append_batch: exactly one commit, others skipped, data counted
        once."""
        import threading

        t = SnapshotTable(spark, str(tmp_path / "race8"))
        df = make_batches(spark, 1)[0][1]
        results = []
        lock = threading.Lock()

        def writer():
            w = SnapshotTable(spark, str(tmp_path / "race8"))
            r = w.append_batch(df, "b000")
            with lock:
                results.append(r)

        threads = [threading.Thread(target=writer) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        winners = [r for r in results if not r.get("skipped")]
        assert len(winners) == 1
        assert t.read().count() == 100
        t.vacuum_orphans(older_than_s=0)
        assert t.read().count() == 100

    def test_concurrent_distinct_batches_never_conflict(self, spark, tmp_path):
        """Appends of DIFFERENT batch ids commute (Iceberg append
        retry always succeeds): interleaved stage/commit of b000/b001
        both land, read() unions them."""
        wa = SnapshotTable(spark, str(tmp_path / "two"))
        wb = SnapshotTable(spark, str(tmp_path / "two"))
        batches = make_batches(spark, 2)
        tok_a, _, _ = wa._stage(batches[0][1], "b000")
        tok_b, _, _ = wb._stage(batches[1][1], "b001")
        wb._try_commit("b001", {"batch_id": "b001", "token": tok_b,
                                "rows": 100, "wall_ms": 1,
                                "throughput_rows_per_s": 1.0, "committed_at": "x"})
        wa._try_commit("b000", {"batch_id": "b000", "token": tok_a,
                                "rows": 100, "wall_ms": 1,
                                "throughput_rows_per_s": 1.0, "committed_at": "x"})
        # COMMIT order, not id order: b001's swap happened first
        assert wa.committed_batches() == ["b001", "b000"]
        assert wa.current_snapshot_id() == "b000"
        assert wa.read().count() == 200
        # time travel replays the commit sequence: as of the b001
        # snapshot only b001 existed; as of b000 (the later commit)
        # both are visible
        assert wa.read(as_of_snapshot="b001").count() == 100
        assert wa.read(as_of_snapshot="b000").count() == 200
        assert wa.vacuum_orphans(older_than_s=0) == []

    def test_crash_before_commit_then_resume(self, spark, tmp_path):
        """A writer that staged but died holds no lock: a rerun of the
        same batch id commits cleanly (no stale claim blocking resume),
        and vacuum clears the dead writer's files."""
        t = SnapshotTable(spark, str(tmp_path / "crash"))
        df = make_batches(spark, 1)[0][1]
        dead_tok, _, _ = t._stage(df, "b000")  # crash: no commit
        res = t.append_batch(df, "b000")  # resume rerun
        assert not res.get("skipped")
        assert t.read().count() == 100
        removed = t.vacuum_orphans(older_than_s=0)
        assert any(dead_tok in r for r in removed)
        assert t.read().count() == 100

    def test_vacuum_grace_window_spares_inflight_staging(self, spark, tmp_path):
        """vacuum_orphans must NOT delete a concurrent writer's freshly
        staged (not yet committed) files: only entries older than the
        grace window are swept — Iceberg remove_orphan_files'
        older_than semantics (code-review r4 finding)."""
        t = SnapshotTable(spark, str(tmp_path / "grace"))
        df = make_batches(spark, 1)[0][1]
        tok, _, _ = t._stage(df, "b000")  # in-flight: staged, no commit
        assert t.vacuum_orphans() == []   # default 24h grace: untouched
        assert os.path.isdir(f"{t.path}/data/batch=b000-{tok}")
        # the writer can still commit its staged batch afterwards
        res = t.append_batch(df, "b000")
        assert not res.get("skipped")
        assert t.read().count() == 100

    def test_vacuum_sweeps_stale_commit_tmp(self, spark, tmp_path):
        """A committer killed between writing .tmp-<id>-<token> and the
        link/unlink leaks the tmp file; vacuum removes it past the
        grace window (and never a committed snapshot json)."""
        t = SnapshotTable(spark, str(tmp_path / "tmpsweep"))
        df = make_batches(spark, 1)[0][1]
        t.append_batch(df, "b000")
        stale = f"{t.path}/_snapshots/.tmp-b001-deadbeef"
        with open(stale, "w") as f:
            f.write("{}")
        removed = t.vacuum_orphans(older_than_s=0)
        assert "_snapshots/.tmp-b001-deadbeef" in removed
        assert t.committed_batches() == ["b000"]
        assert t.read().count() == 100

    def test_commit_order_survives_timestamp_scramble(self, spark, tmp_path):
        """Commit order is DURABLE metadata (the version number in the
        snapshot filename), not inode timestamps — a copy/backup/restore
        rewrites ctimes in arbitrary order and must not reorder history
        (code-review r4 finding)."""
        import os as _os
        import time as _time

        t = SnapshotTable(spark, str(tmp_path / "scramble"))
        for bid, df in make_batches(spark, 3):
            t.append_batch(df, bid)
        before = t.committed_batches()
        assert before == ["b000", "b001", "b002"]
        # scramble every snapshot file's timestamps in reverse order
        # (what cp -r / rsync / tar restore does, nondeterministically)
        snapdir = f"{t.path}/_snapshots"
        for i, f in enumerate(reversed(sorted(_os.listdir(snapdir)))):
            _os.utime(f"{snapdir}/{f}")
            _time.sleep(0.01)
        assert t.committed_batches() == before
        assert t.current_snapshot_id() == "b002"
        assert t.read(as_of_snapshot="b001").count() == 200

    def test_leaked_tmp_hardlink_cannot_reorder_history(self, spark, tmp_path):
        """A committer killed before its finally-unlink leaves .tmp as a
        hard link of the COMMITTED snapshot json; vacuuming that tmp
        later must not change commit order (it rewrote the shared
        inode's ctime under the old timestamp ordering — code-review r4
        finding, closed by filename-version ordering)."""
        import glob as _glob
        import os as _os

        t = SnapshotTable(spark, str(tmp_path / "leak"))
        batches = make_batches(spark, 3)
        t.append_batch(batches[0][1], "b000")
        # simulate the crash: re-create the leaked tmp hard link of
        # b000's committed snapshot file
        committed = _glob.glob(f"{t.path}/_snapshots/v*.json")[0]
        _os.link(committed, f"{t.path}/_snapshots/.tmp-b000-leaked")
        t.append_batch(batches[1][1], "b001")
        t.append_batch(batches[2][1], "b002")
        removed = t.vacuum_orphans(older_than_s=0)
        assert "_snapshots/.tmp-b000-leaked" in removed
        assert t.committed_batches() == ["b000", "b001", "b002"]
        assert t.current_snapshot_id() == "b002"
        assert t.read().count() == 300

    def test_same_version_race_retries_to_next(self, spark, tmp_path, monkeypatch):
        """Two writers of DISTINCT ids racing for the SAME version
        number: the bare v<seq>.json claim makes the loser's os.link
        fail (version numbers are globally unique — the exclusivity is
        on the seq, not the filename+id pair), and the retry lands at
        the next version with both batches committed in the true
        order. The competitor is injected INSIDE the loser's
        commit window (after its listing, before its link) via an
        os.link interposer — the branch a pre-created blocker never
        reaches."""
        import json as _json
        import os as _os

        t = SnapshotTable(spark, str(tmp_path / "vrace"))
        batches = make_batches(spark, 2)
        tok_a, _, _ = t._stage(batches[0][1], "b000")

        real_link = _os.link
        state = {"raced": False}

        def racing_link(src, dst, **kw):
            if not state["raced"] and "/_snapshots/v" in dst:
                state["raced"] = True
                # competitor commits THIS version first, mid-window
                comp = f"{t.path}/_snapshots/.tmp-competitor"
                with open(comp, "w") as f:
                    _json.dump({"batch_id": "b999", "rows": 0, "wall_ms": 0}, f)
                real_link(comp, dst)
                _os.unlink(comp)
            return real_link(src, dst, **kw)  # loser: FileExistsError

        monkeypatch.setattr(_os, "link", racing_link)
        t._try_commit("b000", {"batch_id": "b000", "token": tok_a,
                               "rows": 100, "wall_ms": 1,
                               "throughput_rows_per_s": 1.0, "committed_at": "x"})
        monkeypatch.undo()
        assert t.committed_batches() == ["b999", "b000"]
        # versions are contiguous and unique
        names = sorted(
            f for f in _os.listdir(f"{t.path}/_snapshots") if f.startswith("v")
        )
        assert names == [f"v{0:012d}.json", f"v{1:012d}.json"]

    def test_reserved_batch_ids_rejected(self, spark, tmp_path):
        """Ids that would collide with the versioned-snapshot namespace
        or escape the directory layout are rejected up front."""
        t = SnapshotTable(spark, str(tmp_path / "resv"))
        df = make_batches(spark, 1)[0][1]
        for bad in ("", ".hidden", "a/b", "v000000000042"):
            with pytest.raises(ValueError, match="batch_id"):
                t.append_batch(df, bad)
        # non-reserved lookalikes are fine
        assert not t.append_batch(df, "v42").get("skipped")

    def test_reserved_column_names_rejected(self, spark, tmp_path):
        """Regression (round-6 review): a DATA column named `batch`
        collides with read()'s basePath-inferred partition column from
        the data/batch=<id>/ layout (duplicate-column error or silent
        drop) — refuse loudly at write time."""
        t = SnapshotTable(spark, str(tmp_path / "rescol"))
        df = make_batches(spark, 1)[0][1]
        bad = df.withColumn("batch", df[df.columns[0]])
        with pytest.raises(ValueError, match="reserved"):
            t.append_batch(bad, "b-ok")
        # the clean frame still writes
        assert not t.append_batch(df, "b-ok").get("skipped")

    def test_unreadable_snapshot_fails_safe(self, spark, tmp_path):
        """A committed-but-unreadable snapshot must RAISE, not be
        silently skipped: skipping would let vacuum delete committed
        data and a resume re-commit the batch id (code-review r4
        finding). Fresh instance: the parsed-summary memo must not mask
        the corruption."""
        t = SnapshotTable(spark, str(tmp_path / "corrupt"))
        batches = make_batches(spark, 2)
        t.append_batch(batches[0][1], "b000")
        t.append_batch(batches[1][1], "b001")
        vfile = f"{t.path}/_snapshots/v{1:012d}.json"
        with open(vfile, "w") as f:
            f.write("{ not json")
        t2 = SnapshotTable(spark, str(tmp_path / "corrupt"))
        with pytest.raises(RuntimeError, match="unreadable committed snapshot"):
            t2.committed_batches()
        with pytest.raises(RuntimeError, match="unreadable committed snapshot"):
            t2.vacuum_orphans(older_than_s=0)
        with pytest.raises(RuntimeError, match="unreadable committed snapshot"):
            t2.append_batch(batches[1][1], "b001")  # no silent re-commit
