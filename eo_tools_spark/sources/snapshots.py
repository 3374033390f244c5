"""Snapshot/lineage table layer — Iceberg-semantics checkpoint & resume.

The north rule requires runs resumable from per-partition checkpoints in
Iceberg snapshots with lineage + throughput metrics per partition. This
container has no Iceberg runtime jar (no network), so this module
implements the SAME commit contract on local parquet behind a seam that
makes the swap-in mechanical once a real catalog is available — see
ICEBERG_MAPPING below for the exact method → Iceberg-operation table
(pinned by tests/test_snapshots.py::TestIcebergSeam). The swap point is
this one class: callers never touch the storage layout.

Commit protocol (mirrors Iceberg's snapshot semantics). A table is two
directories, ``data/`` and ``_snapshots/``:
- a batch's data lands under ``data/batch=<id>-<token>/``, the token
  unique per writer (invisible until committed);
- the commit point is an exclusive hard link of the batch's summary
  json to the next free ``_snapshots/v<seq>.json`` (Iceberg's
  metadata.json version chain). Readers only see committed batches.
- the summary carries the batch's lineage: rows per Spark partition,
  wall time and throughput, as Iceberg keeps per-partition counts in
  snapshot metadata rather than in a second table.
- appends are idempotent per batch id → resume = anti-join of the work
  list against committed batch ids (exactly the reference's
  skip-if-exists idempotency: eo_tools/S1/process.py:165, S2.py:112-114,
  DEM cache core.py:319-335 — lifted from files to snapshots).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F


class CommitConflictError(RuntimeError):
    """Another writer committed this snapshot id first (Iceberg:
    CommitFailedException from the losing metadata swap)."""

#: The seam contract: each SnapshotTable method and the Iceberg
#: operation a real-catalog implementation performs instead. Each entry
#: is (method, iceberg_operation, semantics both must satisfy).
#: tests/test_snapshots.py::TestIcebergSeam pins the method surface AND
#: the semantics column, so a drop-in Iceberg implementation can be
#: validated against the same test.
ICEBERG_MAPPING: dict[str, tuple[str, str]] = {
    "append_batch": (
        "df.writeTo(table).option('snapshot-property.batch_id', id).append()",
        "atomic visible-or-invisible commit; idempotent per batch_id "
        "(already-committed ids are skipped, returning skipped=True); "
        "OPTIMISTIC CONCURRENCY: two interleaved writers of the same "
        "batch_id both stage data files, exactly ONE wins the atomic "
        "metadata swap, the loser's retry re-validates, finds the id "
        "committed, discards its own staged files and returns "
        "skipped+conflict (Iceberg: CommitFailedException -> retry "
        "loop -> no-op); writers of DISTINCT batch_ids never conflict "
        "(appends commute)",
    ),
    "committed_batches": (
        "SELECT summary['batch_id'] FROM table.snapshots ORDER BY committed_at",
        "only committed batch ids, in commit order",
    ),
    "current_snapshot_id": (
        "table.currentSnapshot().snapshotId()",
        "id of the latest committed snapshot, None when empty",
    ),
    "read": (
        "spark.read.option('snapshot-id', sid).table(table)  # or bare read",
        "all rows of batches committed AT OR BEFORE the requested "
        "snapshot (time travel); latest snapshot when unspecified; "
        "uncommitted/in-flight data never visible",
    ),
    "lineage": (
        "spark.read.table(table + '.partitions')  # metadata table",
        "per-partition rows + wall-clock metrics for committed batches, "
        "read from snapshot metadata with no data scan",
    ),
    "snapshot_summaries": (
        "SELECT summary FROM table.snapshots",
        "one summary dict per committed snapshot (rows, wall_ms, "
        "throughput, committed_at)",
    ),
    "remaining_work": (
        "work.join(spark.read.table(table + '.snapshots'), anti)",
        "anti-join of the work list against committed batch ids — the "
        "crash-resume plan",
    ),
    "vacuum_orphans": (
        "CALL catalog.system.remove_orphan_files(table => ...)",
        "delete staged data files no committed snapshot references "
        "(crashed or conflict-losing writers leave them); committed "
        "data untouched",
    ),
}


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        os.makedirs(f"{self.path}/_snapshots", exist_ok=True)
        # committed snapshot files are immutable once linked, so their
        # parsed summaries are memoized per filename — committed_batches
        # / append_batch idempotency / read stay O(new files) in file
        # IO instead of re-parsing the whole chain every call
        self._summary_memo: dict[str, dict] = {}

    # ------------------------------------------------------------ state

    #: width of the version number in snapshot filenames
    _SEQ_DIGITS = 12

    @classmethod
    def _parse_seq(cls, fname: str) -> int | None:
        """Version number for an exactly-versioned snapshot filename
        (``v<_SEQ_DIGITS digits>.json``), else None. THE single parse —
        _summaries and _next_seq must never disagree on what counts as
        a version, or a lookalike name could inflate the sequence into
        names this parse then rejects."""
        if not fname.endswith(".json") or fname.startswith(".tmp"):
            return None
        name = fname[: -len(".json")]
        n = cls._SEQ_DIGITS
        if len(name) == n + 1 and name[0] == "v" and name[1:].isdigit():
            return int(name[1:])
        return None

    def _summary(self, fname: str) -> dict:
        """Parsed summary of the committed snapshot ``fname``, memoized.

        FAIL-SAFE: an unreadable committed snapshot RAISES instead of
        being skipped — pretending a commit doesn't exist would let
        vacuum delete its data and let a resume re-commit its batch id
        (duplicate rows). Snapshot files are never deleted, so there is
        no benign race that makes one unreadable."""
        got = self._summary_memo.get(fname)
        if got is None:
            path = f"{self.path}/_snapshots/{fname}"
            try:
                with open(path) as f:
                    got = json.load(f)
                if "batch_id" not in got:
                    raise ValueError("summary has no batch_id")
            except (OSError, ValueError) as e:
                raise RuntimeError(
                    f"unreadable committed snapshot {path} — refusing to "
                    f"treat the chain as shorter than it is ({e!r})"
                ) from e
            self._summary_memo[fname] = got
        return got

    def _summaries(self) -> list[dict]:
        """Summary of every committed snapshot, in COMMIT order. The
        order key is the version number that IS the filename
        (``v<seq>.json``; the batch id lives inside the json) — DURABLE
        table metadata that survives copy/backup/restore, unlike file
        timestamps (any cp/rsync/tar rewrites ctime in arbitrary
        order). The bare-version filename also makes the commit link's
        exclusivity a claim on the VERSION NUMBER itself: two writers —
        any batch ids — cannot both hold seq N. The returned dicts are
        the memoized ones: callers must not mutate them."""
        versions = sorted(
            (seq, f)
            for f in os.listdir(f"{self.path}/_snapshots")
            if (seq := self._parse_seq(f)) is not None
        )
        return [self._summary(f) for _, f in versions]

    def committed_batches(self) -> list[str]:
        """Committed batch ids in COMMIT order (Iceberg: snapshots
        ORDER BY committed_at) — concurrent writers of distinct ids can
        commit out of lexicographic order, and time travel must replay
        the commit sequence, not the id alphabet."""
        return [s["batch_id"] for s in self._summaries()]

    def _next_seq(self) -> int:
        """Next free version number, derived from the RAW directory
        listing (the same exact parse as _summaries) — never from
        loaded/filtered entries, so an occupied version can never be
        re-proposed and the commit retry always makes progress."""
        seqs = [
            s
            for s in map(self._parse_seq, os.listdir(f"{self.path}/_snapshots"))
            if s is not None
        ]
        return (max(seqs) + 1) if seqs else 0

    def _try_commit(self, batch_id: str, summary: dict) -> None:
        """Atomic EXCLUSIVE metadata swap, Iceberg's metadata-version
        chain on a filesystem: the committer claims the NEXT version
        number by hard-linking its summary to the bare ``v<seq>.json``
        — ``os.link`` fails with FileExistsError when ANY other writer
        (same or different batch id) holds that version, so version
        numbers are globally unique and the total commit order is
        well-defined. The loop retries at the next number after
        re-validating that ``batch_id`` itself is still uncommitted
        (two writers of the SAME id: the loser's retry sees the id
        committed and raises CommitConflictError — Iceberg's
        CommitFailedException → retry → validation-fails path). The
        version number in the FILENAME is what orders commits: durable,
        copy-safe, no reliance on inode timestamps (which a leaked tmp
        hard-link's later unlink would rewrite)."""
        snapdir = f"{self.path}/_snapshots"
        tmp = f"{snapdir}/.tmp-{batch_id}-{summary['token']}"
        with open(tmp, "w") as f:
            json.dump(summary, f)
        try:
            while True:
                if batch_id in self.committed_batches():
                    raise CommitConflictError(
                        f"snapshot {batch_id!r} was committed by another writer"
                    )
                seq = self._next_seq()
                target = f"{snapdir}/v{seq:0{self._SEQ_DIGITS}d}.json"
                try:
                    os.link(tmp, target)  # atomic commit point
                    return
                except FileExistsError:
                    continue  # lost THIS version to some writer; retry
        finally:
            os.unlink(tmp)

    # ----------------------------------------------------------- writes

    def _stage(
        self,
        df: DataFrame,
        batch_id: str,
        partition_by: list[str] | None = None,
    ) -> tuple[str, list[list[int]], int]:
        """Write the batch's data under a UNIQUE token (never visible to
        readers — read() resolves directories through committed
        snapshot summaries only); return ``(token, [[pid, rows], ...],
        wall_ms)`` for the summary. The write is the only Spark job
        (_partition_rows). Mirrors Iceberg writing immutable data files
        before the metadata swap; a crashed or losing writer leaves
        only orphan files (vacuum_orphans).

        ``partition_by`` lays the batch out in Hive-style value
        directories (Iceberg: an identity partition spec on those
        columns) so downstream equality/IN filters on them prune at the
        FILE level — the reader never opens non-matching partitions."""
        token = uuid.uuid4().hex[:12]
        t0 = time.time()
        data_dir = f"{self.path}/data/batch={batch_id}-{token}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        partitions = _partition_rows(data_dir)
        return token, partitions, int((time.time() - t0) * 1000)

    def append_batch(
        self,
        df: DataFrame,
        batch_id: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Write one batch; idempotent (already-committed ids are
        skipped). Records per-(spark)partition lineage metrics: rows and
        wall-clock write time.

        Concurrency (see ICEBERG_MAPPING): staged files are private per
        writer; the snapshot swap is exclusive, so of two interleaved
        writers of the SAME batch_id exactly one commits — the loser
        discards its staged files and returns
        ``{"skipped": True, "conflict": True}`` (the Iceberg retry
        outcome). Writers of distinct batch_ids never conflict."""
        # ids become file/dir name components and must never look like
        # a snapshot version name (v<12 digits>)
        if (
            not batch_id
            or batch_id.startswith(".")
            or "/" in batch_id
            or re.fullmatch(r"v\d{%d}" % self._SEQ_DIGITS, batch_id)
        ):
            raise ValueError(f"invalid batch_id {batch_id!r} (reserved/unsafe)")
        # `batch` is a reserved name: the on-disk layout is
        # data/batch=<id>-<token>/, so read()'s basePath-anchored
        # partition discovery infers a synthetic `batch` column and
        # drops it — a DATA column of that name would collide (Spark
        # duplicate-column error at read, or a silent drop). Refuse
        # loudly at write time.
        if "batch" in df.columns:
            raise ValueError(
                "column name 'batch' is reserved by the snapshot layout "
                "(data/batch=<id>-<token>/ dirs) — rename before append_batch"
            )
        if batch_id in self.committed_batches():
            return {"batch_id": batch_id, "skipped": True}
        token, partitions, wall_ms = self._stage(df, batch_id, partition_by)
        n_rows = sum(rows for _, rows in partitions)
        try:
            self._try_commit(
                batch_id,
                {
                    "batch_id": batch_id,
                    "token": token,
                    "rows": n_rows,
                    "wall_ms": wall_ms,
                    "throughput_rows_per_s": round(n_rows / max(wall_ms, 1) * 1000, 1),
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "partitions": partitions,
                },
            )
        except CommitConflictError:
            shutil.rmtree(
                f"{self.path}/data/batch={batch_id}-{token}", ignore_errors=True
            )
            return {"batch_id": batch_id, "skipped": True, "conflict": True}
        return {"batch_id": batch_id, "rows": n_rows, "wall_ms": wall_ms}

    def vacuum_orphans(self, older_than_s: float = 86400.0) -> list[str]:
        """Delete staged data directories (and stale commit tmp files)
        no committed snapshot references — crashed or
        conflict-losing writers leave them (Iceberg:
        remove_orphan_files). Returns the removed names.

        ``older_than_s`` is the SAME grace window Iceberg's
        remove_orphan_files uses (its ``older_than``): a concurrent
        writer that has staged but not yet committed looks exactly like
        an orphan, so only entries whose mtime is at least this old are
        touched. The grace window is the PRIMARY guard; as a narrowing
        backstop, the live set is refreshed immediately before each
        deletion (cheap: committed snapshots are immutable and their
        parsed summaries memoized, so a refresh re-parses only files
        that appeared since the last look), which spares a writer that
        committed mid-vacuum — but a commit landing in the instants
        between that refresh and the rmtree is still lost, so pass a
        window comfortably longer than any writer can be suspended, and
        0 only when no writer can be active."""

        def refresh_live() -> set[str]:
            return {f"batch={s['batch_id']}-{s['token']}" for s in self._summaries()}

        live = refresh_live()
        cutoff = time.time() - older_than_s
        removed = []
        root = f"{self.path}/data"
        for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            full = f"{root}/{d}"
            if d.startswith("batch=") and d not in live:
                try:
                    old = os.path.getmtime(full) <= cutoff
                except OSError:
                    continue  # raced a conflict loser's own rmtree
                if not old:
                    continue
                # narrow the commit-mid-vacuum window
                live = refresh_live()
                if d in live:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed.append(f"data/{d}")
        # a committer killed between json.dump and the finally-unlink
        # leaks its .tmp file; nothing else ever removes it
        snapdir = f"{self.path}/_snapshots"
        for f in sorted(os.listdir(snapdir)):
            full = f"{snapdir}/{f}"
            if f.startswith(".tmp-"):
                try:
                    if os.path.getmtime(full) <= cutoff:
                        os.unlink(full)
                        removed.append(f"_snapshots/{f}")
                except OSError:
                    pass  # raced the committer's own finally-unlink
        return removed

    # ------------------------------------------------------------ reads

    def current_snapshot_id(self) -> str | None:
        """Latest committed snapshot id (Iceberg: currentSnapshot())."""
        batches = self.committed_batches()
        return batches[-1] if batches else None

    def read(self, as_of_snapshot: str | None = None) -> DataFrame:
        """Committed data; with ``as_of_snapshot`` only batches committed
        at or before that snapshot (Iceberg time travel,
        ``option('snapshot-id', ...)``). Uncommitted batch dirs are
        invisible either way."""
        # ONE directory listing yields the commit order and the
        # summaries. Directories resolve THROUGH the committed
        # summaries (the snapshot's token names the data dir) — staged/
        # orphan dirs are structurally invisible, not merely
        # convention-invisible.
        summaries = self._summaries()
        batches = [s["batch_id"] for s in summaries]
        if as_of_snapshot is not None:
            if as_of_snapshot not in batches:
                raise ValueError(f"unknown snapshot {as_of_snapshot!r}")
            summaries = summaries[: batches.index(as_of_snapshot) + 1]
        if not summaries:
            raise ValueError("no committed snapshots")
        paths = [
            f"{self.path}/data/batch={s['batch_id']}-{s['token']}" for s in summaries
        ]
        # basePath anchors partition discovery at data/: without it,
        # TWO committed batches that are themselves Hive-partitioned
        # (e.g. the IVF index's cell=N dirs after an incremental
        # append) make Spark infer conflicting directory structures.
        # The synthetic `batch` partition column this introduces is an
        # internal detail of the layout — dropped here.
        return (
            self.spark.read.option("basePath", f"{self.path}/data")
            .parquet(*paths)
            .drop("batch")
        )

    def lineage(self) -> DataFrame:
        """One row per (committed batch, Spark partition that wrote
        rows), built from the snapshot summaries; ``wall_ms`` is the
        batch's, repeated on each of its partitions."""
        return self.spark.createDataFrame(
            [
                (pid, rows, s["batch_id"], s["wall_ms"])
                for s in self._summaries()
                for pid, rows in s["partitions"]
            ],
            "_pid int, rows long, batch_id string, wall_ms long",
        )

    def snapshot_summaries(self) -> list[dict]:
        # copies: the memoized dicts must not be mutated by callers
        return [dict(s) for s in self._summaries()]

    # ----------------------------------------------------------- resume

    def remaining_work(self, work: DataFrame, batch_col: str) -> DataFrame:
        """Anti-join the work list against committed batches — the resume
        plan. (With real Iceberg this is the same anti-join against the
        snapshot lineage table.)"""
        committed = self.spark.createDataFrame(
            [(b,) for b in self.committed_batches()] or [(None,)],
            f"{batch_col} string",
        ).where(F.col(batch_col).isNotNull())
        return work.join(committed, batch_col, "left_anti")


_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet")


def _partition_rows(data_dir: str) -> list[list[int]]:
    """``[[pid, rows], ...]`` of the parquet files under ``data_dir``,
    by ascending pid, without partitions that wrote no rows (as
    ``groupBy(spark_partition_id()).count()`` has them). Spark names
    each data file ``part-<task partition id>-<job uuid>...``
    (FileCommitProtocol.getFilename), so the name says which partition
    wrote the file and its footer how many rows: no re-read of the data
    and no Spark job. A task's files in several ``partition_by`` value
    dirs sum into its row. The table is local-filesystem-only (os.link
    commit), so the driver reads the footers directly."""
    rows: dict[int, int] = {}
    for root, _, files in os.walk(data_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue  # checksums, _SUCCESS
            m = _PART_FILE.fullmatch(f)
            if m is None:
                raise RuntimeError(f"data file {root}/{f} names no task partition")
            pid = int(m.group(1))
            rows[pid] = rows.get(pid, 0) + pq.read_metadata(f"{root}/{f}").num_rows
    return [[pid, n] for pid, n in sorted(rows.items()) if n]
