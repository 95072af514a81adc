"""Table metadata layer: snapshots, manifests, atomic commits.

Layout of a table rooted at ``root``::

    root/
      data/<commit-tag>/<partition>/*.parquet   # immutable data files
      metadata/
        snap-<id>.json          # immutable snapshot descriptor
        manifest-<id>/*.parquet # per-file stats for that snapshot
        VERSION                 # current snapshot id (atomic rename swap)
        lineage/<job>.jsonl     # per-partition progress log (lineage.py)

Snapshot isolation: a reader pinned to snapshot S resolves S's manifest
and therefore S's exact file set; maintenance jobs write NEW files and
NEW manifests and only then swap VERSION, so concurrent readers of
older snapshots are unaffected until those snapshots are expired
(expire.py). Commit uses an O_EXCL lock file plus a
compare-and-swap on the parent snapshot id, then an atomic
``os.rename`` of the VERSION pointer — single-writer semantics with
conflict detection, the same contract Iceberg gets from its catalog CAS.

Manifests are read, planned over and written on the driver in Arrow at
every size (``manifest_table``, ``commit_delta``), as Iceberg plans
normal tables: the rows a plan uses land on the driver in any case.

Semantics precedent in the reference: Delta snapshot/retention knobs at
spark/SparkSessionManager.scala:59-74 (retentionDurationCheck,
optimizeWrite/autoCompact, dynamic partition overwrite).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# The target table schema (BASELINE.json input_hint).
TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)

# Per-data-file manifest entry. zkey stats are null until a clustering
# rewrite stamps them (clustering.py).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("partition", T.StringType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_bytes", T.LongType()),
        T.StructField("min_doc_id", T.StringType()),
        T.StructField("max_doc_id", T.StringType()),
        T.StructField("min_n_tok", T.IntegerType()),
        T.StructField("max_n_tok", T.IntegerType()),
        T.StructField("min_zkey", T.LongType()),
        T.StructField("max_zkey", T.LongType()),
    ]
)


# The same schema for driver-side manifest IO: every manifest part is
# read and written with it.
MANIFEST_ARROW = to_arrow_schema(MANIFEST_SCHEMA)

# A scheme-prefixed local path (file:///x, file:/x) names the same file
# as the plain path (/x); manifest paths are compared without it.
_SCHEME = r"^file:(//)?"


class SnapshotConflict(RuntimeError):
    """Raised when a commit loses the CAS race on the VERSION pointer."""


# A commit's critical section is two metadata writes (~ms); a lock this
# old belongs to a crashed process and is safe to break.
LOCK_STALE_S = 30.0


def _read_lock(lock: "Path") -> str:
    try:
        return lock.read_text().strip()
    except OSError:
        return "<unreadable>"


class TokenTable:
    """Handle to one lakehouse table on a filesystem path."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.data_dir = self.root / "data"
        self.meta_dir = self.root / "metadata"

    # ---------------------------------------------------------- layout
    @property
    def version_file(self) -> Path:
        return self.meta_dir / "VERSION"

    def snapshot_path(self, snapshot_id: int) -> Path:
        return self.meta_dir / f"snap-{snapshot_id}.json"

    def new_data_dir(self, tag: str | None = None) -> Path:
        """A unique directory for one commit's new data files.

        A deterministic ``tag`` (e.g. ``compact-snap3``) makes resumed
        jobs idempotent: the rerun overwrites the same location.
        """
        d = self.data_dir / (tag or uuid.uuid4().hex[:12])
        return d

    # ------------------------------------------------------- lifecycle
    @classmethod
    def create(cls, root: str | Path) -> "TokenTable":
        """Initialise an empty table (snapshot 0, empty manifest)."""
        t = cls(root)
        t.meta_dir.mkdir(parents=True, exist_ok=True)
        t.data_dir.mkdir(parents=True, exist_ok=True)
        snap = {
            "snapshot_id": 0,
            "parent_id": None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "create",
            "manifest": None,
            "summary": {},
        }
        t.snapshot_path(0).write_text(json.dumps(snap, indent=1))
        _atomic_write(t.version_file, "0")
        return t

    def exists(self) -> bool:
        return self.version_file.exists()

    # --------------------------------------------------------- reading
    def current_snapshot_id(self) -> int:
        return int(self.version_file.read_text().strip())

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        return json.loads(self.snapshot_path(sid).read_text())

    def snapshots(self) -> list[dict]:
        out = []
        for p in sorted(self.meta_dir.glob("snap-*.json")):
            out.append(json.loads(p.read_text()))
        return sorted(out, key=lambda s: s["snapshot_id"])

    def snapshot_for_job(self, job_tag: str) -> dict | None:
        """The snapshot a maintenance job already published, if any.

        Maintenance commits stamp their ``job_tag`` into the snapshot
        summary before the VERSION swap. A replayed job whose lineage
        log lacks a 'committed' event (crash in the window between the
        swap and the fsync'd lineage append) finds its published
        snapshot here instead of re-committing the same manifest rows —
        closing the duplicate-commit window in the exactly-once
        protocol. Newest match wins (job_tags are unique per job, so at
        most one exists).
        """
        for snap in reversed(self.snapshots()):
            if snap.get("summary", {}).get("job_tag") == job_tag:
                return snap
        return None

    def manifest_df(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """The manifest of a snapshot as a DataFrame (metadata-level plan
        input): ``manifest_table`` handed to Spark as a local relation, so
        filters and projections over it (``clustering.prune_files``) fold
        into it on the driver and collecting them runs no Spark job.
        Above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB
        of Arrow batches) Spark distributes the table as an RDD instead."""
        return spark.createDataFrame(self.manifest_table(snapshot_id), MANIFEST_SCHEMA)

    def data_files(self, spark: SparkSession, snapshot_id: int | None = None) -> list[str]:
        """File list of a snapshot. Driver-side planning, like Iceberg's."""
        return self.manifest_table(snapshot_id)["file_path"].to_pylist()

    def _manifest_files(self, snapshot_id: int | None = None) -> list[str]:
        snap = self.snapshot(snapshot_id)
        if snap["manifest"] is None:
            return []
        return list_parquet_files(self.root / snap["manifest"])

    def manifest_row_count(self, snapshot_id: int | None = None) -> int:
        """Snapshot file count from the manifest parquet FOOTERS only —
        driver-side metadata reads, no Spark job, no data pages."""
        return sum(pq.ParquetFile(f).metadata.num_rows for f in self._manifest_files(snapshot_id))

    def manifest_table(self, snapshot_id: int | None = None) -> pa.Table:
        """The manifest of a snapshot as one Arrow table (``MANIFEST_ARROW``;
        empty when the snapshot has no manifest).

        The one manifest read: every planner filters it with
        ``pyarrow.compute`` on the driver and turns only the rows and
        columns its plan uses into Python objects — no Spark job, and
        no per-row Python over the whole manifest.
        """
        files = self._manifest_files(snapshot_id)
        if not files:
            return MANIFEST_ARROW.empty_table()
        return pa.concat_tables(pq.read_table(f, schema=MANIFEST_ARROW) for f in files)

    def manifest_paths(self, snapshot_id: int | None = None) -> set[str]:
        """Scheme-normalized ``file_path`` set of a snapshot's manifest —
        the reachability input of expiry and orphan GC."""
        return set(_strip_scheme_arrow(self.manifest_table(snapshot_id)["file_path"]).to_pylist())

    def manifest_records(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> list[dict]:
        """Every manifest row as a dict (``manifest_table`` as Python
        objects; planners filter the table before converting instead)."""
        return self.manifest_table(snapshot_id).to_pylist()

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot-pinned table scan.

        File-level min/max pruning happens BEFORE Catalyst sees the
        scan: callers filter the manifest on the driver (``manifest_table``
        in the maintenance planners, ``prune_files`` over ``manifest_df``
        for reads; neither runs a Spark job) and pass the surviving
        ``files``. Catalyst still gets row-group pruning + column pruning
        on the parquet scan itself.
        """
        if files is None:
            files = self.data_files(spark, snapshot_id)
        if not files:
            return spark.createDataFrame([], TOKEN_SCHEMA)
        # Explicit schema: skips schema inference listing AND tolerates
        # extra physical columns (e.g. a persisted zkey) in some files.
        return spark.read.schema(TOKEN_SCHEMA).parquet(*files)

    # ------------------------------------------------------ committing
    def commit_delta(
        self,
        removed_files: list[str],
        new_rows: list[dict],
        operation: str,
        summary: dict | None = None,
        parent_id: int | None = None,
    ) -> int:
        """Commit ``parent manifest − removed_files + new_rows`` atomically.

        The manifest-delta shape every maintenance op produces, assembled
        and written on the driver in Arrow: the parent manifest minus the
        removed paths (compared scheme-normalized, so ``file:///x``
        removes ``/x``), plus the new rows, as one parquet part. CAS on
        ``parent_id``: if another writer advanced VERSION since the
        caller planned against it, raise SnapshotConflict (the caller
        replans, like Iceberg optimistic concurrency).
        """
        expected_parent = self.current_snapshot_id() if parent_id is None else parent_id
        new_id = expected_parent + 1
        parent = self.manifest_table(expected_parent)
        removed = pa.array({_strip_scheme(f) for f in removed_files}, pa.string())
        keep = parent.filter(
            pc.invert(pc.is_in(_strip_scheme_arrow(parent["file_path"]), value_set=removed))
        )
        tbl = pa.concat_tables([keep, pa.Table.from_pylist(new_rows, schema=MANIFEST_ARROW)])
        # Written before the commit lock, to a path UNIQUE to this
        # attempt: racing writers from the same parent must not share
        # manifest paths (the CAS loser would clobber the winner's
        # committed manifest).
        rel = f"metadata/manifest-{new_id}-{uuid.uuid4().hex[:8]}"
        out_dir = self.root / rel
        out_dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(tbl, out_dir / "part-00000.parquet")
        return self._publish(rel, expected_parent, new_id, operation, summary)

    def _publish(
        self,
        manifest_rel: str,
        expected_parent: int,
        new_id: int,
        operation: str,
        summary: dict | None,
    ) -> int:
        """The locked CAS critical section of a commit.

        Locking protocol (single-writer with crash recovery):
        - acquire: O_EXCL create of COMMIT.lock carrying a UNIQUE token;
        - stale break: a lock older than LOCK_STALE_S is stolen by
          atomically ``os.rename``-ing it aside — rename has exactly one
          winner, so two waiters can never both clear the path (the old
          unlink-based break let waiter B delete waiter A's fresh lock).
          The thief re-reads the renamed file and, if the token is NOT
          the one it observed as stale (the pathological window where the
          rename landed on a just-recreated lock), renames it back;
        - fence: before the two metadata writes the committer re-reads
          the lock and verifies its own token — a stolen lock aborts the
          commit (SnapshotConflict) instead of double-publishing.
        """
        snap = {
            "snapshot_id": new_id,
            "parent_id": expected_parent,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "manifest": manifest_rel,
            "summary": summary or {},
        }
        lock = self.meta_dir / "COMMIT.lock"
        token = f"pid={os.getpid()} token={uuid.uuid4().hex}"
        fd = None
        committed = False
        try:
            deadline = time.time() + 60
            while True:
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, token.encode())
                    os.fsync(fd)
                    break
                except FileExistsError:
                    try:
                        observed = _read_lock(lock)
                        if time.time() - os.path.getmtime(lock) > LOCK_STALE_S:
                            aside = lock.with_name(
                                f"COMMIT.lock.stale-{uuid.uuid4().hex[:8]}"
                            )
                            os.rename(lock, aside)  # atomic: one thief wins
                            if _read_lock(aside) == observed:
                                os.unlink(aside)  # confirmed stale — gone
                            else:
                                # rename landed on a freshly recreated
                                # lock — give it back. link (not rename)
                                # so an even newer lock created in this
                                # window is never clobbered: on EEXIST
                                # the newest owner keeps its live lock
                                # and the aside owner's fence aborts it
                                # safely.
                                try:
                                    os.link(aside, lock)
                                except FileExistsError:
                                    pass
                                os.unlink(aside)
                            continue
                    except FileNotFoundError:
                        continue
                    if time.time() > deadline:
                        raise SnapshotConflict(
                            f"commit lock held too long: {lock} "
                            f"(contents: {_read_lock(lock)}; if the owner is dead, "
                            f"delete the lock file manually)"
                        )
                    time.sleep(0.05)
            # fence: abort if our lock was stolen between create and here
            if _read_lock(lock) != token:
                raise SnapshotConflict(
                    f"commit lock stolen mid-commit (now held by {_read_lock(lock)})"
                )
            if self.current_snapshot_id() != expected_parent:
                raise SnapshotConflict(
                    f"expected parent {expected_parent}, VERSION moved to "
                    f"{self.current_snapshot_id()}"
                )
            self.snapshot_path(new_id).write_text(json.dumps(snap, indent=1))
            _atomic_write(self.version_file, str(new_id))
            committed = True
        finally:
            if fd is not None:
                os.close(fd)
                try:
                    if _read_lock(lock) == token:  # never delete a thief's lock
                        os.unlink(lock)
                except FileNotFoundError:
                    pass
            if not committed:
                # CAS loser: remove this attempt's orphan manifest so it
                # can't be mistaken for live metadata.
                mdir = self.root / manifest_rel
                if mdir.is_dir():
                    for p in sorted(mdir.rglob("*"), reverse=True):
                        p.unlink()
                    mdir.rmdir()
        return new_id


def _strip_scheme(p: str) -> str:
    return re.sub(_SCHEME, "", p)


def _strip_scheme_arrow(paths: pa.ChunkedArray) -> pa.ChunkedArray:
    return pc.replace_substring_regex(paths, _SCHEME, "")


def _atomic_write(path: Path, content: str) -> None:
    tmp = path.with_name(path.name + f".tmp-{uuid.uuid4().hex[:8]}")
    tmp.write_text(content)
    os.rename(tmp, path)  # atomic on POSIX


def list_parquet_files(directory: str | Path) -> list[str]:
    """Recursively list parquet data files under a directory."""
    return sorted(
        str(p)
        for p in Path(directory).rglob("*.parquet")
        if not p.name.startswith("_") and not p.name.startswith(".")
    )
