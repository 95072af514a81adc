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

Semantics precedent in the reference: Delta snapshot/retention knobs at
spark/SparkSessionManager.scala:59-74 (retentionDurationCheck,
optimizeWrite/autoCompact, dynamic partition overwrite).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _manifest_arrow_schema():
    """MANIFEST_SCHEMA as a pyarrow schema (driver-side manifest IO)."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("file_path", pa.string(), nullable=False),
            pa.field("partition", pa.string()),
            pa.field("record_count", pa.int64()),
            pa.field("file_bytes", pa.int64()),
            pa.field("min_doc_id", pa.string()),
            pa.field("max_doc_id", pa.string()),
            pa.field("min_n_tok", pa.int32()),
            pa.field("max_n_tok", pa.int32()),
            pa.field("min_zkey", pa.int64()),
            pa.field("max_zkey", pa.int64()),
        ]
    )


class SnapshotConflict(RuntimeError):
    """Raised when a commit loses the CAS race on the VERSION pointer."""


# A commit's critical section is two metadata writes (~ms); a lock this
# old belongs to a crashed process and is safe to break.
LOCK_STALE_S = 30.0

# Manifests at or below this row count (≈ file count) are planned and
# committed DRIVER-SIDE with pyarrow — zero Spark jobs. ~100k rows is a
# few MB of footer metadata; above it the distributed path takes over.
# Iceberg makes the same split: driver-side manifest planning for
# normal tables, distributed planning only for metadata at data scale.
SMALL_MANIFEST_ROWS = 100_000


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
        """The manifest of a snapshot as a DataFrame (metadata-level plan input)."""
        snap = self.snapshot(snapshot_id)
        if snap["manifest"] is None:
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        return spark.read.schema(MANIFEST_SCHEMA).parquet(str(self.root / snap["manifest"]))

    def data_files(self, spark: SparkSession, snapshot_id: int | None = None) -> list[str]:
        """File list of a snapshot. Driver-side planning, like Iceberg's."""
        return [r["file_path"] for r in self.manifest_records(spark, snapshot_id)]

    def _manifest_files(self, snapshot_id: int | None = None) -> list[str]:
        snap = self.snapshot(snapshot_id)
        if snap["manifest"] is None:
            return []
        return list_parquet_files(self.root / snap["manifest"])

    def manifest_row_count(self, snapshot_id: int | None = None) -> int:
        """Snapshot file count from the manifest parquet FOOTERS only —
        driver-side metadata reads, no Spark job, no data pages."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in self._manifest_files(snapshot_id))

    def manifest_paths(self, snapshot_id: int | None = None) -> set[str]:
        """Scheme-normalized ``file_path`` set of a snapshot's manifest,
        read driver-side with pyarrow (that one column only) — the
        reachability input of expiry and orphan GC. The set lands on the
        driver at any manifest size, as ``manifest_records`` rows do."""
        import pyarrow.parquet as pq

        out: set[str] = set()
        for f in self._manifest_files(snapshot_id):
            paths = pq.read_table(f, columns=["file_path"]).column(0).to_pylist()
            out.update(map(_strip_scheme, paths))
        return out

    def manifest_records(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> list[dict]:
        """Manifest rows for driver planning, as dicts.

        Small manifests (≤ SMALL_MANIFEST_ROWS, known from footers) are
        read driver-side with pyarrow — zero Spark jobs on the planning
        path, which is a constant serial term in every maintenance op.
        Big manifests fall back to a distributed read + collect (the
        caller is planning, so the rows land on the driver either way —
        exactly Iceberg's planning model).
        """
        files = self._manifest_files(snapshot_id)
        if not files:
            return []
        if self.manifest_row_count(snapshot_id) <= SMALL_MANIFEST_ROWS:
            import pyarrow.parquet as pq

            out: list[dict] = []
            for f in files:
                out.extend(pq.read_table(f).to_pylist())
            return out
        return [r.asDict() for r in self.manifest_df(spark, snapshot_id).collect()]

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot-pinned table scan.

        File-level min/max pruning happens BEFORE Catalyst sees the
        scan: callers filter ``manifest_df`` and pass the surviving
        ``files`` (see plans in compaction/merge/clustering). Catalyst
        still gets row-group pruning + column pruning on the parquet
        scan itself.
        """
        if files is None:
            files = self.data_files(spark, snapshot_id)
        if not files:
            return spark.createDataFrame([], TOKEN_SCHEMA)
        # Explicit schema: skips schema inference listing AND tolerates
        # extra physical columns (e.g. a persisted zkey) in some files.
        return spark.read.schema(TOKEN_SCHEMA).parquet(*files)

    # ------------------------------------------------------ committing
    def write_manifest(self, manifest_df: DataFrame, tag: str) -> str:
        """Persist a manifest DataFrame for a snapshot-to-be.

        Written BY SPARK (distributed, multi-file) — the manifest of a
        10^12-sequence table is itself big data; nothing is collected
        to the driver here. ``tag`` must be UNIQUE per commit attempt
        (id + uuid): manifests are written before the commit lock, so a
        deterministic path would let the CAS loser clobber the winner's
        published manifest.
        """
        rel = f"metadata/manifest-{tag}"
        (
            manifest_df.select([f.name for f in MANIFEST_SCHEMA.fields])
            .write.mode("overwrite")
            .parquet(str(self.root / rel))
        )
        return rel

    def commit(
        self,
        manifest_df: DataFrame,
        operation: str,
        summary: dict | None = None,
        parent_id: int | None = None,
    ) -> int:
        """Atomically publish a new snapshot whose file set is ``manifest_df``.

        CAS on ``parent_id``: if another writer advanced VERSION since
        the caller planned against ``parent_id``, raise
        SnapshotConflict (caller replans, like Iceberg optimistic
        concurrency).
        """
        expected_parent = self.current_snapshot_id() if parent_id is None else parent_id
        new_id = expected_parent + 1
        # Write the heavyweight pieces before taking the lock, to a path
        # UNIQUE to this attempt: racing writers from the same parent
        # must not share manifest paths (the CAS loser would clobber the
        # winner's committed manifest).
        manifest_rel = self.write_manifest(manifest_df, f"{new_id}-{uuid.uuid4().hex[:8]}")
        return self._publish(manifest_rel, expected_parent, new_id, operation, summary)

    def commit_delta(
        self,
        spark: SparkSession,
        removed_files: list[str],
        new_rows: list[dict],
        operation: str,
        summary: dict | None = None,
        parent_id: int | None = None,
    ) -> int:
        """Commit ``parent manifest − removed_files + new_rows`` atomically.

        The manifest-delta shape every maintenance op produces. When the
        parent manifest is small (footer row count ≤ SMALL_MANIFEST_ROWS),
        the new manifest is assembled and written DRIVER-SIDE with
        pyarrow — zero Spark jobs on the commit path, which together with
        ``manifest_records`` removes the constant per-commit serial term
        that capped scaling efficiency. Big manifests keep the
        distributed anti-join + union + write.
        """
        expected_parent = self.current_snapshot_id() if parent_id is None else parent_id
        new_id = expected_parent + 1
        rel = f"metadata/manifest-{new_id}-{uuid.uuid4().hex[:8]}"
        parent_files = self._manifest_files(expected_parent)
        if self.manifest_row_count(expected_parent) + len(new_rows) <= SMALL_MANIFEST_ROWS:
            import pyarrow as pa
            import pyarrow.parquet as pq

            schema = _manifest_arrow_schema()
            removed = {_strip_scheme(f) for f in removed_files}
            keep: list[dict] = []
            for f in parent_files:
                keep.extend(
                    r
                    for r in pq.read_table(f).to_pylist()
                    if _strip_scheme(r["file_path"]) not in removed
                )
            cols = [f.name for f in MANIFEST_SCHEMA.fields]
            rows = keep + [{c: r.get(c) for c in cols} for r in new_rows]
            tbl = pa.Table.from_pylist(rows, schema=schema)
            out_dir = self.root / rel
            out_dir.mkdir(parents=True, exist_ok=True)
            pq.write_table(tbl, out_dir / "part-00000.parquet")
        else:
            # Anti-join on scheme-normalized paths — byte-identical
            # semantics with the pyarrow small-manifest branch above
            # (which strips file:// on both sides): a scheme-prefixed
            # removed path must drop its manifest row on either path.
            manifest = self.manifest_df(spark, expected_parent)
            removed_df = spark.createDataFrame(
                [(_strip_scheme(f),) for f in removed_files] or [], "_rm_path string"
            )
            norm = F.regexp_replace(F.col("file_path"), "^file:(//)?", "")
            new_manifest = (
                manifest.withColumn("_norm_path", norm)
                .join(
                    F.broadcast(removed_df),
                    F.col("_norm_path") == F.col("_rm_path"),
                    "left_anti",
                )
                .drop("_norm_path")
            )
            if new_rows:
                new_manifest = new_manifest.unionByName(
                    spark.createDataFrame(new_rows, MANIFEST_SCHEMA)
                )
            (
                new_manifest.select([f.name for f in MANIFEST_SCHEMA.fields])
                .write.mode("overwrite")
                .parquet(str(self.root / rel))
            )
        return self._publish(rel, expected_parent, new_id, operation, summary)

    def _publish(
        self,
        manifest_rel: str,
        expected_parent: int,
        new_id: int,
        operation: str,
        summary: dict | None,
    ) -> int:
        """The locked CAS critical section shared by both commit paths.

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
    return p.removeprefix("file://").removeprefix("file:")


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
