"""Snapshot expiry + orphan-file GC + manifest rewrite (north_rule ops #4-5).

All three are METADATA-dominant operations, planned and committed on
the driver like every other op's manifest work (Iceberg's planning
model): reachability takes the ``file_path`` set of each snapshot
manifest (``TokenTable.manifest_paths``) and does the set algebra in
Python; the rewrite is ``manifest_table`` → ``file_stats_rows`` →
``commit_delta``. The manifest is read and written in Arrow at any
size; footers are read on the driver up to ``SMALL_STATS_FILES`` files
and by one Spark job above. On small tables no op runs a Spark job.

Paths are compared scheme-normalized (``file:///x`` and ``/x`` are the
same file), as ``commit_delta`` compares them.

- ``expire_snapshots``: drop snapshots beyond the retention policy and
  delete data files reachable ONLY from expired snapshots. The safety
  property (tested): a file reachable from ANY retained snapshot is
  never deleted. Reference precedent for aggressive retention:
  ``retentionDurationCheck.enabled=false`` (SparkSessionManager.scala:59).
- ``remove_orphans``: delete files on the filesystem that no snapshot
  references (debris from crashed jobs), with a modification-time
  grace window so in-flight writers are never raced.
- ``rewrite_manifests``: recompute every live file's stats from parquet
  footers (stats.py) and publish a fresh, compacted manifest as a new
  snapshot — same data files, new metadata.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from . import fs as fslayer
from .metadata import TokenTable, list_parquet_files
from .stats import file_stats_rows


def _paths(table: TokenTable, snapshot_ids) -> set[str]:
    """Normalized file paths referenced by any of the snapshots."""
    return set().union(*(table.manifest_paths(i) for i in snapshot_ids))


def expire_snapshots(
    spark: SparkSession,
    table: TokenTable,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Expire snapshots; retains at least the current snapshot."""
    if keep_last is None and older_than_ms is None:
        raise ValueError("pass keep_last and/or older_than_ms")
    snaps = table.snapshots()
    current = table.current_snapshot_id()
    retained_ids = {current}
    ordered = sorted((s["snapshot_id"] for s in snaps), reverse=True)
    if keep_last is not None:
        retained_ids |= set(ordered[: max(keep_last, 1)])
    if older_than_ms is not None:
        retained_ids |= {
            s["snapshot_id"] for s in snaps if s["timestamp_ms"] >= older_than_ms
        }
    expired_ids = [s["snapshot_id"] for s in snaps if s["snapshot_id"] not in retained_ids]
    if not expired_ids:
        return {"expired_snapshots": [], "deleted_files": 0}

    # Reachability: files of expired snapshots minus files of retained ones.
    retained = sorted(retained_ids)
    doomed = sorted(_paths(table, expired_ids) - _paths(table, retained))
    if not dry_run:
        # fs layer: driver loop for planning-sized lists, distributed
        # foreachPartition fan-out past the threshold (fs.py) — an
        # expired snapshot of a 10^12-seq table dooms millions of files
        fslayer.delete_files(doomed, spark=spark)
        for sid in expired_ids:
            snap = table.snapshot(sid)
            if snap.get("manifest"):
                mdir = table.root / snap["manifest"]
                if mdir.is_dir():
                    for p in mdir.rglob("*"):
                        p.unlink()
                    mdir.rmdir()
            table.snapshot_path(sid).unlink(missing_ok=True)
    return {"expired_snapshots": expired_ids, "deleted_files": len(doomed),
            "retained_snapshots": retained}


def remove_orphans(
    spark: SparkSession,
    table: TokenTable,
    grace_period_ms: int = 24 * 3600 * 1000,
    dry_run: bool = False,
) -> dict:
    """Delete data files no snapshot references, respecting a grace window.

    Listing is driver-side ``rglob`` here (local FS); on object storage
    this becomes a distributed listing job. The reference check is a
    set difference against every snapshot's manifest paths.
    """
    snaps = table.snapshots()
    listed = list_parquet_files(table.data_dir)  # plain local paths
    refs = _paths(table, [s["snapshot_id"] for s in snaps if s.get("manifest")])
    unreferenced = [f for f in listed if f not in refs]
    cutoff = time.time() - grace_period_ms / 1000.0

    def _old_enough(p) -> bool:
        mtime = fslayer.file_mtime(p)
        return mtime is not None and mtime < cutoff

    orphans = [f for f in unreferenced if _old_enough(f)]
    # Manifest dirs from commit attempts that crashed before publishing
    # (commit_delta writes manifests to unique paths before the CAS): any
    # metadata/manifest-* dir no snapshot references is debris.
    live_manifests = {s["manifest"] for s in snaps if s.get("manifest")}
    orphan_manifests = [
        d
        for d in sorted(table.meta_dir.glob("manifest-*"))
        if d.is_dir()
        and f"metadata/{d.name}" not in live_manifests
        and _old_enough(d)
    ]
    if not dry_run:
        fslayer.delete_files(orphans, spark=spark)
        for d in orphan_manifests:
            for p in sorted(d.rglob("*"), reverse=True):
                p.unlink()
            d.rmdir()
    return {"orphans_deleted": len(orphans), "files_listed": len(listed),
            "orphan_manifests_deleted": len(orphan_manifests)}


def rewrite_manifests(spark: SparkSession, table: TokenTable) -> dict:
    """Recompute per-file stats from parquet footers; new snapshot,
    same data files."""
    parent = table.current_snapshot_id()
    m = table.manifest_table(parent)
    pairs = list(zip(m["file_path"].to_pylist(), m["partition"].to_pylist()))
    sid = table.commit_delta(
        removed_files=[f for f, _ in pairs],
        new_rows=file_stats_rows(spark, pairs),
        operation="rewrite-manifests",
        summary={"files": len(pairs)},
        parent_id=parent,
    )
    return {"snapshot_id": sid, "files": len(pairs)}
