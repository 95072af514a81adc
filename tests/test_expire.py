"""Snapshot expiry safety, orphan GC grace window, manifest rewrite."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest

from feature_engineering_poc_spark.lakehouse import (
    assert_scan_equivalent,
    scan_fingerprint,
    write_token_table,
)
from feature_engineering_poc_spark.lakehouse import stats
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.expire import (
    expire_snapshots,
    remove_orphans,
    rewrite_manifests,
)
from feature_engineering_poc_spark.lakehouse.metadata import list_parquet_files
from tests.conftest import last_job_id
from tests.test_fs_layer import _to_uri_manifest


@pytest.fixture()
def table(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=1500, files_per_source=4, max_tok=64)
    compact(spark, t, target_file_bytes=64 * 1024 * 1024)  # snapshot 2
    return t


def _fingerprint(spark, table):
    fp = scan_fingerprint(table.scan(spark))
    return fp.row_count, fp.xor_hash


def test_expire_deletes_only_unreachable(spark, table):
    fp = _fingerprint(spark, table)
    pre_files = set(table.data_files(spark))  # current snapshot's files
    old_files = set(table.data_files(spark, 1))

    result = expire_snapshots(spark, table, keep_last=1)
    assert result["expired_snapshots"] == [0, 1]
    assert result["deleted_files"] == len(old_files - pre_files) > 0

    # safety: every file of the retained snapshot still exists, and the
    # deleted set is exactly the expired-only files
    for f in pre_files:
        assert Path(f).exists(), f"retained file deleted: {f}"
    assert set(list_parquet_files(table.data_dir)) == pre_files
    # current scan still exact
    assert _fingerprint(spark, table) == fp
    # expired metadata removed
    assert not table.snapshot_path(1).exists()


def test_expire_dry_run_deletes_nothing(spark, table):
    files = set(table.data_files(spark, 1)) | set(table.data_files(spark))
    r = expire_snapshots(spark, table, keep_last=1, dry_run=True)
    assert r["deleted_files"] == len(files - set(table.data_files(spark))) > 0
    for f in files:
        assert Path(f).exists()


def test_expire_requires_policy(spark, table):
    with pytest.raises(ValueError):
        expire_snapshots(spark, table)


def test_remove_orphans_respects_grace_and_references(spark, table):
    # plant an orphan (old mtime) and a fresh one (inside grace window)
    old_orphan = table.data_dir / "junk_old.parquet"
    new_orphan = table.data_dir / "junk_new.parquet"
    for p in (old_orphan, new_orphan):
        p.write_bytes(b"PAR1junk")
    os.utime(old_orphan, (time.time() - 90000, time.time() - 90000))
    listed = set(list_parquet_files(table.data_dir))

    r = remove_orphans(spark, table, grace_period_ms=3600 * 1000)
    assert r["files_listed"] == len(listed)
    assert r["orphans_deleted"] == 1
    assert not old_orphan.exists()
    assert new_orphan.exists()  # grace window protected
    # every referenced file untouched (snapshot 1's files are still
    # referenced: nothing was expired)
    assert set(list_parquet_files(table.data_dir)) == listed - {str(old_orphan)}
    new_orphan.unlink()


def test_rewrite_manifests_same_files_fresh_stats(spark, table):
    pre_sid = table.current_snapshot_id()
    pre_rows = sorted(table.manifest_records(spark), key=lambda r: r["file_path"])
    r = rewrite_manifests(spark, table)
    assert r["snapshot_id"] == pre_sid + 1
    assert table.snapshot()["summary"] == {"files": len(pre_rows)}
    # the compaction commit wrote footer stats too: the rewritten rows
    # are the same rows
    assert sorted(table.manifest_records(spark), key=lambda r: r["file_path"]) == pre_rows
    assert_scan_equivalent(table.scan(spark, pre_sid), table.scan(spark))
    m = table.manifest_df(spark)
    assert m.filter("record_count is null or file_bytes is null").count() == 0


def test_rewrite_manifests_above_small_thresholds(spark, table, monkeypatch):
    """With ``SMALL_STATS_FILES`` at 0 the rewrite stats the footers in
    a Spark job; the published rows are the same."""
    pre_rows = sorted(table.manifest_records(spark), key=lambda r: r["file_path"])
    monkeypatch.setattr(stats, "SMALL_STATS_FILES", 0)
    before = last_job_id(spark)
    r = rewrite_manifests(spark, table)
    assert last_job_id(spark) > before  # the Spark sides really ran
    assert r["files"] == len(pre_rows)
    assert sorted(table.manifest_records(spark), key=lambda r: r["file_path"]) == pre_rows


def test_expire_after_uri_rewrite_keeps_live_files(spark, tmp_path):
    """A commit that re-spells every manifest path as a file:// URI must
    not make the plain-path originals look expired-only: the same file
    is reachable from the retained snapshot."""
    t = write_token_table(spark, tmp_path / "t", n_rows=600, files_per_source=3, max_tok=32)
    live = [Path(f) for f in t.data_files(spark)]
    fp = _fingerprint(spark, t)
    _to_uri_manifest(spark, t)
    r = expire_snapshots(spark, t, keep_last=1)
    assert r["expired_snapshots"] == [0, 1]
    assert r["deleted_files"] == 0
    assert all(p.exists() for p in live)
    assert _fingerprint(spark, t) == fp


def test_orphans_after_uri_rewrite_keep_live_files(spark, tmp_path):
    """Listed plain paths match the URI references of the only snapshot
    left after expiry: nothing live is an orphan."""
    t = write_token_table(spark, tmp_path / "t", n_rows=600, files_per_source=3, max_tok=32)
    live = [Path(f) for f in t.data_files(spark)]
    fp = _fingerprint(spark, t)
    _to_uri_manifest(spark, t)
    expire_snapshots(spark, t, keep_last=1)
    r = remove_orphans(spark, t, grace_period_ms=0)
    assert (r["files_listed"], r["orphans_deleted"]) == (len(live), 0)
    assert all(p.exists() for p in live)
    assert _fingerprint(spark, t) == fp


def test_metadata_ops_spark_job_budget(spark, table):
    """On a small table the three metadata ops plan, delete and commit
    on the driver: no Spark job at all."""
    for op in (
        lambda: rewrite_manifests(spark, table),
        lambda: expire_snapshots(spark, table, keep_last=1),
        lambda: remove_orphans(spark, table, grace_period_ms=0),
    ):
        before = last_job_id(spark)
        op()
        assert last_job_id(spark) == before
