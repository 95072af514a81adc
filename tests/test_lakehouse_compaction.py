"""End-to-end: generator → metadata layer → compaction → scan equivalence,
snapshot isolation, and checkpoint resume (SURVEY.md §7 steps 1-3)."""

from __future__ import annotations

import pytest

from feature_engineering_poc_spark.lakehouse import (
    TokenTable,
    assert_scan_equivalent,
    scan_fingerprint,
    write_token_table,
)
from feature_engineering_poc_spark.lakehouse.clustering import prune_files
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.lineage import LineageLog
from feature_engineering_poc_spark.lakehouse.metadata import MANIFEST_SCHEMA, SnapshotConflict
from tests.conftest import last_job_id, stages_per_job


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("tokentable")
    return write_token_table(spark, root, n_rows=4000, files_per_source=8, max_tok=128)


def test_generator_creates_small_files_and_manifest(spark, table):
    m = table.manifest_df(spark)
    rows = m.collect()
    assert len(rows) >= 16  # many small files across 4 sources
    parts = {r.partition for r in rows}
    assert parts == {"web", "books", "wiki", "code"}
    total = sum(r.record_count for r in rows)
    assert total == 4000
    for r in rows:
        assert r.min_doc_id <= r.max_doc_id
        assert r.min_n_tok <= r.max_n_tok
        assert r.file_bytes > 0


def test_manifest_df_is_manifest_table(spark, table):
    """``manifest_df`` is ``manifest_table`` row for row; a snapshot
    without a manifest (0) gives an empty frame of ``MANIFEST_SCHEMA``."""
    m = table.manifest_df(spark)
    assert m.schema == MANIFEST_SCHEMA
    assert [r.asDict() for r in m.collect()] == table.manifest_table().to_pylist()
    empty = table.manifest_df(spark, 0)
    assert empty.schema == MANIFEST_SCHEMA and empty.collect() == []


def test_prune_files_runs_no_spark_job(spark, table):
    """Read planning filters the manifest on the driver: collecting the
    pruned manifest launches no Spark job."""
    m = table.manifest_df(spark)
    before = last_job_id(spark)
    kept = prune_files(m, n_tok_range=(8, 16), doc_id_range=("doc0", "doc9")).collect()
    assert last_job_id(spark) == before
    want = [r["file_path"] for r in table.manifest_table().to_pylist()
            if r["max_n_tok"] >= 8 and r["min_n_tok"] <= 16
            and r["max_doc_id"] >= "doc0" and r["min_doc_id"] <= "doc9"]
    assert 0 < len(kept) and [r.file_path for r in kept] == want


def test_in_task_chunk_one_job_one_stage(spark, tmp_path):
    """Every unit of a compaction rides one in-task chunk: one Spark job
    of one stage, no shuffle."""
    t = write_token_table(spark, tmp_path / "t", n_rows=1200, files_per_source=4, max_tok=32)
    before = last_job_id(spark)
    r = compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    assert r["units"] == 4
    assert stages_per_job(spark, before) == [1]


def test_scan_matches_rowcount(spark, table):
    df = table.scan(spark)
    assert df.count() == 4000
    assert [f.name for f in df.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]


def test_compaction_scan_equivalence_and_isolation(spark, table):
    pre_sid = table.current_snapshot_id()
    pre_files = set(table.data_files(spark, pre_sid))
    before = scan_fingerprint(table.scan(spark, pre_sid))

    result = compact(spark, table, target_file_bytes=64 * 1024 * 1024)
    assert result["snapshot_id"] == pre_sid + 1
    assert result["files_written"] < result["files_compacted"]
    # phases: the snapshot summary is written before the commit's own lap
    assert set(result["phases"]) == {"plan", "rewrite", "commit"}
    assert set(table.snapshot()["summary"]["phases"]) == {"plan", "rewrite"}

    # post-maintenance scan equivalence (token-array equality per row)
    assert_scan_equivalent(table.scan(spark, pre_sid), table.scan(spark))

    # snapshot isolation: pinned reader resolves the ORIGINAL files
    assert set(table.data_files(spark, pre_sid)) == pre_files
    pinned = scan_fingerprint(table.scan(spark, pre_sid))
    assert (pinned.row_count, pinned.xor_hash) == (before.row_count, before.xor_hash)

    # compacted files replaced in the new manifest
    post_files = set(table.data_files(spark))
    assert post_files.isdisjoint({f for f in pre_files if f not in post_files} & post_files)
    assert len(post_files) < len(pre_files)


def test_compaction_noop_when_already_compact(spark, table):
    result = compact(spark, table, target_file_bytes=64 * 1024 * 1024)
    assert result["snapshot_id"] is None


def test_compaction_resume_from_checkpoint(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=2000, files_per_source=6, max_tok=64)
    before = scan_fingerprint(t.scan(spark))

    with pytest.raises(RuntimeError, match="injected failure"):
        compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="resume-test",
                _fail_after_units=1)
    # crash happened before commit: table still at snapshot 1
    assert t.current_snapshot_id() == 1
    log = LineageLog(t.root, "resume-test")
    assert len(log.completed_units()) == 1

    result = compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="resume-test")
    assert result["units_resumed"] == 1  # completed unit NOT re-executed
    assert result["snapshot_id"] == 2
    assert_scan_equivalent(t.scan(spark, 1), t.scan(spark))
    # no double-applied partition: row count preserved exactly
    assert t.scan(spark).count() == before.row_count


def test_commit_cas_conflict(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t2", n_rows=200, files_per_source=2, max_tok=32)
    stale_parent = t.current_snapshot_id()
    t.commit_delta([], [], operation="touch", parent_id=stale_parent)
    with pytest.raises(SnapshotConflict):
        t.commit_delta([], [], operation="touch", parent_id=stale_parent)


def test_cas_loser_does_not_clobber_winner_manifest(spark, tmp_path):
    """Manifests live at unique paths: a loser racing from the same
    parent must leave the winner's committed manifest intact and clean
    up its own orphan."""
    t = write_token_table(spark, tmp_path / "t3", n_rows=200, files_per_source=2, max_tok=32)
    m = t.manifest_df(spark)
    parent = t.current_snapshot_id()
    win_id = t.commit_delta([], [], operation="touch", parent_id=parent)
    winner_manifest = t.root / t.snapshot(win_id)["manifest"]
    winner_files = sorted(p.name for p in winner_manifest.rglob("*.parquet"))
    with pytest.raises(SnapshotConflict):
        # the loser keeps one row: every path but one removed
        t.commit_delta(t.data_files(spark, parent)[1:], [], operation="touch", parent_id=parent)
    # winner's manifest untouched, still readable, scan unchanged
    assert sorted(p.name for p in winner_manifest.rglob("*.parquet")) == winner_files
    assert t.manifest_df(spark).count() == m.count()
    # loser's orphan manifest cleaned up: every manifest dir on disk is
    # referenced by some snapshot
    live = {s["manifest"] for s in t.snapshots() if s.get("manifest")}
    on_disk = {f"metadata/{d.name}" for d in t.meta_dir.glob("manifest-*") if d.is_dir()}
    assert on_disk <= live


def test_commit_breaks_stale_lock(spark, tmp_path, monkeypatch):
    from feature_engineering_poc_spark.lakehouse import metadata as md

    t = write_token_table(spark, tmp_path / "t4", n_rows=200, files_per_source=2, max_tok=32)
    lock = t.meta_dir / "COMMIT.lock"
    lock.write_text("pid=999999 ts=0")  # abandoned by a dead process
    monkeypatch.setattr(md, "LOCK_STALE_S", 0.0)
    sid = t.commit_delta([], [], operation="touch")
    assert sid == t.current_snapshot_id()
    assert not lock.exists()


def test_determinism_same_seed_same_fingerprint(spark, tmp_path):
    from feature_engineering_poc_spark.lakehouse.generator import token_dataframe

    a = scan_fingerprint(token_dataframe(spark, 500, seed=7, max_tok=64))
    b = scan_fingerprint(token_dataframe(spark, 500, seed=7, max_tok=64))
    c = scan_fingerprint(token_dataframe(spark, 500, seed=8, max_tok=64))
    assert (a.row_count, a.xor_hash) == (b.row_count, b.xor_hash)
    assert a.xor_hash != c.xor_hash


def test_partition_scoped_compaction(spark, tmp_path):
    from feature_engineering_poc_spark.lakehouse import write_token_table
    t = write_token_table(spark, tmp_path / "scoped", n_rows=1000, files_per_source=4, max_tok=32)
    pre = {r.partition: r.file_path for r in t.manifest_df(spark).collect()}
    result = compact(spark, t, target_file_bytes=64 * 1024 * 1024, partitions=["web"])
    assert result["snapshot_id"] == 2
    m = t.manifest_df(spark).collect()
    by_part = {}
    for r in m:
        by_part.setdefault(r.partition, []).append(r.file_path)
    assert len(by_part["web"]) == 1  # compacted
    assert len(by_part["books"]) == 4  # untouched
    assert_scan_equivalent(t.scan(spark, 1), t.scan(spark))
