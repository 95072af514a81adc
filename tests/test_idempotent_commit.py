"""Commit idempotence under job replay, lock-steal safety, grouped
binpack execution and the one job skeleton that owns the protocol.

The replay tests model the foreachBatch crash window: Structured
Streaming re-runs a batch whose MERGE already committed (the crash hit
between the table commit and the stream checkpoint write). A replayed
job_id must return the recorded result WITHOUT re-committing — the old
behavior re-unioned the lineage log's manifest rows into a manifest
that already contained them, duplicating every rewritten file.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse import (
    TokenTable,
    assert_scan_equivalent,
    scan_fingerprint,
    write_token_table,
)
from feature_engineering_poc_spark.lakehouse.clustering import cluster
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.merge import merge_into


def _upsert_source(spark, table, frac_mod=10):
    tgt = table.scan(spark)
    return tgt.filter(F.pmod(F.xxhash64("doc_id"), F.lit(frac_mod)) == 0).select(
        "doc_id",
        F.array(F.lit(1)).cast("array<int>").alias("tokens"),
        F.lit(1).cast("int").alias("n_tok"),
        "source",
        F.lit("upsert").alias("_op"),
    )


def _no_manifest_read(*_args, **_kw):
    raise AssertionError("manifest read")


def _assert_manifest_unique_files(spark, table):
    m = table.manifest_df(spark)
    assert m.count() == m.select("file_path").distinct().count()


def test_merge_replay_is_noop(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=3, max_tok=32)
    src = _upsert_source(spark, t)
    r1 = merge_into(spark, t, src, job_id="batch-7")
    fp = scan_fingerprint(t.scan(spark))

    # replay: same job_id (same lineage log), table must not change
    r2 = merge_into(spark, t, src, job_id="batch-7")
    assert r2["snapshot_id"] == r1["snapshot_id"]
    assert t.current_snapshot_id() == r1["snapshot_id"]
    fp2 = scan_fingerprint(t.scan(spark))
    assert (fp2.row_count, fp2.xor_hash) == (fp.row_count, fp.xor_hash)
    _assert_manifest_unique_files(spark, t)


def test_compact_replay_is_noop(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=4, max_tok=32)
    r1 = compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="c-1")
    fp = scan_fingerprint(t.scan(spark))
    r2 = compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="c-1")
    assert r2["snapshot_id"] == r1["snapshot_id"]
    assert t.current_snapshot_id() == r1["snapshot_id"]
    fp2 = scan_fingerprint(t.scan(spark))
    assert (fp2.row_count, fp2.xor_hash) == (fp.row_count, fp.xor_hash)
    _assert_manifest_unique_files(spark, t)


def test_cluster_replay_is_noop(spark, tmp_path, monkeypatch):
    t = write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=3, max_tok=32)
    r1 = cluster(spark, t, curve="zorder", job_id="z-1")
    # the replay returns before planning reads any manifest
    with monkeypatch.context() as mp:
        mp.setattr(TokenTable, "manifest_table", _no_manifest_read)
        r2 = cluster(spark, t, curve="zorder", job_id="z-1")
    assert r2["snapshot_id"] == r1["snapshot_id"]
    assert t.current_snapshot_id() == r1["snapshot_id"]
    _assert_manifest_unique_files(spark, t)


def test_merge_resume_after_commit_crash_window(spark, tmp_path):
    """Exactly-once across the commit→checkpoint crash window: run a
    merge to completion, then replay it as foreachBatch would (same
    batch job_id, same source) and verify the scan is byte-identical —
    not just row counts."""
    t = write_token_table(spark, tmp_path / "t", n_rows=800, files_per_source=3, max_tok=32)
    src = _upsert_source(spark, t, frac_mod=5)
    merge_into(spark, t, src, duplicate_policy="last", job_id="stream-q-batch0")
    sid = t.current_snapshot_id()
    expect = t.scan(spark, sid)
    merge_into(spark, t, src, duplicate_policy="last", job_id="stream-q-batch0")
    assert t.current_snapshot_id() == sid
    assert_scan_equivalent(expect, t.scan(spark))


def test_merge_null_source_insert_fails_fast(spark, tmp_path, monkeypatch):
    t = write_token_table(spark, tmp_path / "t", n_rows=200, files_per_source=2, max_tok=32)
    bad = spark.createDataFrame(
        [("docZZZ", [1, 2], 2, None)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    before = sorted(t.root.rglob("*.parquet"))
    # driver-side planning, then distributed planning (broadcast cap 0)
    for cap in (None, "0"):
        if cap is not None:
            monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", cap)
        with pytest.raises(ValueError, match="null `source`"):
            merge_into(spark, t, bad)
        # rejected before any write: no orphan data file, no unit record
        assert sorted(t.root.rglob("*.parquet")) == before
        lineage = t.root / "metadata" / "lineage"
        assert not any('"unit_done"' in f.read_text() for f in lineage.glob("*.jsonl"))


def test_stale_lock_break_leaves_no_debris(spark, tmp_path, monkeypatch):
    """Rename-based stale-lock steal: lock broken, commit succeeds, no
    stale-* leftovers, and the committer's own lock removed."""
    from feature_engineering_poc_spark.lakehouse import metadata as md

    t = write_token_table(spark, tmp_path / "t", n_rows=200, files_per_source=2, max_tok=32)
    lock = t.meta_dir / "COMMIT.lock"
    lock.write_text("pid=999999 token=deadbeef")  # abandoned by a dead process
    monkeypatch.setattr(md, "LOCK_STALE_S", 0.0)
    sid = t.commit_delta([], [], operation="touch")
    assert sid == t.current_snapshot_id()
    assert not lock.exists()
    assert not list(t.meta_dir.glob("COMMIT.lock.stale-*"))


def test_binpack_units_group_into_shared_jobs(spark, tmp_path, monkeypatch):
    """N pending partition units run in ceil(N / UNITS_PER_JOB) Spark
    jobs — the metadata-level grouping that keeps a 10^5-partition
    table from submitting 10^5 jobs."""
    from feature_engineering_poc_spark.lakehouse import compaction as comp
    from feature_engineering_poc_spark.lakehouse import job as job_mod

    calls = []
    real = comp._rewrite_bins_distributed

    def counting(spark_, specs):
        calls.append(len(specs))
        return real(spark_, specs)

    monkeypatch.setattr(comp, "_rewrite_bins_distributed", counting)

    t = write_token_table(spark, tmp_path / "t", n_rows=1200, files_per_source=4, max_tok=32)
    before = scan_fingerprint(t.scan(spark))
    # 4 source partitions, UNITS_PER_JOB=2 → exactly ceil(4/2)=2 jobs
    with monkeypatch.context() as mp:
        mp.setattr(job_mod, "UNITS_PER_JOB", 2)
        r = compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    assert r["units"] == 4
    assert len(calls) == 2
    after = scan_fingerprint(t.scan(spark))
    assert (after.row_count, after.xor_hash) == (before.row_count, before.xor_hash)

    # one big chunk (the default 64): all units in ONE job
    calls.clear()
    t2 = write_token_table(spark, tmp_path / "t2", n_rows=1200, files_per_source=4, max_tok=32)
    compact(spark, t2, target_file_bytes=64 * 1024 * 1024)
    assert len(calls) == 1


def _drop_committed_event(table, job_id):
    """Simulate a crash in the window between the VERSION swap and the
    fsync'd 'committed' lineage append: the snapshot is published but
    the log doesn't say so."""
    log_path = table.root / "metadata" / "lineage" / f"{job_id}.jsonl"
    lines = [
        ln for ln in log_path.read_text().splitlines()
        if ln.strip() and '"committed"' not in ln
    ]
    log_path.write_text("\n".join(lines) + "\n")


def test_merge_replay_after_publish_before_lineage_event(spark, tmp_path):
    """Crash between commit_delta's VERSION swap and the 'committed'
    lineage append: the replay must find the published snapshot via its
    job_tag stamp and NOT re-commit the same manifest rows."""
    t = write_token_table(spark, tmp_path / "t", n_rows=800, files_per_source=3, max_tok=32)
    src = _upsert_source(spark, t, frac_mod=5)
    r1 = merge_into(spark, t, src, job_id="crashy-1")
    _drop_committed_event(t, "crashy-1")

    fp = scan_fingerprint(t.scan(spark))
    r2 = merge_into(spark, t, src, job_id="crashy-1")
    assert r2["snapshot_id"] == r1["snapshot_id"]
    assert t.current_snapshot_id() == r1["snapshot_id"]
    fp2 = scan_fingerprint(t.scan(spark))
    assert (fp2.row_count, fp2.xor_hash) == (fp.row_count, fp.xor_hash)
    _assert_manifest_unique_files(spark, t)
    # the repair also re-logs the committed event, so a THIRD replay
    # takes the fast lineage path
    r3 = merge_into(spark, t, src, job_id="crashy-1")
    assert r3["snapshot_id"] == r1["snapshot_id"]


def test_compact_replay_after_publish_before_lineage_event(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=4, max_tok=32)
    r1 = compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="cc-1")
    _drop_committed_event(t, "cc-1")
    fp = scan_fingerprint(t.scan(spark))
    r2 = compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="cc-1")
    assert r2["snapshot_id"] == r1["snapshot_id"]
    assert t.current_snapshot_id() == r1["snapshot_id"]
    fp2 = scan_fingerprint(t.scan(spark))
    assert (fp2.row_count, fp2.xor_hash) == (fp.row_count, fp.xor_hash)
    _assert_manifest_unique_files(spark, t)


def test_cluster_replay_after_publish_before_lineage_event(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=800, files_per_source=3, max_tok=32)
    r1 = cluster(spark, t, curve="zorder", job_id="zz-1")
    _drop_committed_event(t, "zz-1")
    r2 = cluster(spark, t, curve="zorder", job_id="zz-1")
    assert r2["snapshot_id"] == r1["snapshot_id"]
    assert t.current_snapshot_id() == r1["snapshot_id"]
    _assert_manifest_unique_files(spark, t)


def test_commit_delta_scheme_normalization(spark, tmp_path):
    """A file://-prefixed removed path drops its plain-path manifest row."""
    t = write_token_table(spark, tmp_path / "t", n_rows=300, files_per_source=2, max_tok=32)
    victim = t.manifest_records(spark)[0]["file_path"]
    n_before = len(t.manifest_records(spark))
    t.commit_delta(["file://" + victim], [], operation="test-remove")
    assert len(t.manifest_records(spark)) == n_before - 1
    assert victim not in {r["file_path"] for r in t.manifest_records(spark)}


def test_one_job_skeleton_commits():
    """The exactly-once protocol lives in one module: among the lakehouse
    modules only job.py opens a lineage log, and table commits come from
    job.py plus the ops that run no units (expiry and manifest rewrite,
    the generator's initial commit)."""
    import ast
    from pathlib import Path

    from feature_engineering_poc_spark import lakehouse

    callers: dict[str, set[str]] = {"commit_delta": set(), "LineageLog": set()}
    for path in Path(lakehouse.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "attr", getattr(node.func, "id", None))
                if name in callers:
                    callers[name].add(path.name)
    assert callers == {"commit_delta": {"job.py", "expire.py", "generator.py"},
                       "LineageLog": {"job.py"}}
