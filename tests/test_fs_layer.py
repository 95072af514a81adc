"""fs layer: file:// URIs end-to-end through the maintenance data
plane, plus the distributed delete path."""

from __future__ import annotations

from pathlib import Path

from feature_engineering_poc_spark.lakehouse import (
    assert_scan_equivalent,
    scan_fingerprint,
    write_token_table,
)
from feature_engineering_poc_spark.lakehouse import fs as fslayer
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.expire import expire_snapshots
from tests.conftest import last_job_id, stages_per_job


def _to_uri_manifest(spark, table):
    """Commit a snapshot whose manifest references every data file by
    file:// URI instead of a plain path (object-store stand-in)."""
    rows = table.manifest_records(spark)
    return table.commit_delta(
        [r["file_path"] for r in rows],
        [{**r, "file_path": "file://" + r["file_path"]} for r in rows],
        operation="uri-rewrite",
    )


def test_compact_reads_uri_manifest_end_to_end(spark, tmp_path):
    """Planner → binpack kernel (pyarrow via fs layer) → commit_delta
    scheme normalization, all against a manifest of file:// URIs."""
    t = write_token_table(spark, tmp_path / "t", n_rows=900, files_per_source=4, max_tok=32)
    before = scan_fingerprint(t.scan(spark))
    _to_uri_manifest(spark, t)
    uri_files = t.data_files(spark)
    assert all(f.startswith("file://") for f in uri_files)
    # scan through the URIs is unchanged
    assert_scan_equivalent(t.scan(spark), t.scan(spark, 1))

    r = compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    assert r["files_compacted"] > r["files_written"] > 0
    after = scan_fingerprint(t.scan(spark))
    assert (after.row_count, after.xor_hash) == (before.row_count, before.xor_hash)
    # every URI-referenced original dropped from the manifest (the
    # scheme normalization of commit_delta under test)
    live = {r_["file_path"] for r_ in t.manifest_records(spark)}
    assert not (live & set(uri_files))


def test_expire_deletes_uri_referenced_files(spark, tmp_path):
    t = write_token_table(spark, tmp_path / "t", n_rows=600, files_per_source=3, max_tok=32)
    plain_files = [Path(f) for f in t.data_files(spark)]
    _to_uri_manifest(spark, t)
    compact(spark, t, target_file_bytes=64 * 1024 * 1024)
    r = expire_snapshots(spark, t, keep_last=1)
    assert r["deleted_files"] > 0
    assert not any(p.exists() for p in plain_files)  # fs.delete resolved the URIs
    assert_scan_equivalent(t.scan(spark), t.scan(spark))


def test_delete_files_distributed_path(spark, tmp_path):
    paths = []
    for i in range(20):
        p = tmp_path / f"f{i}.bin"
        p.write_bytes(b"x")
        paths.append(("file://" + str(p)) if i % 2 else str(p))
    before = last_job_id(spark)
    fslayer.delete_files(paths, spark=spark, distributed_threshold=5)
    assert stages_per_job(spark, before) == [1]  # one job, one stage: no shuffle
    assert not list(tmp_path.glob("f*.bin"))
    # idempotent: re-deleting missing files is a no-op on both paths
    fslayer.delete_files(paths, spark=spark, distributed_threshold=5)
    fslayer.delete_files(paths)


def test_fs_helpers_roundtrip(tmp_path):
    import pyarrow as pa

    tbl = pa.table({"a": [1, 2, 3]})
    uri = "file://" + str(tmp_path / "sub" / "x.parquet")
    n = fslayer.write_parquet(tbl, uri)
    assert n > 0 and fslayer.file_size(uri) == n
    assert fslayer.read_parquet(uri).equals(tbl)
    assert fslayer.parquet_file(uri).metadata.num_rows == 3
    assert fslayer.file_mtime(uri) is not None
    assert fslayer.file_mtime(str(tmp_path / "missing")) is None
    fslayer.delete(uri)
    assert fslayer.file_mtime(uri) is None


def test_fs_delete_missing_is_noop_but_real_errors_propagate(tmp_path):
    import pytest

    # idempotent GC: deleting a missing file is fine
    fslayer.delete(str(tmp_path / "never_existed"))
    # ...but a genuine IO failure (here: target is a directory) must NOT
    # be swallowed — expire/GC would otherwise report success on files
    # that still exist
    d = tmp_path / "a_directory"
    d.mkdir()
    with pytest.raises(Exception):
        fslayer.delete(str(d))
    assert d.exists()
