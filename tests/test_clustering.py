"""SFC kernels + clustering rewrite: correctness, pruning improvement,
scan equivalence, resume."""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import shutil
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse import (
    TokenTable,
    assert_scan_equivalent,
    write_token_table,
)
from feature_engineering_poc_spark.lakehouse.clustering import _table_keys, cluster, prune_files
from feature_engineering_poc_spark.lakehouse.lineage import LineageLog
from feature_engineering_poc_spark.plans.sfc import (
    hilbert_index,
    interleave_bits,
    string_prefix_ordinal,
)

from tests.conftest import last_job_id, sha256, spy_rewrites

PATHS = ["task", "shuffle"]


def _unit_bytes(spark, table) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for r in table.manifest_records(spark):
        out[r["partition"]] += r["file_bytes"]
    return out


@contextlib.contextmanager
def _rewrite_path(spark, table, path: str):
    """Pin which path every clustering unit takes: ``task`` keeps the
    session's maxPartitionBytes (far above these fixtures' units);
    ``shuffle`` lowers it below the smallest unit's bytes. Restored on
    exit (the session is shared)."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if path == "shuffle":
        spark.conf.set(key, str(min(_unit_bytes(spark, table).values()) - 1))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _assert_path(table, result: dict, path: str) -> None:
    """Which path ran, as the summary, the snapshot summary and the
    ``committed`` lineage event report it; the phases of the job (the
    snapshot summary is written before the commit's own lap)."""
    want = result["units"] if path == "shuffle" else 0
    snap = table.snapshots()[-1]["summary"]
    assert result["units_shuffled"] == want
    assert snap["units_shuffled"] == want
    assert LineageLog(table.root, result["job_tag"]).committed()["units_shuffled"] == want
    assert set(result["phases"]) == {"plan", "rewrite", "commit"}
    assert set(snap["phases"]) == {"plan", "rewrite"}


def test_zorder_matches_slow_reference():
    rng = np.random.default_rng(1)
    a = rng.integers(0, 2**16, 200).astype(np.uint64)
    b = rng.integers(0, 2**16, 200).astype(np.uint64)
    z = interleave_bits([a, b], 16)

    def slow(x, y):
        r = 0
        for i in range(16):
            r |= ((int(x) >> i) & 1) << (2 * i) | ((int(y) >> i) & 1) << (2 * i + 1)
        return r

    assert all(int(z[k]) == slow(a[k], b[k]) for k in range(200))


@pytest.mark.parametrize("dims,bits", [(2, 5), (3, 3)])
def test_hilbert_is_permutation_with_unit_steps(dims, bits):
    coords = np.array(list(itertools.product(range(2**bits), repeat=dims)), dtype=np.uint64)
    h = hilbert_index([coords[:, j] for j in range(dims)], bits)
    assert sorted(h.tolist()) == list(range((2**bits) ** dims))
    pts = coords[np.argsort(h)].astype(np.int64)
    steps = np.abs(np.diff(pts, axis=0)).sum(axis=1)
    assert (steps == 1).all()  # the defining Hilbert locality property


def test_string_prefix_ordinal_order_preserving():
    xs = ["doc000000000001", "doc000000000999", "apple", "zebra", "", None]
    o = string_prefix_ordinal(xs)
    import pandas as pd

    trunc = pd.Series(xs).fillna("").astype(str).str.slice(0, 8)
    assert (np.argsort(o, kind="stable") == np.argsort(trunc.values, kind="stable")).all()


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize("curve", ["zorder", "hilbert"])
def test_cluster_rewrite_equivalence_and_pruning(spark, tmp_path, curve, path):
    t = write_token_table(spark, tmp_path / curve, n_rows=6000, files_per_source=8, max_tok=256)
    pre_sid = t.current_snapshot_id()
    m_before = t.manifest_df(spark)
    files_before = m_before.count()

    # baseline pruning power for an n_tok range predicate
    lo, hi = 16, 32
    pruned_before = prune_files(m_before, n_tok_range=(lo, hi)).count()

    with _rewrite_path(spark, t, path):
        result = cluster(spark, t, columns=("n_tok", "doc_id"), curve=curve,
                         target_file_bytes=48 * 1024)
    assert result["snapshot_id"] == pre_sid + 1
    _assert_path(t, result, path)

    # correctness: scan equivalence + snapshot isolation
    assert_scan_equivalent(t.scan(spark, pre_sid), t.scan(spark))

    m_after = t.manifest_df(spark)
    files_after = m_after.count()
    pruned_after = prune_files(m_after, n_tok_range=(lo, hi)).count()
    # clustering must tighten n_tok ranges: the SAME predicate selects a
    # smaller fraction of files than before
    frac_before = pruned_before / files_before
    frac_after = pruned_after / files_after
    assert frac_after < frac_before, (
        f"{curve}: pruning fraction did not improve "
        f"({frac_before:.2f} -> {frac_after:.2f})"
    )

    # pruned scan correctness: manifest-pruned file set yields the same
    # rows as the unpruned scan under the predicate
    surviving = [r.file_path for r in prune_files(m_after, n_tok_range=(lo, hi))
                 .select("file_path").collect()]
    via_pruned = (
        t.scan(spark, files=surviving).filter(F.col("n_tok").between(lo, hi)).count()
    )
    via_full = t.scan(spark).filter(F.col("n_tok").between(lo, hi)).count()
    assert via_pruned == via_full

    # zkey stats stamped in the manifest
    zrows = m_after.filter(F.col("min_zkey").isNotNull()).count()
    assert zrows == files_after


@pytest.mark.parametrize("path", PATHS)
def test_cluster_resume(spark, tmp_path, path):
    t = write_token_table(spark, tmp_path / "resume", n_rows=2000, files_per_source=4, max_tok=64)
    with _rewrite_path(spark, t, path):
        before = last_job_id(spark)
        with pytest.raises(RuntimeError, match="injected failure"):
            cluster(spark, t, curve="zorder", target_file_bytes=48 * 1024,
                    job_id="clresume", _fail_after_units=1)
        assert t.current_snapshot_id() == 1
        assert len(LineageLog(t.root, "clresume").completed_units()) == 1
        if path == "task":  # the crashed unit ran as its own in-task job
            assert last_job_id(spark) == before + 1
        result = cluster(spark, t, curve="zorder", target_file_bytes=48 * 1024,
                         job_id="clresume")
    assert result["snapshot_id"] == 2
    _assert_path(t, result, path)
    assert_scan_equivalent(t.scan(spark, 1), t.scan(spark))


def test_mm3_hash_int_matches_spark(spark):
    """_partition_remap relies on reproducing Spark's murmur3 exactly;
    verify _mm3_hash_int against F.hash over a value sweep."""
    from feature_engineering_poc_spark.lakehouse.clustering import _mm3_hash_int

    vals = list(range(0, 200)) + [2**31 - 1, 12345678, 987654321]
    df = spark.createDataFrame([(v,) for v in vals], "v int").select(
        "v", F.hash("v").alias("h")
    )
    got = {r.v: r.h for r in df.collect()}
    for v in vals:
        assert _mm3_hash_int(v) == got[v], v


def test_partition_remap_places_buckets_exactly(spark):
    """repartition(n, remap[bucket]) must land bucket i in partition i —
    the property the sampling-free range placement depends on."""
    from pyspark.sql.functions import spark_partition_id

    from feature_engineering_poc_spark.lakehouse.clustering import _partition_remap

    for n in (2, 5, 8):
        remap = _partition_remap(n)
        assert len(set(remap)) == n
        df = spark.createDataFrame([(b, remap[b]) for b in range(n)], "bucket int, pid int")
        placed = df.repartition(n, "pid").select("bucket", spark_partition_id().alias("p"))
        assert {(r.bucket, r.p) for r in placed.collect()} == {(b, b) for b in range(n)}


@pytest.mark.parametrize("path", PATHS)
def test_cluster_output_files_range_disjoint(spark, tmp_path, path):
    """Both rewrite paths must keep what range partitioning guaranteed:
    per-file zkey envelopes that do not interleave (this is the
    file-pruning power the op exists for)."""
    t = write_token_table(spark, tmp_path / "disj", n_rows=4000, files_per_source=6, max_tok=128)
    with _rewrite_path(spark, t, path):
        result = cluster(spark, t, curve="zorder", target_file_bytes=32 * 1024)
    _assert_path(t, result, path)
    m = t.manifest_df(spark).select("partition", "min_zkey", "max_zkey").collect()
    by_part = {}
    for r in m:
        assert r.min_zkey is not None and r.max_zkey is not None
        by_part.setdefault(r.partition, []).append((r.min_zkey, r.max_zkey))
    for part, spans in by_part.items():
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            # adjacent files may share a boundary key value, never interleave
            assert hi1 <= lo2, (part, (lo1, hi1), (lo2, hi2))


def test_cluster_task_path_one_job_equal_slices(spark, tmp_path):
    """Units that fit one task run as ONE Spark job in total, and each
    unit writes exactly n_out files whose row counts differ by <= 1."""
    t = write_token_table(spark, tmp_path / "one", n_rows=4000, files_per_source=6, max_tok=128)
    target = 32 * 1024
    n_out = {p: max(1, round(b / target)) for p, b in _unit_bytes(spark, t).items()}
    assert max(n_out.values()) > 1
    before = last_job_id(spark)
    result = cluster(spark, t, curve="zorder", target_file_bytes=target)
    assert last_job_id(spark) == before + 1
    _assert_path(t, result, "task")
    rows: dict[str, list[int]] = defaultdict(list)
    for r in t.manifest_records(spark):
        rows[r["partition"]].append(r["record_count"])
    assert {p: len(c) for p, c in rows.items()} == n_out
    for part, counts in rows.items():
        assert max(counts) - min(counts) <= 1, (part, counts)


def test_cluster_slices_match_serial_reference(spark, tmp_path, monkeypatch):
    """Each in-task slice takes and writes its own rows on the task's
    thread pool; the files are byte-identical to a serial pyarrow
    rewrite: one take of the whole sorted unit, ``slice``, zstd."""
    t = write_token_table(spark, tmp_path / "t", n_rows=4000, files_per_source=6, max_tok=128)
    calls = spy_rewrites(monkeypatch)
    result = cluster(spark, t, curve="hilbert", target_file_bytes=16 * 1024)
    _assert_path(t, result, "task")
    specs = [s for job_specs, _ in calls for s in job_specs]
    assert max(len(s["outs"]) for s in specs) > 1
    ref_path = tmp_path / "ref.parquet"
    for spec in specs:
        tbl = pa.concat_tables([pq.read_table(f, columns=["doc_id", "tokens", "n_tok", "source"])
                                for f in spec["files"]])
        zkey = _table_keys(spec["key"], tbl)
        order = pc.sort_indices(pa.table({"z": zkey, "d": tbl["doc_id"]}),
                                sort_keys=[("z", "ascending"), ("d", "ascending")]).to_numpy()
        ref = (tbl.take(order).replace_schema_metadata(None)
               .append_column("zkey", pa.array(zkey[order])))
        n, k = ref.num_rows, len(spec["outs"])
        for i, out in enumerate(spec["outs"]):
            lo, hi = i * n // k, (i + 1) * n // k
            pq.write_table(ref.slice(lo, hi - lo), ref_path, compression="zstd")
            assert sha256(out) == sha256(ref_path), out


def test_cluster_paths_agree_on_keys(spark, tmp_path):
    """The in-task rewrite and the shuffle path compute the same curve
    key for every row (one key function, ``_keys``)."""
    keyed = {}
    for path in PATHS:
        t = write_token_table(spark, tmp_path / path, n_rows=2000, files_per_source=4,
                              max_tok=64)
        with _rewrite_path(spark, t, path):
            result = cluster(spark, t, curve="hilbert", target_file_bytes=16 * 1024)
        _assert_path(t, result, path)
        files = [r["file_path"] for r in t.manifest_records(spark)]
        keyed[path] = sorted(
            (r.doc_id, r.zkey)
            for r in spark.read.parquet(*files).select("doc_id", "zkey").collect()
        )
    assert keyed["task"] == keyed["shuffle"]


def test_cluster_task_path_output_independent_of_file_order(spark, tmp_path):
    """Rows with equal curve keys are ordered by doc_id, so the in-task
    outputs are byte-identical whatever the order of the manifest rows
    (the unit's file order). ``max_tok=16`` leaves nine n_tok values, so
    most keys are shared."""
    a = write_token_table(spark, tmp_path / "a", n_rows=3000, files_per_source=6, max_tok=16)
    shutil.copytree(a.root, tmp_path / "b")  # the copy's manifest names a's files
    b = TokenTable(tmp_path / "b")
    rows = b.manifest_records(spark)
    b.commit_delta([r["file_path"] for r in rows], rows[::-1], operation="reorder")
    a.commit_delta([], [], operation="touch")  # same snapshot id, so same output names
    outputs = []
    for t in (a, b):
        result = cluster(spark, t, curve="zorder", target_file_bytes=16 * 1024)
        _assert_path(t, result, "task")
        outputs.append(sorted(
            (r["partition"], Path(r["file_path"]).name,
             hashlib.sha256(Path(r["file_path"]).read_bytes()).hexdigest())
            for r in t.manifest_records(spark)
        ))
    assert len(outputs[0]) > 4  # several slices per unit
    assert outputs[0] == outputs[1]
