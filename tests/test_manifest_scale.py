"""The Arrow manifest path at a million rows: planning and the commit run
on the driver, with no Spark job and no per-row Python over the whole
manifest."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from feature_engineering_poc_spark.lakehouse import TokenTable
from feature_engineering_poc_spark.lakehouse.clustering import cluster
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.metadata import MANIFEST_ARROW
from tests.conftest import last_job_id

N = 1_000_000


def _padded(values: np.ndarray, prefix: str, suffix: str = "") -> pa.Array:
    digits = pc.utf8_lpad(pa.array(values).cast(pa.string()), 12, "0")
    return pc.binary_join_element_wise(prefix, digits, suffix, "")


def _synthetic_table(root) -> TokenTable:
    """A table whose one snapshot has an N-row manifest of fake paths
    (metadata only: no data file exists)."""
    t = TokenTable.create(root)
    i = np.arange(N)
    parts = np.array(["web", "books", "wiki", "code"])[i % 4]
    manifest = pa.table({
        "file_path": _padded(i, "/fake/data/f", ".parquet"),
        "partition": pa.array(parts),
        "record_count": pa.array(np.full(N, 100)),
        "file_bytes": pa.array(np.full(N, 4096)),
        "min_doc_id": _padded(i * 100, "doc"),
        "max_doc_id": _padded(i * 100 + 99, "doc"),
        "min_n_tok": pa.array(np.full(N, 8, np.int32)),
        "max_n_tok": pa.array(np.full(N, 512, np.int32)),
        "min_zkey": pa.nulls(N, pa.int64()),
        "max_zkey": pa.nulls(N, pa.int64()),
    }, schema=MANIFEST_ARROW)
    rel = "metadata/manifest-synthetic"
    (t.root / rel).mkdir(parents=True)
    pq.write_table(manifest, t.root / rel / "part-00000.parquet")
    t._publish(rel, 0, 1, "synthetic", None)
    return t


def test_million_row_manifest_plans_and_commits_on_driver(spark, tmp_path):
    t = _synthetic_table(tmp_path / "big")
    for op in (compact, cluster):
        before = last_job_id(spark)
        result = op(spark, t, partitions=["absent"])
        assert result["snapshot_id"] is None
        assert last_job_id(spark) == before  # planned without a Spark job

    removed = t.manifest_table()["file_path"].take(pa.array(np.arange(0, N, N // 5000)))
    removed = removed.to_pylist()
    assert len(removed) == 5000
    removed[0] = "file://" + removed[0]
    new_rows = [
        {"file_path": f"/fake/new/n{k:05d}.parquet", "partition": "web", "record_count": 7,
         "file_bytes": 512, "min_doc_id": f"new{k:05d}", "max_doc_id": f"new{k:05d}",
         "min_n_tok": 8, "max_n_tok": 9, "min_zkey": k, "max_zkey": k}
        for k in range(500)
    ]
    start = time.perf_counter()
    sid = t.commit_delta(removed, new_rows, operation="synthetic-delta")
    commit_s = time.perf_counter() - start
    assert commit_s <= 5.0, commit_s

    out = t.manifest_table(sid)
    assert out.num_rows == N - 5000 + 500
    gone = pa.array([p.removeprefix("file://") for p in removed])
    assert not pc.any(pc.is_in(out["file_path"], value_set=gone)).as_py()
    assert out.filter(pc.starts_with(out["file_path"], "/fake/new/")).to_pylist() == new_rows
