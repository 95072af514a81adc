"""Thin filesystem layer (pyarrow.fs) for executor-side file IO.

Every direct file operation in the maintenance data plane (in-task
rewrite reads/writes, footer stats, expiry deletes, MERGE staging
cleanup) routes through this module so paths may be plain local
paths, ``file://`` URIs, or — on a real deployment — any
pyarrow-supported object store (``s3://``,
``gcs://``, ``hdfs://``): ``pyarrow.fs.FileSystem.from_uri`` dispatches
on the scheme. The sandbox only exercises local + ``file://`` (tested
end-to-end in tests/test_fs_layer.py); the object-storage deltas
SCALE.md documents (driver-side listing, per-file deletes) are now
confined to this one seam.

Deletes additionally get a DISTRIBUTED path: expiring a snapshot of a
10^12-sequence table can doom millions of files, and a driver-side
loop over a million object-store DELETE calls is hours of serial
latency. Above ``DELETE_DISTRIBUTED_THRESHOLD`` the file list fans out
over the executors via ``foreachPartition``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa
    from pyspark.sql import SparkSession

# Driver-side delete loops are fine for planning-sized lists; beyond
# this, deletion itself becomes a distributed job.
DELETE_DISTRIBUTED_THRESHOLD = 10_000


def resolve(path) -> tuple:
    """(pyarrow FileSystem, fs-local path) for a path or URI."""
    from pyarrow import fs as pafs

    p = str(path)
    if "://" in p or p.startswith("file:/"):
        return pafs.FileSystem.from_uri(p)
    return pafs.LocalFileSystem(), p


def read_parquet(path, columns: list[str] | None = None) -> "pa.Table":
    import pyarrow.parquet as pq

    filesystem, p = resolve(path)
    return pq.read_table(p, filesystem=filesystem, columns=columns)


def parquet_file(path):
    """An open ``pyarrow.parquet.ParquetFile`` (footer-only reads)."""
    import pyarrow.parquet as pq

    filesystem, p = resolve(path)
    return pq.ParquetFile(filesystem.open_input_file(p))


def write_parquet(tbl: "pa.Table", path, compression: str = "zstd") -> int:
    """Write one parquet file (creating parent dirs); returns its size."""
    import pyarrow.parquet as pq

    filesystem, p = resolve(path)
    parent = p.rsplit("/", 1)[0]
    if parent:
        filesystem.create_dir(parent, recursive=True)
    pq.write_table(tbl, p, filesystem=filesystem, compression=compression)
    return filesystem.get_file_info(p).size


def file_size(path) -> int:
    filesystem, p = resolve(path)
    return filesystem.get_file_info(p).size


def file_mtime(path) -> float | None:
    """Modification time (epoch seconds), or None if missing."""
    from pyarrow import fs as pafs

    filesystem, p = resolve(path)
    info = filesystem.get_file_info(p)
    if info.type == pafs.FileType.NotFound or info.mtime is None:
        return None
    return info.mtime.timestamp()


def delete(path) -> None:
    """Delete one file; missing files are not an error (idempotent GC).

    ONLY not-found is swallowed — permission/IO failures must propagate,
    or expire/GC would report files deleted that still exist.
    """
    from pyarrow import lib as palib

    filesystem, p = resolve(path)
    try:
        filesystem.delete_file(p)
    except FileNotFoundError:
        pass
    except (OSError, palib.ArrowInvalid) as e:
        # pyarrow surfaces local not-found as FileNotFoundError but some
        # filesystems raise generic errors with a not-found message
        if "No such file" in str(e) or "not found" in str(e).lower():
            return
        raise


def delete_dir(path) -> None:
    """Delete a directory and everything under it; a missing directory
    is not an error."""
    from pyarrow import fs as pafs

    filesystem, p = resolve(path)
    if filesystem.get_file_info(p).type != pafs.FileType.NotFound:
        filesystem.delete_dir(p)


def delete_files(
    paths: list[str],
    spark: "SparkSession | None" = None,
    distributed_threshold: int = DELETE_DISTRIBUTED_THRESHOLD,
) -> None:
    """Delete many files: driver loop for planning-sized lists, a
    ``foreachPartition`` fan-out beyond the threshold — one Spark job of
    one stage, no shuffle (each executor task resolves its own
    filesystem handle — no driver serialization of fs state)."""
    if spark is None or len(paths) <= distributed_threshold:
        for f in paths:
            delete(f)
        return

    def _delete_iter(part) -> None:
        from feature_engineering_poc_spark.lakehouse import fs as _fs

        for path in part:
            _fs.delete(path)

    n = max(1, min(len(paths) // 2000, 256))
    spark.sparkContext.parallelize(paths, n).foreachPartition(_delete_iter)
