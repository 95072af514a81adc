"""Per-file column statistics for manifests — parquet FOOTER reads only.

Computing manifest stats must not rescan the data: at 100 TB a
stats pass that re-reads rows doubles the job's IO. Instead we read
parquet footers (row-group metadata) with pyarrow, DISTRIBUTED over the
executors via ``mapInPandas`` on a DataFrame of file paths — footer
reads are a few KB per file regardless of file size.

(Reference precedent: the reference delegates all stats to Delta;
we materialise them ourselves because manifest rewrite is a mandated
operator — BASELINE.json north_rule.)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .metadata import MANIFEST_SCHEMA

# Stats we track per file. tokens (array) carries no footer stats.
_STAT_COLS = ("doc_id", "n_tok", "zkey")


def _footer_stats(batch: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        _stats_records(batch["file_path"], batch["partition"]),
        columns=[f.name for f in MANIFEST_SCHEMA.fields],
    )


def _stats_records(paths, partitions) -> list[dict]:
    from . import fs as fslayer

    out = []
    for path, partition in zip(paths, partitions):
        # fs layer: footer read works on local paths or URIs (fs.py)
        pf = fslayer.parquet_file(path)
        md = pf.metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        have_stats = {c: True for c in _STAT_COLS if c in names}
        for rg in range(md.num_row_groups):
            for col in list(have_stats):
                st = md.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    have_stats[col] = False
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    lo, hi = lo.decode(), hi.decode()
                mins[col] = lo if col not in mins else min(mins[col], lo)
                maxs[col] = hi if col not in maxs else max(maxs[col], hi)
        # Fallback: column chunk without footer stats → one columnar read.
        missing = [c for c, ok in have_stats.items() if not ok]
        if missing:
            tbl = fslayer.read_parquet(path, columns=missing)
            for col in missing:
                arr = tbl.column(col)
                mins[col] = arr.to_pandas().min()
                maxs[col] = arr.to_pandas().max()
        out.append(
            {
                "file_path": path,
                "partition": partition,
                "record_count": md.num_rows,
                "file_bytes": fslayer.file_size(path),
                "min_doc_id": mins.get("doc_id"),
                "max_doc_id": maxs.get("doc_id"),
                "min_n_tok": None if mins.get("n_tok") is None else int(mins["n_tok"]),
                "max_n_tok": None if maxs.get("n_tok") is None else int(maxs["n_tok"]),
                "min_zkey": None if mins.get("zkey") is None else int(mins["zkey"]),
                "max_zkey": None if maxs.get("zkey") is None else int(maxs["zkey"]),
            }
        )
    return out


def file_stats_df(
    spark: SparkSession, files: list[tuple[str, str]], parallelism: int | None = None
) -> DataFrame:
    """Manifest-entry stats for ``(file_path, partition)`` pairs.

    Runs on executors; ~one footer read per file. Returns a DataFrame
    in MANIFEST_SCHEMA order.
    """
    if not files:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    paths_df = spark.createDataFrame(files, "file_path string, partition string").repartition(
        min(len(files), parallelism)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _footer_stats(b)

    return paths_df.mapInPandas(gen, MANIFEST_SCHEMA)


# Below this many files a footer-stats pass is cheaper on the driver
# (one ~KB footer read per file, sub-ms each) than as a Spark job —
# createDataFrame + repartition + mapInPandas + collect is two stages
# (a round-robin shuffle, then a Python worker per task) and costs a
# fixed few hundred ms per call, which would dominate the small-table
# calls of rewrite_manifests and of the shuffle-path clustering units.
SMALL_STATS_FILES = 256


def file_stats_rows(
    spark: SparkSession, files: list[tuple[str, str]],
    small_threshold: int | None = None,
) -> list[dict]:
    """Collected manifest-entry stats for ``(file_path, partition)`` pairs.

    Small file lists (≤ ``SMALL_STATS_FILES``) are read on the driver —
    zero Spark jobs; larger lists go through the distributed
    ``file_stats_df`` path (at 100 TB a rewrite unit can emit far more
    files than a driver loop should touch).
    """
    if not files:
        return []
    threshold = SMALL_STATS_FILES if small_threshold is None else small_threshold
    if len(files) <= threshold:
        return _stats_records([f for f, _ in files], [p for _, p in files])
    return [r.asDict() for r in file_stats_df(spark, files).collect()]
