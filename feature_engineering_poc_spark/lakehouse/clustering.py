"""Z-order / Hilbert clustering rewrite (north_rule ops #2-3).

Reorders each partition's rows along a space-filling curve over the
cluster columns so that file-level min/max stats become selective for
MULTI-column predicates — the pruning mechanism is manifest min/max
(metadata.py scan planning), the clustering rewrite is what makes
those ranges tight.

Scale shape:
- Curve keys are computed by one numpy function (``_keys`` over
  plans/sfc.py) — zero per-row Python — in-task or inside an
  Arrow-batched pandas UDF.
- Column bounds for grid normalization come from the MANIFEST
  (min-of-mins / max-of-maxs per partition) — no data pass.
- A partition unit whose summed file bytes fit one scan task
  (``spark.sql.files.maxPartitionBytes``, the memory envelope of a
  compaction bin) is rewritten INSIDE one task: pyarrow read, curve
  key, sort by (key, doc_id), ``n_out`` equal-row zstd slices, footer
  stats — compaction's kernel and chunked executor, so all such units
  share ONE shuffle-free Spark job (``MaintenanceJob.run``, job.py).
- A larger unit takes the shuffle path: one range placement per unit
  (quantile boundaries + a bucket hash exchange) + in-partition sort by
  (key, doc_id); that is the minimum data movement a rewrite above one
  task's memory can do. ``units_shuffled`` in the summary counts these units.
- The zkey is PERSISTED as an extra column in the rewritten files, so
  parquet footers (and thus the manifest) carry zkey min/max for
  curve-range pruning; table scans use the fixed 4-column schema and
  never see it.
- Per-partition resumable units with lineage checkpoints, atomic
  snapshot commit — job.py's skeleton, as in compaction and MERGE.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.sfc import (
    hilbert_index,
    interleave_bits,
    normalize_to_grid,
    string_prefix_ordinal,
)
from .job import MaintenanceJob, TaskUnit
from .metadata import TOKEN_SCHEMA, TokenTable, list_parquet_files
from .stats import file_stats_rows

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _mm3_hash_int(value: int, seed: int = 42) -> int:
    """Murmur3_x86_32.hashInt — Spark's hash of an IntegerType column.

    ``repartition(n, col)`` places a row in partition
    ``pmod(murmur3(col), n)``; reproducing the hash on the driver lets
    us pick column VALUES that land in chosen partitions (see
    ``_partition_remap``). Verified against ``F.hash`` in
    tests/test_clustering.py.
    """

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    k1 = ((value & 0xFFFFFFFF) * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = (rotl(k1, 15) * 0x1B873593) & 0xFFFFFFFF
    h1 = (seed ^ k1) & 0xFFFFFFFF
    h1 = (rotl(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # total bytes hashed
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_remap(n: int) -> list[int]:
    """For each target partition i < n, an int value x with
    pmod(murmur3(x), n) == i — so ``repartition(n, remap[bucket])``
    places bucket i exactly in partition i (monotone placement, which a
    plain hash of the bucket id would scramble)."""
    remap: list[int | None] = [None] * n
    found, x = 0, 0
    while found < n:
        i = _mm3_hash_int(x) % n
        if remap[i] is None:
            remap[i] = x
            found += 1
        x += 1
    return remap  # type: ignore[return-value]


@dataclass
class _ColSpec:
    name: str
    kind: str  # "numeric" | "string"
    lo: float
    hi: float


def _keys(specs: list[_ColSpec], curve: str, bits: int, cols) -> np.ndarray:
    """Curve key (int64) per row; ``cols`` are pandas Series in
    ``specs`` order. The one key function of both rewrite paths."""
    grids = []
    for series, spec in zip(cols, specs):
        if spec.kind == "string":
            vals = string_prefix_ordinal(series).astype(np.float64)
        else:
            vals = series.to_numpy(dtype=np.float64, na_value=spec.lo)
        grids.append(normalize_to_grid(vals, spec.lo, spec.hi, bits))
    key = hilbert_index(grids, bits) if curve == "hilbert" else interleave_bits(grids, bits)
    return key.astype(np.int64)


def _make_key_udf(specs: list[_ColSpec], curve: str, bits: int):
    """Factory: pandas UDF computing the SFC key for these column specs."""

    def _kernel(*cols: pd.Series) -> pd.Series:
        return pd.Series(_keys(specs, curve, bits, cols))

    return F.pandas_udf(_kernel, "long")


def _table_keys(key: dict, tbl) -> np.ndarray:
    """Curve keys of a pyarrow table for an in-task rewrite; ``key`` is
    the JSON key spec ``cluster`` puts into the unit's task spec."""
    specs = [_ColSpec(**c) for c in key["cols"]]
    cols = [tbl.column(s.name).to_pandas() for s in specs]
    return _keys(specs, key["curve"], key["bits"], cols)


def _partition_bounds(
    spark: SparkSession, unit: dict, columns: list[str], files: list[str]
) -> list[_ColSpec]:
    """Grid bounds per cluster column — from the unit's manifest
    aggregates for the stats columns (doc_id, n_tok): zero extra Spark
    jobs on the default path. Columns without manifest stats cost one
    column-pruned data agg."""
    specs: list[_ColSpec] = []
    covered = {"doc_id", "n_tok"}
    agg_row = None
    extra = [c for c in columns if c not in covered]
    if extra:
        df = spark.read.schema(TOKEN_SCHEMA).parquet(*files)
        aggs = []
        for c in extra:
            aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
        agg_row = df.agg(*aggs).collect()[0]
    for c in columns:
        if c == "doc_id":
            lo, hi = string_prefix_ordinal([unit["min_doc_id_min"] or "",
                                            unit["max_doc_id_max"] or ""])
            specs.append(_ColSpec(c, "string", float(lo), float(hi)))
        elif c == "n_tok":
            specs.append(_ColSpec(c, "numeric", float(unit["min_n_tok_min"] or 0),
                                  float(unit["max_n_tok_max"] or 1)))
        else:
            lo, hi = agg_row[f"lo_{c}"], agg_row[f"hi_{c}"]
            if isinstance(lo, str):
                lo, hi = string_prefix_ordinal([lo or "", hi or ""])
                specs.append(_ColSpec(c, "string", float(lo), float(hi)))
            else:
                specs.append(_ColSpec(c, "numeric", float(lo or 0), float(hi or 1)))
    return specs


def cluster(
    spark: SparkSession,
    table: TokenTable,
    columns: tuple[str, ...] = ("n_tok", "doc_id"),
    curve: str = "zorder",
    bits: int = 16,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    job_id: str | None = None,
    partitions: list[str] | None = None,
    _fail_after_units: int | None = None,
) -> dict:
    if curve not in ("zorder", "hilbert"):
        raise ValueError(f"unknown curve: {curve}")
    job = MaintenanceJob(spark, table, curve, job_id, _fail_after_units)
    if (prior := job.replayed()) is not None:
        return prior
    # Driver-side planning: the manifest is filtered to the wanted
    # partitions and reduced to one row per unit (its files, sizes and
    # stats envelope) in Arrow.
    m = table.manifest_table(job.parent)
    if partitions is not None:
        m = m.filter(pc.is_in(m["partition"], value_set=pa.array(partitions, pa.string())))
    if m.num_rows == 0:
        return {"snapshot_id": None, "units": 0}
    units = m.group_by("partition", use_threads=False).aggregate([
        ("file_path", "list"), ("file_bytes", "sum"), ("record_count", "sum"),
        ("min_doc_id", "min"), ("max_doc_id", "max"),
        ("min_n_tok", "min"), ("max_n_tok", "max"),
    ])
    by_part = {u["partition"]: u for u in units.to_pylist()}

    done = job.done()
    # A unit whose input fits one scan task is rewritten inside one
    # task (the memory envelope of a compaction bin); larger units
    # take the shuffle path.
    task_bytes = job.task_bytes()
    shuffled = {p for p, u in by_part.items() if u["file_bytes_sum"] > task_bytes}

    def plan_unit(part: str):
        unit = by_part[part]
        files = unit["file_path_list"]
        total_bytes = unit["file_bytes_sum"]
        metrics = {"files_rewritten": len(files), "bytes": total_bytes,
                   "rows": unit["record_count_sum"]}
        n_out = max(1, round(total_bytes / target_file_bytes))
        specs = _partition_bounds(spark, unit, list(columns), files)
        out_dir = table.new_data_dir(job.tag) / part
        return files, metrics, n_out, specs, out_dir

    def task_unit(part: str) -> TaskUnit:
        files, metrics, n_out, specs, out_dir = plan_unit(part)
        spec = {
            "files": files,
            "partition": part,
            "outs": [str(out_dir / f"zkey-{i:05d}.parquet") for i in range(n_out)],
            "key": {"cols": [asdict(c) for c in specs], "curve": curve, "bits": bits},
        }
        return TaskUnit(part, [spec], files, metrics)

    def run_shuffle_unit(part: str) -> None:
        files, metrics, n_out, specs, out_dir = plan_unit(part)
        key_udf = _make_key_udf(specs, curve, bits)
        df = spark.read.schema(TOKEN_SCHEMA).parquet(*files)
        keyed = df.withColumn("zkey", key_udf(*[F.col(s.name) for s in specs]))

        # Range placement WITHOUT repartitionByRange: its boundary
        # sampling job re-executes the child plan — a second full pass
        # over the tokens payload plus a second UDF evaluation per unit
        # (the same hidden pass the r5 merge rewrite removed). Instead:
        # (1) one NARROW pass (cluster columns only — the payload never
        # leaves the parquet footprint) computes zkey quantile
        # boundaries; (2) the single full pass assigns each row its
        # bucket and an int remap value whose murmur3 lands bucket i in
        # partition i exactly, so one hash exchange + in-partition sort
        # reproduces the range layout (disjoint per-file zkey envelopes,
        # same pruning power). Falls back to repartitionByRange when the
        # key exceeds double precision (boundary literals would be
        # lossy) — impossible for the default 2 cols × 16 bits.
        if n_out == 1:
            # single-bin unit (≈ one target file of data): round-robin
            # into one reduce task — coalesce(1) would also collapse the
            # scan+UDF map side onto one core
            placed = keyed.repartition(1)
        elif bits * len(specs) <= 52:
            narrow = (
                spark.read.schema(TOKEN_SCHEMA)
                .parquet(*files)
                .select(*[s.name for s in specs])
                .withColumn("zkey", key_udf(*[F.col(s.name) for s in specs]))
            )
            probs = [i / n_out for i in range(1, n_out)]
            bnds = sorted(int(b) for b in narrow.approxQuantile("zkey", probs, 0.001))
            bucket = F.size(
                F.filter(
                    F.array(*[F.lit(b) for b in bnds]),
                    lambda b: F.col("zkey") > b,
                )
            )
            remap = F.array(*[F.lit(x) for x in _partition_remap(n_out)])
            placed = keyed.withColumn(
                "_pid", F.element_at(remap, bucket + F.lit(1))
            ).repartition(n_out, "_pid").drop("_pid")
        else:
            placed = keyed.repartitionByRange(n_out, "zkey")
        (
            placed.sortWithinPartitions("zkey", "doc_id")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max(1, (metrics["rows"] + n_out - 1) // n_out + 1))
            .parquet(str(out_dir))
        )
        new_files = list_parquet_files(out_dir)
        stats = file_stats_rows(spark, [(f, part) for f in new_files])
        job.log.mark_unit_done(
            part,
            files_in=files,
            new_manifest_rows=stats,
            metrics={**metrics, "files_written": len(new_files)},
        )

    # In-task units share one chunked executor; shuffle units run
    # concurrently, one unit's jobs per thread.
    pending = [p for p in sorted(by_part) if p not in done]
    in_task = [task_unit(p) for p in pending if p not in shuffled]
    job.lap("plan")
    job.run(in_task)
    job.run_each(run_shuffle_unit, [p for p in pending if p in shuffled])
    job.lap("rewrite")

    done = job.done()
    return job.commit(f"cluster-{curve}", {
        "curve": curve,
        "columns": list(columns),
        "files_rewritten": sum(len(rec["files_in"]) for rec in done.values()),
        "rows": sum(rec["metrics"]["rows"] for rec in done.values()),
        "units": len(by_part),
        "units_shuffled": len(shuffled),
    }, done)


def prune_files(
    manifest_df: DataFrame,
    n_tok_range: tuple[int, int] | None = None,
    doc_id_range: tuple[str, str] | None = None,
) -> DataFrame:
    """Manifest-level min/max file pruning for a conjunctive predicate.

    Returns the surviving manifest rows; pass their file_paths to
    ``TokenTable.scan(files=...)``. This happens BEFORE Catalyst sees
    any scan — the file list itself shrinks.
    """
    out = manifest_df
    if n_tok_range is not None:
        lo, hi = n_tok_range
        out = out.filter((F.col("max_n_tok") >= lo) & (F.col("min_n_tok") <= hi))
    if doc_id_range is not None:
        lo, hi = doc_id_range
        out = out.filter((F.col("max_doc_id") >= lo) & (F.col("min_doc_id") <= hi))
    return out
