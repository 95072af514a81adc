"""Bin-packing small-file compaction (north_rule operator #1).

Shape of the job, scale-first:

1. PLAN (driver, metadata only): filter the manifest to
   smaller-than-threshold files, FFD-bin-pack per partition
   (plans/binpack.py). No data rows are read for planning.
2. EXECUTE (cluster, one shuffle-free Spark job per chunk of
   ``job.UNITS_PER_JOB`` partition units): each FFD bin is one in-task
   pyarrow rewrite that reads exactly the binned files, sorts them by
   doc_id, writes one zstd file to a DETERMINISTICALLY-NAMED path
   (idempotent rerun) and returns its footer stats. Nothing crosses
   partitions. clustering.py runs its single-task units and merge.py
   its copy-on-write batches through the same kernel
   (``_rewrite_bins_distributed``).
3. CHECKPOINT + COMMIT: job.py's skeleton — a lineage record per
   completed partition unit (a resumed job skips it), then one atomic
   snapshot swap: old manifest − compacted files + new files. Readers
   pinned to the old snapshot still resolve the old files (they are
   not deleted until snapshot expiry — expire.py).

Reference precedent: Delta ``optimizeWrite``/``autoCompact`` knobs the
reference enables but delegates (SparkSessionManager.scala:73-74); here
the mechanism is explicit and from scratch.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..plans.binpack import pack_bins
from .job import MaintenanceJob, TaskUnit
from .metadata import TokenTable

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _rewrite_bins_distributed(
    spark: SparkSession, bin_specs: list[dict]
) -> list[list[dict]]:
    """Execute in-task rewrites as ONE shuffle-free Spark job; returns
    each spec's manifest rows, in spec order.

    Each task receives specs, reads each spec's files with pyarrow
    (vectorized C++, no per-row Python), rewrites them, writes its
    outputs with zstd, and returns their manifest rows (footer stats
    computed in-task — no second pass).

    A spec is ``{"files", "partition", "outs": [path, ...], "key"}``.
    Without a ``key`` (compaction) the bin is sorted by doc_id and
    written to its one output. With a curve ``key`` (clustering.py)
    the rows get their curve key (``clustering._table_keys``), are
    sorted on it with ties broken by doc_id (the bytes written do not
    depend on the order of the files) and cut into ``len(outs)``
    equal-row slices, each written with the ``zkey`` column so its
    footer carries zkey min/max. A MERGE batch spec carries ``apply``
    (the source rows' parquet files) instead, and merge.py's
    ``_merge_in_task`` applies them and names one output per ``source``
    value.

    Rewrites are embarrassingly parallel across bins: no shuffle, no
    range-sampling pass, parallelism = number of bins (at 100 TB:
    hundreds of thousands). Inside a task, a spec's outputs are built
    and written on a thread pool of ``min(outputs, cores)`` threads
    (pyarrow's take and parquet write release the GIL), so the cores
    that finish the small specs early help write a skewed unit's slices;
    each thread holds one slice, never a sorted copy of the whole unit.
    """
    import json as _json

    def kernel(rows):
        import os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.compute as pc

        from feature_engineering_poc_spark.lakehouse import fs as fslayer

        def write(idx: int, path: str, partition: str, make) -> dict:
            part = make()
            # zstd: rewritten files are cold data — trade CPU (which
            # scales with executors) for bytes (which cost forever)
            n_bytes = fslayer.write_parquet(part, path, compression="zstd")
            doc = part.column("doc_id")
            ntk = part.column("n_tok")
            zk = part.column("zkey") if "zkey" in part.column_names else None
            return {
                "file_path": path,
                "partition": partition,
                "record_count": part.num_rows,
                "file_bytes": n_bytes,
                "min_doc_id": pc.min(doc).as_py(),
                "max_doc_id": pc.max(doc).as_py(),
                "min_n_tok": pc.min(ntk).as_py(),
                "max_n_tok": pc.max(ntk).as_py(),
                "min_zkey": None if zk is None else pc.min(zk).as_py(),
                "max_zkey": None if zk is None else pc.max(zk).as_py(),
                "_spec": idx,
            }

        cols = ["doc_id", "tokens", "n_tok", "source"]
        for idx, spec_json in rows:
            spec = _json.loads(spec_json)
            # fs layer: inputs/outputs may be local paths or
            # file://-or-object-store URIs (fs.py). Reads stay sequential.
            tables = [fslayer.read_parquet(f, columns=cols) for f in spec["files"]]
            if "apply" in spec:
                from feature_engineering_poc_spark.lakehouse.merge import _merge_in_task

                slices = [(path, partition, lambda t=t: t)
                          for path, partition, t in _merge_in_task(spec, tables)]
            elif spec.get("key") is None:
                tbl = pa.concat_tables(tables)
                slices = [(spec["outs"][0], spec["partition"],
                           lambda: tbl.take(pc.sort_indices(tbl.column("doc_id"))))]
            else:
                from feature_engineering_poc_spark.lakehouse.clustering import _table_keys

                # drop the inputs' Spark row schema (it omits zkey and
                # would hide the column from Spark schema inference)
                tbl = pa.concat_tables(tables).replace_schema_metadata(None)
                outs = spec["outs"]
                zkey = _table_keys(spec["key"], tbl)
                # ties broken by the unique doc_id: the output does
                # not depend on the order of the unit's files
                order = pc.sort_indices(
                    pa.table({"z": zkey, "d": tbl.column("doc_id")}),
                    sort_keys=[("z", "ascending"), ("d", "ascending")],
                ).to_numpy()
                n, k = tbl.num_rows, max(1, min(len(outs), tbl.num_rows))
                cuts = [i * n // k for i in range(k + 1)]

                def cut(i: int):
                    at = order[cuts[i]:cuts[i + 1]]
                    return tbl.take(at).append_column("zkey", pa.array(zkey[at]))

                slices = [(outs[i], spec["partition"], lambda i=i: cut(i)) for i in range(k)]
            # a MERGE batch whose rows are all deleted has no outputs
            with ThreadPoolExecutor(max(1, min(len(slices), os.cpu_count() or 1))) as pool:
                yield from pool.map(lambda s: write(idx, *s), slices)

    # Several specs ride one task (up to 4 waves of tasks, capped by the
    # spec count): fewer task launches than task-per-spec, and the waves
    # keep the cores busy when spec sizes differ. parallelize + mapPartitions:
    # no shuffle, and each task runs one Python worker.
    n_slices = max(1, min(len(bin_specs), spark.sparkContext.defaultParallelism * 4))
    rdd = spark.sparkContext.parallelize(
        [(i, _json.dumps(s)) for i, s in enumerate(bin_specs)], n_slices
    )
    per_spec: list[list[dict]] = [[] for _ in bin_specs]
    for row in rdd.mapPartitions(kernel).collect():
        per_spec[row.pop("_spec")].append(row)
    return per_spec


def compact(
    spark: SparkSession,
    table: TokenTable,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    job_id: str | None = None,
    partitions: list[str] | None = None,
    _fail_after_units: int | None = None,
) -> dict:
    """Compact small files; returns a summary dict (snapshot_id=None if no-op).

    Iceberg-binpack semantics with zero shuffle: each file below
    0.75 × ``target_file_bytes`` is a candidate, and each FFD bin
    becomes one task that rewrites its files into one doc_id-sorted
    output file (clustering.py is the re-sort op).

    Up to ``job.UNITS_PER_JOB`` (64) partitions' bins ride ONE Spark
    job, so a table with 10^5 small partitions compacts in ~1.5k jobs
    instead of 10^5; lineage checkpoints stay per partition.

    A ``job_id`` that already committed returns its recorded result —
    replays are no-ops (idempotent under foreachBatch-style reruns).
    ``_fail_after_units`` is the crash test hook (``MaintenanceJob``).
    """
    job = MaintenanceJob(spark, table, "compact", job_id, _fail_after_units)
    if (prior := job.replayed()) is not None:
        return prior

    # PLAN — metadata only, on the driver: the manifest is filtered to
    # the small files of the wanted partitions in Arrow before any row
    # becomes a Python object — same driver planning Iceberg's
    # rewriteDataFiles does.
    m = table.manifest_table(job.parent)
    wanted = pc.less(m["file_bytes"], int(target_file_bytes * 0.75))
    if partitions is not None:
        in_parts = pc.is_in(m["partition"], value_set=pa.array(partitions, pa.string()))
        wanted = pc.and_(wanted, in_parts)
    small = m.filter(wanted).to_pydict()
    by_part: dict[str, list] = defaultdict(list)
    for part, path, size, rows in zip(small["partition"], small["file_path"],
                                      small["file_bytes"], small["record_count"]):
        by_part[part].append((path, size, rows))

    units = []  # (partition, bins)
    for part in sorted(by_part):
        bins = pack_bins(by_part[part], part, target_file_bytes)
        if len(by_part[part]) > len(bins):  # merging actually reduces file count
            units.append((part, bins))
    if not units:
        return {"snapshot_id": None, "units": 0, "files_in": 0, "files_out": 0, "rows": 0}

    done = job.done()
    resumed = sum(1 for part, _ in units if part in done)
    task_units = []
    for part, bins in units:
        if part in done:
            continue
        out_dir = table.new_data_dir(job.tag) / part
        specs = [
            {"files": b.files, "partition": part,
             "outs": [str(out_dir / f"bin-{i:05d}.parquet")]}
            for i, b in enumerate(bins)
        ]
        metrics = {
            "files_rewritten": sum(len(b.files) for b in bins),
            "bytes_compacted": sum(b.bytes for b in bins),
            "rows": sum(b.rows for b in bins),
        }
        task_units.append(TaskUnit(part, specs, [f for b in bins for f in b.files], metrics))
    job.lap("plan")

    # EXECUTE: every bin is one in-task rewrite.
    job.run(task_units)
    job.lap("rewrite")

    done = job.done()
    return job.commit("compact", {
        "files_compacted": sum(len(rec["files_in"]) for rec in done.values()),
        "rows_rewritten": sum(rec["metrics"]["rows"] for rec in done.values()),
        "bytes_compacted": sum(rec["metrics"]["bytes_compacted"] for rec in done.values()),
        "units": len(units),
        "units_resumed": resumed,
    }, done)
