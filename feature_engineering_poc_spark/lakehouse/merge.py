"""MERGE INTO over doc_id — copy-on-write, file-scoped (north_rule op #6).

Semantics (SQL MERGE): source rows carry an optional ``_op`` column in
{"upsert", "delete"} (absent → all upsert).

- matched + upsert  → update the target row's tokens/n_tok in place
  (``source`` is the partition column and is immutable under update,
  like Iceberg identity-partition best practice; updates never move a
  row across partitions)
- matched + delete  → remove the row
- not-matched + upsert → insert (routed to its own source partition)
- not-matched + delete → no-op
- duplicate source keys → error (SQL MERGE cardinality rule), or
  ``duplicate_policy="last"`` dedupe via salted two-phase aggregation
  (skew.py) keyed on a ``_seq`` ordering column when present.

Scale shape — ONE rewrite path: every batch is an in-task pyarrow
rewrite, and all batches share one shuffle-free Spark job (compaction's
kernel, job.py's executor). The broadcast cap (as in CAMEL's build-side
budget) bounds only what planning brings to the driver and broadcasts.

1. PROFILE + STAGE. One write of the prepared source to
   ``<data dir of the job>/_staging/src`` (deletes shed their payload)
   observes the key range, the row and upsert counts and the doc_ids'
   total bytes. The staged parquet replaces a cache of the source and
   is deleted when the merge returns or raises; a killed process leaves
   it to orphan GC. Manifest min/max doc_id overlap with the key range
   gives the candidate files (no data read).
2. PLAN. A column-pruned scan of the candidates (doc_id + file path)
   joins the staged keys. If the planning collect fits the cap
   (``_driver_bytes``), ONE collect brings back every source key and
   every match as (doc_id, size estimate, op flags, file id); the
   counts, the duplicate check and the null-``source`` insert check
   then run on the driver. A larger source is planned distributed: a
   countDistinct duplicate check, the probe join persisted once and
   grouped per touched file in one collect. Touched files are packed
   first-fit-decreasing by manifest bytes plus matched bytes into
   batches under ``spark.sql.files.maxPartitionBytes`` (one scan task,
   the task size clustering uses too). No write starts before the
   checks pass.
3. REWRITE. Each batch is one task: it reads its files and the source
   rows keyed in them, drops deletes, takes upserted tokens/n_tok (the
   target row keeps its ``source``), appends the inserts (batch 0),
   writes one zstd file per ``source`` value sorted by doc_id and
   returns in-task footer stats. A staged source within one task's
   bytes is read whole by every task; a larger one (and every
   distributed plan) is first cut into per-batch slices by one
   partitioned write. Batches are deterministic for a given parent
   snapshot and source, and each one is a lineage unit, so a rerun
   under the same job_id skips the batches that finished.
4. COMMIT: manifest − rewritten files + batch outputs, one atomic
   snapshot swap (job.py's skeleton, as in compaction and clustering).
   Old snapshots are untouched (snapshot isolation).

The summary records the seconds of each phase (``phases``: profile,
probe, rewrite, commit), the number of batches, the planning side and
whether the source was sliced.
"""

from __future__ import annotations

import hashlib
import logging
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.binpack import pack_bins
from . import fs as fslayer
from .job import MaintenanceJob, TaskUnit, _parse_size
from .metadata import TOKEN_SCHEMA, TokenTable, _strip_scheme, list_parquet_files
from .skew import salted_latest_by_key

# Size estimate of a source row: 4 bytes per token plus ROW_BYTES.
ROW_BYTES = 64

# Fixed-width bytes of one collected planning row besides its doc_id:
# the doc_id's offset and the size estimate (4 each), the file id (8)
# and three flags with their validity bits (see _driver_bytes).
DRIVER_ROW_BYTES = 20

# The staged source: the table's columns plus the MERGE op.
STAGED_SCHEMA = T.StructType(TOKEN_SCHEMA.fields + [T.StructField("_op", T.StringType())])
_TOKEN_ARROW = pa.schema([
    ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()), ("source", pa.string()),
])
_STAGED_ARROW = _TOKEN_ARROW.append(pa.field("_op", pa.string()))


def _upsert() -> F.Column:
    return F.col("_op") == "upsert"


class DuplicateSourceKeys(ValueError):
    pass


logger = logging.getLogger(__name__)


def _broadcast_cap(spark: SparkSession) -> int:
    """Driver planning budget, derived from the LIVE JVM heap.

    It bounds the one planning collect (``_driver_bytes``) and the
    source-key broadcast that feeds the probe join; batches broadcast
    nothing. ``FEPOC_MERGE_BROADCAST_CAP`` overrides. Otherwise
    heap/16: the key broadcast's in-heap hash relation costs ~2× its raw
    estimate and the collect passes through the heap as Arrow batches,
    so one planning pass holds a few times the budget at most, which
    leaves room for several merges planning at once (a streaming sink
    beside a backfill). Clamped to 80% of ``spark.driver.maxResultSize``
    when one is set (both are driver collections) and floored at 64 MB.
    """
    env = os.environ.get("FEPOC_MERGE_BROADCAST_CAP")
    if env is not None:
        return int(env)
    try:
        heap = int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
    except Exception:  # non-JVM-introspectable session (e.g. Connect)
        return 256 * 1024 * 1024
    cap = max(64 * 1024 * 1024, heap // 16)
    try:
        mrs = _parse_size(spark.conf.get("spark.driver.maxResultSize", "1g"))
        if mrs > 0:  # 0 = unlimited
            cap = min(cap, int(mrs * 0.8))
    except Exception:
        logger.warning(
            "could not parse spark.driver.maxResultSize; broadcast cap "
            "not clamped to the driver collection limit", exc_info=True
        )
    return cap


def _prepare_source(
    source_df: DataFrame, duplicate_policy: str, salt: int = 16
) -> DataFrame:
    """Normalise source columns; dedupe under policy="last".

    Under policy="error" the duplicate CHECK is deferred to planning
    (driver-side on the collected keys, or one countDistinct job when
    the merge plans distributed).
    """
    cols = set(source_df.columns)
    if "_op" not in cols:
        source_df = source_df.withColumn("_op", F.lit("upsert"))
    if "_seq" not in source_df.columns:
        source_df = source_df.withColumn("_seq", F.lit(0).cast("long"))
    source_df = source_df.select("doc_id", "tokens", "n_tok", "source", "_op", "_seq")
    if duplicate_policy == "last":
        # salted two-phase agg — hot duplicate keys fan out before the
        # final per-key reduce (skew.py)
        return salted_latest_by_key(source_df, key="doc_id", order_col="_seq", salt=salt)
    if duplicate_policy != "error":
        raise ValueError(f"unknown duplicate_policy: {duplicate_policy}")
    return source_df


def _duplicate_keys(example) -> DuplicateSourceKeys:
    return DuplicateSourceKeys(
        f"source has duplicate doc_id (e.g. {example}); "
        "pass duplicate_policy='last' to dedupe"
    )


def _null_source_inserts() -> ValueError:
    # a row without a partition value has no partition to be written to
    return ValueError(
        "merge source contains rows with null `source` "
        "(partition column); inserts must carry a partition value"
    )


class _DriverPlan:
    """Planning from ONE collect of the source keys and their matches.

    The collected rows are the staged source's keys (``_f = -1``) plus
    one row per probe match (``_f`` = the matched file's id, see
    ``_file_ids``): doc_id, the row's size estimate, the op flags, the
    null-``source`` flag. Paths never travel per row, so the collect
    costs ``_driver_bytes`` at most (every key matches at most one file,
    as doc_ids are unique in the table).
    """

    def __init__(self, spark, src, probe_scan, file_ids):
        self.spark, self.src = spark, src
        keys = src.select(
            "doc_id",
            _est_bytes_col().cast("int").alias("_bytes"),
            F.col("_op").eqNullSafe("upsert").alias("_up"),
            F.col("_op").eqNullSafe("delete").alias("_del"),
            (F.col("_op").eqNullSafe("upsert") & F.col("source").isNull()).alias("_null"),
        )
        rows = keys.withColumn("_f", F.lit(-1).cast("long"))
        if probe_scan is not None:
            hits = probe_scan.join(F.broadcast(keys), "doc_id").withColumn("_f", _file_id_col())
            rows = rows.unionByName(hits.select(*rows.columns))
        t = _collect_arrow(rows)
        f = t["_f"].to_numpy()
        keys_t, hits_t = t.filter(pa.array(f < 0)), t.filter(pa.array(f >= 0))
        self.keys, self.hit_ids, self.hit_files = keys_t, hits_t["doc_id"], f[f >= 0]
        self.file_ids = file_ids
        matched = pc.is_in(keys_t["doc_id"], value_set=self.hit_ids).to_numpy(zero_copy_only=False)
        up, dl, null = (keys_t[c].to_numpy(zero_copy_only=False) for c in ("_up", "_del", "_null"))
        inserts = up & ~matched
        if (inserts & null).any():
            raise _null_source_inserts()
        self.insert_keys = keys_t["doc_id"].filter(pa.array(inserts))
        self.updated = int((up & matched).sum())
        self.deleted = int((dl & matched).sum())
        self.inserted = int(inserts.sum())
        ids, at = np.unique(self.hit_files, return_inverse=True)
        per_file = np.bincount(at, weights=hits_t["_bytes"].to_numpy(), minlength=len(ids))
        path_of = {i: p for p, i in file_ids.items()}
        self.file_bytes = {path_of[i]: int(b) for i, b in zip(ids.tolist(), per_file)}

    def duplicate(self):
        """A doc_id that occurs more than once in the source, or None."""
        counts = pc.value_counts(self.keys["doc_id"])
        dup = counts.filter(pc.greater(counts.field("counts"), 1))
        return dup[0]["values"].as_py() if len(dup) else None

    def tags(self, batches: list[list[str]]) -> DataFrame:
        """(doc_id, _batch) of every matched key and, in batch 0, every
        insert key (``_stage_slices``)."""
        batch_of = {self.file_ids[_strip_scheme(f)]: i
                    for i, files in enumerate(batches) for f in files}
        at = [batch_of[f] for f in self.hit_files.tolist()]
        ins = self.insert_keys.combine_chunks()
        return self.spark.createDataFrame(pa.table({
            "doc_id": pa.concat_arrays(
                [self.hit_ids.combine_chunks().cast(pa.string()), ins.cast(pa.string())]),
            "_batch": pa.array(at + [0] * len(ins), pa.int32()),
        }))

    def close(self) -> None:
        """Nothing persisted."""


class _DistributedPlan:
    """Planning for a source above the driver budget: the probe join is
    persisted once and grouped per touched file in one collect; after
    packing, its rows tag the source with their batches (``tags``)."""

    def __init__(self, spark, src, prof, probe_scan):
        self.spark, self.src = spark, src
        src_keys = src.select(
            "doc_id", "_op", _est_bytes_col().alias("_bytes"),
            (_upsert() & F.col("source").isNull()).cast("long").alias("_null"),
        )
        if probe_scan is None:
            self.matched = spark.createDataFrame([], "doc_id string, file_path string, "
                                                 "_op string, _bytes long, _null long")
        else:
            self.matched = probe_scan.join(src_keys, "doc_id")
        self.matched = self.matched.persist()
        per_file = self.matched.groupBy("file_path").agg(
            F.sum(_upsert().cast("long")).alias("n_up"),
            F.sum((F.col("_op") == "delete").cast("long")).alias("n_del"),
            F.sum("_bytes").alias("bytes"),
            F.sum("_null").alias("n_null"),
        )
        rows = per_file.collect()
        self.file_bytes = {r.file_path: int(r.bytes) for r in rows}
        n_up, n_del, n_null = (sum(int(r[c] or 0) for r in rows)
                               for c in ("n_up", "n_del", "n_null"))
        if prof["n_null"] > n_null:
            self.close()
            raise _null_source_inserts()
        self.updated, self.deleted = n_up, n_del
        self.inserted = int(prof["n_up"] - n_up)

    def tags(self, batches: list[list[str]]) -> DataFrame:
        """(doc_id, _batch) of every matched key and, in batch 0, every
        insert key (the upserts no probe matched). The ``distinct``
        guards against a key probed in more than one file of a malformed
        table."""
        file_batch = self.spark.createDataFrame(
            [(_strip_scheme(f), i) for i, files in enumerate(batches) for f in files],
            "file_path string, _batch int",
        )
        tags = self.matched.join(F.broadcast(file_batch), "file_path").select("doc_id", "_batch")
        if self.inserted:
            inserts = self.src.where(_upsert()).join(
                self.matched.select("doc_id"), "doc_id", "left_anti")
            tags = tags.unionByName(inserts.select("doc_id", F.lit(0).alias("_batch")))
        return tags.distinct()

    def close(self) -> None:
        self.matched.unpersist()


def _est_bytes_col() -> F.Column:
    """Per-row size estimate; deletes only carry their key."""
    return F.lit(ROW_BYTES) + 4 * F.when(_upsert(), F.coalesce("n_tok", F.lit(0))).otherwise(0)


def _driver_bytes(n: int, key_bytes: int) -> int:
    """Upper bound of the driver-side planning collect: one key row plus
    at most one match row per source row, each the doc_id's UTF-8 bytes
    plus ``DRIVER_ROW_BYTES`` of fixed-width columns."""
    return 2 * (key_bytes + DRIVER_ROW_BYTES * n)


def _file_ids(paths: list[str]) -> dict[str, int] | None:
    """Each path's 60-bit id, the first 15 hex digits of its MD5 —
    ``_file_id_col`` of the probe's decoded path gives the same value,
    so a probe match carries 8 bytes instead of its path — or None when
    two candidates collide (the merge then plans distributed)."""
    ids = {p: int(hashlib.md5(p.encode()).hexdigest()[:15], 16) for p in paths}
    return ids if len(set(ids.values())) == len(ids) else None


def _file_id_col() -> F.Column:
    """``_file_ids`` in Spark, of the probe's ``file_path``."""
    return F.conv(F.substring(F.md5("file_path"), 1, 15), 16, 10).cast("long")


def _collect_arrow(df: DataFrame) -> pa.Table:
    """The driver-planning collect (tests wrap it to inspect the rows)."""
    return df.toArrow()


def _stage(src: DataFrame, path) -> dict:
    """ONE pass over the prepared source: write it as parquet to ``path``
    (the staged source every later step reads; deletes shed their
    payload) and observe the key range, the row and upsert counts, the
    null-``source`` upserts and the doc_ids' total UTF-8 bytes — no key
    leaves the executors."""
    obs = Observation()
    observed = src.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count(F.when(_upsert(), 1)).alias("n_up"),
        F.count(F.when(_upsert() & F.col("source").isNull(), 1)).alias("n_null"),
        F.sum(F.octet_length("doc_id")).alias("key_bytes"),
    )
    payload = {"tokens", "n_tok"}
    observed.select(*[
        (F.when(_upsert(), F.col(f.name)) if f.name in payload else F.col(f.name))
        .cast(f.dataType).alias(f.name)
        for f in STAGED_SCHEMA.fields
    ]).write.mode("overwrite").parquet(str(path))
    return obs.get


def _stage_slices(staged: DataFrame, tags: DataFrame, path) -> dict[int, list[str]]:
    """ONE partitioned write of the staged rows tagged with their batch
    (``tags``); returns each batch's slice files."""
    staged.join(tags, "doc_id").write.mode("overwrite").partitionBy("_batch").parquet(str(path))
    return {int(d.name.split("=", 1)[1]): list_parquet_files(d)
            for d in sorted(path.glob("_batch=*"))}


def _merge_in_task(spec: dict, tables: list) -> list[tuple]:
    """Copy-on-write of one batch inside its task (compaction's kernel
    calls this for specs with ``apply``). ``tables`` are the batch's
    files; ``spec["apply"]`` the parquet files of the source rows (the
    whole staged source or the batch's slice); ``spec["insert"]`` batch 0's insert keys, or True
    when every upsert of the slice that matches no row is an insert.
    Returns ``(path, partition, rows)`` per ``source`` value, rows
    sorted by doc_id."""
    read = [fslayer.read_parquet(f, columns=_STAGED_ARROW.names).cast(_STAGED_ARROW)
            for f in spec["apply"]]
    src = pa.concat_tables(read) if read else _STAGED_ARROW.empty_table()
    tbl = (pa.concat_tables([t.cast(_TOKEN_ARROW) for t in tables]) if tables
           else _TOKEN_ARROW.empty_table())
    # each target row's source row (null: unmatched, passes through)
    pos = pc.index_in(tbl["doc_id"], value_set=src["doc_id"])
    up = pc.fill_null(pc.equal(src["_op"].take(pos), "upsert"), False)
    at = pos.filter(up)
    parts = [
        tbl.filter(pc.is_null(pos)),
        pa.table([tbl["doc_id"].filter(up), src["tokens"].take(at),
                  src["n_tok"].take(at), tbl["source"].filter(up)], schema=_TOKEN_ARROW),
    ]
    ins = spec.get("insert")
    if ins is True:
        new = pc.invert(pc.is_in(src["doc_id"], value_set=tbl["doc_id"]))
        parts.append(src.filter(pc.and_(pc.equal(src["_op"], "upsert"), new)))
    elif ins:
        parts.append(src.filter(pc.is_in(src["doc_id"], value_set=pa.array(ins, pa.string()))))
    out = pa.concat_tables([t.select(_TOKEN_ARROW.names) for t in parts])
    out = out.take(pc.sort_indices(out["doc_id"]))
    values = sorted(pc.unique(out["source"]).to_pylist(), key=lambda v: (v is None, v or ""))
    return [
        (f"{spec['out_dir']}/part-{k:05d}.parquet", v,
         out.filter(pc.is_null(out["source"]) if v is None else pc.equal(out["source"], v)))
        for k, v in enumerate(values)
    ]


def merge_into(
    spark: SparkSession,
    table: TokenTable,
    source_df: DataFrame,
    duplicate_policy: str = "error",
    salt: int = 16,
    job_id: str | None = None,
    _fail_after_units: int | None = None,
) -> dict:
    """``salt`` controls the fan-out of the two-phase dedupe when
    ``duplicate_policy="last"`` (key-level source skew is defused
    there; the downstream joins see unique keys).

    ``job_id`` names a RESUMABLE, IDEMPOTENT job: a job_id whose lineage
    log already records a commit returns that commit's result without
    touching the table (exactly-once under foreachBatch replay).

    The summary's ``units_broadcast`` keeps its name for its readers and
    counts the in-task batches (it equals ``batches``); ``planning``
    says where the plan ran (``driver``/``distributed``) and
    ``source_sliced`` whether the tasks read per-batch slices of the
    staged source instead of all of it.
    """
    job = MaintenanceJob(spark, table, "merge", job_id, _fail_after_units)
    if (prior := job.replayed()) is not None:
        return prior
    src = _prepare_source(source_df, duplicate_policy, salt)
    staging = table.new_data_dir(job.tag) / "_staging"
    try:
        return _merge(job, src, duplicate_policy, staging)
    finally:
        fslayer.delete_dir(staging)


def _merge(job: MaintenanceJob, src: DataFrame, duplicate_policy: str, staging) -> dict:
    spark, table = job.spark, job.table
    # 1. PROFILE + STAGE — one observed write; it decides driver vs
    # distributed planning before any key is pulled.
    broadcast_cap = _broadcast_cap(spark)
    prof = _stage(src, staging / "src")
    lo, hi = prof["lo"], prof["hi"]
    if lo is None:  # empty source
        return {"snapshot_id": None, "rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0}
    # an explicit schema: inferring it would cost a job
    staged = spark.read.schema(STAGED_SCHEMA).parquet(str(staging / "src"))
    on_driver = _driver_bytes(prof["n"], prof["key_bytes"] or 0) <= broadcast_cap
    # Candidate pruning: the manifest's doc_id envelopes that overlap the
    # key range, filtered in Arrow on the driver (no data read).
    m = table.manifest_table(job.parent)
    cand = m.filter(pc.and_(pc.greater_equal(m["max_doc_id"], lo),
                            pc.less_equal(m["min_doc_id"], hi)))
    manifest_bytes = dict(zip(cand["file_path"].to_pylist(), cand["file_bytes"].to_pylist()))
    cand_files = sorted(manifest_bytes)
    job.lap("profile")

    # 2. PLAN — the probe reads doc_id + file path of the candidates
    # only; the source key range also pushes into the scan, reaching
    # parquet row-group stats (a micro-batch with a narrow key range
    # skips most row groups of a wide candidate file).
    probe_scan = None
    if cand_files:
        probe_scan = (
            spark.read.schema(TOKEN_SCHEMA)
            .parquet(*cand_files)
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
            .select("doc_id", _probe_file_path().alias("file_path"))
        )
    file_ids = _file_ids([_strip_scheme(f) for f in cand_files]) if on_driver else None
    if file_ids is not None:
        plan = _DriverPlan(spark, staged, probe_scan, file_ids)
        if duplicate_policy == "error" and (dup := plan.duplicate()) is not None:
            raise _duplicate_keys(dup)
    else:
        if duplicate_policy == "error":
            nd = staged.agg(F.countDistinct("doc_id").alias("nd")).collect()[0].nd
            if nd != prof["n"]:
                # rare failure path — only here do we spend a job finding an example
                ex = staged.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
                raise _duplicate_keys(ex[0]["doc_id"])
        plan = _DistributedPlan(spark, staged, prof, probe_scan)
    by_norm = {_strip_scheme(f): f for f in cand_files}
    touched = {by_norm[p]: b for p, b in plan.file_bytes.items() if p in by_norm}
    # a batch is one task: first-fit-decreasing by manifest plus matched
    # bytes under the scan-task size (a file above it gets a batch of
    # its own)
    task_bytes = job.task_bytes()
    batches = [b.files for b in pack_bins(
        sorted((f, manifest_bytes[f] + b, 0) for f, b in touched.items()), "", task_bytes)]
    if not batches and plan.inserted:
        batches = [[]]  # insert-only merge
    job.lap("probe")

    # 3. REWRITE — every pending batch is one in-task rewrite, all of
    # them in one shuffle-free job. Only this plan's batches over the
    # same files count as done (``MaintenanceJob.done``).
    planned = {f"batch:{i}": files for i, files in enumerate(batches)}
    done = job.done(planned)
    pending = [i for i in range(len(batches)) if f"batch:{i}" not in done]
    src_files = list_parquet_files(staging / "src")
    # distributed plans hold no insert keys on the driver: their batch 0
    # slice carries the inserts
    sliced = (isinstance(plan, _DistributedPlan)
              or sum(fslayer.file_size(f) for f in src_files) > task_bytes)
    apply = {i: src_files for i in pending}
    if sliced and pending:
        apply = _stage_slices(staged, plan.tags(batches), staging / "batches")
    insert = bool(plan.inserted) and (sliced or plan.insert_keys.to_pylist())
    out_root = table.new_data_dir(job.tag)
    job.run([
        TaskUnit(
            f"batch:{i}",
            [{"files": batches[i], "apply": apply.get(i, []), "insert": i == 0 and insert,
              "out_dir": str(out_root / f"batch-{i}")}],
            batches[i],
            {"files_rewritten": len(batches[i]), "rows_inserted": plan.inserted if i == 0 else 0},
        )
        for i in pending
    ])
    plan.close()
    job.lap("rewrite")

    # 4. COMMIT
    done = job.done(planned)
    return job.commit("merge", {
        "rows_updated": plan.updated,
        "rows_deleted": plan.deleted,
        "rows_inserted": sum(rec["metrics"].get("rows_inserted", 0) for rec in done.values()),
        "files_rewritten": sum(len(rec["files_in"]) for rec in done.values()),
        "candidate_files": len(cand_files), "touched_files": len(touched),
        "broadcast_cap": broadcast_cap,
        "units_broadcast": len(batches),
        "batches": len(batches),
        "planning": "distributed" if isinstance(plan, _DistributedPlan) else "driver",
        "source_sliced": sliced,
    }, done)


def _probe_file_path() -> F.Column:
    """``input_file_name()`` as a raw filesystem path.

    The function returns a percent-encoded URI (Hadoop Path), while
    manifest rows store raw paths; joining them as strings silently
    matches NOTHING for a table root containing a space, '%', or
    non-ASCII character — updates/deletes would be skipped and the same
    keys re-inserted as duplicates. Decode the probe side so both join
    keys share one canonical encoding. ``url_decode`` is
    x-www-form-urlencoded (it would turn a literal '+' into a space),
    so '+' is pre-escaped to its percent form first.
    """
    raw = F.regexp_replace(F.input_file_name(), "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))
