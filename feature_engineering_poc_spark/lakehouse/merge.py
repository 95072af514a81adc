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

Scale shape — ONE rewrite path: batches packed under the broadcast cap.
The cap is the build-side memory budget (as in CAMEL's broadcast
budget); it bounds both the planning rows the driver holds and every
batch's broadcast.

1. PROFILE. One observed no-op pass over the prepared source (it also
   fills the source's cache) gives the key range, the row and upsert
   counts and the doc_ids' total bytes. Manifest min/max doc_id overlap
   with the key range gives the candidate files (no data read).
2. PROBE. A column-pruned scan of the candidates (doc_id + file path)
   joins the source keys. If the planning collect fits the cap
   (``_driver_bytes``), ONE collect brings back every source key and
   every match as (doc_id, size estimate, op flags, file id); the
   counts, the duplicate check and the null-``source`` insert check
   then run on the driver. A larger source is planned distributed: a
   countDistinct duplicate check, the probe join persisted once and
   grouped per touched file in one collect. Either way every touched
   file gets its exact matched bytes, and no write starts before the
   checks pass.
3. REWRITE. Touched files are packed first-fit-decreasing by matched
   bytes into batches under the cap (plans/binpack). A batch is one
   broadcast join of its files against its own slice of the source plus
   one ``partitionBy`` write (``source`` is immutable under update, so
   a row's own column routes it back to its partition). Files whose
   matched rows alone exceed the cap share one shuffle-join batch.
   Not-matched upserts are unioned into batch 0's write, with a fan-out
   sized from the exact insert volume. Batches are deterministic for a
   given parent snapshot and source, and each one is a lineage unit, so
   a rerun under the same job_id skips the batches that finished.
4. COMMIT: manifest − rewritten files + batch outputs, one atomic
   snapshot swap. Old snapshots are untouched (snapshot isolation).

The summary records the seconds of each phase (``phases``), the number
of batches and how many of them were shuffle joins.
"""

from __future__ import annotations

import logging
import os
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.binpack import pack_bins
from .lineage import LineageLog
from .metadata import TOKEN_SCHEMA, TokenTable, list_parquet_files
from .skew import salted_latest_by_key
from .stats import file_stats_rows

# Target bytes per insert-path output task; sizes the insert fan-out
# from the exact insert volume (overridable for tests / unusual
# deployments).
INSERT_TARGET_BYTES = int(
    os.environ.get("FEPOC_MERGE_INSERT_TARGET", str(128 * 1024 * 1024))
)

# Size estimate of a source row: 4 bytes per token plus ROW_BYTES.
ROW_BYTES = 64

# Fixed-width bytes of one collected planning row besides its doc_id:
# the doc_id's offset and the size estimate (4 each), the file id (8)
# and three flags with their validity bits (see _driver_bytes).
DRIVER_ROW_BYTES = 20


def _upsert() -> F.Column:
    return F.col("_op") == "upsert"


class DuplicateSourceKeys(ValueError):
    pass


logger = logging.getLogger(__name__)


def _parse_size(s: str) -> int:
    """'48g'/'2gb'/'512m'/'1024k'/bytes → bytes (Spark size-string set).

    Two-letter suffixes must match before single-letter ones: '2gb'
    previously fell into the trailing-'b' branch and raised on
    float('2g'), silently dropping the maxResultSize clamp in
    ``_broadcast_cap``."""
    s = s.strip().lower()
    for suffix, mult in (
        ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def _broadcast_cap(spark: SparkSession) -> int:
    """Per-batch broadcast cap, derived from the LIVE JVM heap.

    ``FEPOC_MERGE_BROADCAST_CAP`` overrides. Otherwise: heap/16 — up to
    8 rewrite batches broadcast concurrently (ThreadPoolExecutor below),
    and the in-heap hash relation costs ~2× the raw estimate, so worst
    case ≈ heap/2 of broadcast residency. Clamped to 80% of
    ``spark.driver.maxResultSize`` when one is set (broadcast relations
    are built through driver collection) and floored at 64 MB.
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


def _apply_merge(target_df: DataFrame, src_side) -> DataFrame:
    """LEFT-join the (aliased s_*) source side onto target rows and
    apply MERGE semantics: deletes drop, upserts replace tokens/n_tok,
    unmatched rows pass through."""
    joined = target_df.alias("t").join(
        src_side, F.col("t.doc_id") == F.col("s_doc_id"), "left"
    )
    return (
        joined.filter((F.col("s_op").isNull()) | (F.col("s_op") != "delete"))
        .select(
            F.col("t.doc_id").alias("doc_id"),
            F.coalesce(
                F.when(F.col("s_op") == "upsert", F.col("s_tokens")), F.col("t.tokens")
            ).alias("tokens"),
            F.coalesce(
                F.when(F.col("s_op") == "upsert", F.col("s_n_tok")), F.col("t.n_tok")
            ).alias("n_tok"),
            F.col("t.source").alias("source"),
        )
    )


def _duplicate_keys(example) -> DuplicateSourceKeys:
    return DuplicateSourceKeys(
        f"source has duplicate doc_id (e.g. {example}); "
        "pass duplicate_policy='last' to dedupe"
    )


def _null_source_inserts() -> ValueError:
    # a null `source` would be written under the dynamic-partition
    # marker directory and read back as the literal marker string,
    # silently diverging from the row's actual (null) column
    return ValueError(
        "merge source contains rows with null `source` "
        "(partition column); inserts must carry a partition value"
    )


class _DriverPlan:
    """Planning from ONE collect of the source keys and their matches.

    The collected rows are the prepared source's keys (``_f = -1``) plus
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
            hits = probe_scan.join(F.broadcast(keys), "doc_id").withColumn("_f", F.crc32("file_path"))
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
        self.insert_bytes = int(keys_t["_bytes"].to_numpy()[inserts].sum())
        ids, at = np.unique(self.hit_files, return_inverse=True)
        per_file = np.bincount(at, weights=hits_t["_bytes"].to_numpy(), minlength=len(ids))
        path_of = {i: p for p, i in file_ids.items()}
        self.file_bytes = {path_of[i]: int(b) for i, b in zip(ids.tolist(), per_file)}

    def duplicate(self):
        """A doc_id that occurs more than once in the source, or None."""
        counts = pc.value_counts(self.keys["doc_id"])
        dup = counts.filter(pc.greater(counts.field("counts"), 1))
        return dup[0]["values"].as_py() if len(dup) else None

    def source_slice(self, i: int, files: list[str]):
        """(source rows keyed in ``files``, insert rows or None).

        Both come out of ONE join against a driver-built key table, so
        batch 0's write, which fuses them, broadcasts that table once:
        insert keys carry ``_k = 'insert'`` and are selected by
        ``concat_ws(':', _k, _op) = 'insert:upsert'``. That predicate
        spans both join sides, so it cannot be pushed into the key
        table; a plain ``_k = 'insert'`` filter would be, which gives
        two different key tables and one more broadcast job per merge
        (the default-cap job budget in tests/test_merge.py fails then).
        """
        ids = [self.file_ids[_norm(p)] for p in files]
        keys = pc.unique(self.hit_ids.filter(pa.array(np.isin(self.hit_files, ids))))
        ins = self.insert_keys if i == 0 else self.insert_keys.slice(0, 0)
        key_df = self.spark.createDataFrame(pa.table({
            "doc_id": pa.concat_arrays([keys, ins.combine_chunks()]).cast(pa.string()),
            "_k": pa.array([None] * len(keys) + ["insert"] * len(ins), pa.string()),
        }))
        joined = self.src.join(F.broadcast(key_df), "doc_id")
        inserts = joined.where(F.concat_ws(":", "_k", "_op") == "insert:upsert")
        # insert keys ride in the rewrite side without payload (they
        # match no target row)
        side = joined.withColumn("_op", F.when(F.col("_k").isNull(), F.col("_op")))
        return side, inserts if len(ins) else None

    def close(self) -> None:
        """Nothing persisted."""


class _DistributedPlan:
    """Planning for a source above the driver budget, shaped like the
    per-partition plan it replaced: the probe join is persisted once and
    grouped per touched file in one collect; after packing, the matched
    source rows are tagged with their batch and persisted once, so each
    batch takes its slice by a cache-local filter and the inserts
    anti-join the persisted matches."""

    def __init__(self, spark, src, prof, probe_scan, max_touched_files):
        self.spark, self.src = spark, src
        self.eff_src = None
        totals = dict.fromkeys(("n_up", "n_del", "up_bytes", "n_null"), 0)
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
            F.sum(F.when(_upsert(), F.col("_bytes"))).alias("up_bytes"),
            F.sum("_null").alias("n_null"),
        )
        # at most cap+1 file rows ever reach the driver; over the cap the
        # caller rewrites every candidate, so only the totals are needed
        # (one more aggregation, rare path)
        rows = per_file.limit(max_touched_files + 1).collect()
        if len(rows) > max_touched_files:
            self.file_bytes = None
            rows = per_file.agg(*[F.sum(c).alias(c) for c in totals]).collect()
        else:
            self.file_bytes = {r.file_path: int(r.bytes) for r in rows}
        for r in rows:
            for c in totals:
                totals[c] += int(r[c] or 0)
        if prof["n_null"] > totals["n_null"]:
            self.close()
            raise _null_source_inserts()
        self.updated, self.deleted = totals["n_up"], totals["n_del"]
        self.inserted = int(prof["n_up"] - totals["n_up"])
        self.insert_bytes = int((prof["up_bytes"] or 0) - totals["up_bytes"])

    def source_slice(self, i: int, files: list[str]):
        """(source rows keyed in ``files``, insert rows or None); needs
        ``assign_batches`` first."""
        side = self.eff_src.where(F.col("_batch") == i)
        inserts = None
        if i == 0 and self.inserted:
            inserts = self.src.where(_upsert()).join(
                self.matched.select("doc_id"), "doc_id", "left_anti")
        return side, inserts

    def assign_batches(self, batches) -> None:
        """Tag every matched source row with its batch and persist the
        tagged rows once (delete rows shed their payload). The
        ``distinct`` guards against a key probed in more than one file
        of a malformed table."""
        file_batch = self.spark.createDataFrame(
            [(_norm(f), i) for i, (files, _) in enumerate(batches) for f in files],
            "file_path string, _batch int",
        )
        tags = self.matched.join(F.broadcast(file_batch), "file_path").select("doc_id", "_batch")
        self.eff_src = (
            self.src.join(tags.distinct(), "doc_id")
            .select(
                "doc_id",
                F.when(_upsert(), F.col("tokens")).alias("tokens"),
                F.when(_upsert(), F.col("n_tok")).alias("n_tok"),
                "_op", "_batch",
            )
            .persist()
        )

    def close(self) -> None:
        self.matched.unpersist()
        if self.eff_src is not None:
            self.eff_src.unpersist()


def _est_bytes_col() -> F.Column:
    """Per-row size estimate; deletes only carry their key."""
    return F.lit(ROW_BYTES) + 4 * F.when(_upsert(), F.coalesce("n_tok", F.lit(0))).otherwise(0)


def _driver_bytes(n: int, key_bytes: int) -> int:
    """Upper bound of the driver-side planning collect: one key row plus
    at most one match row per source row, each the doc_id's UTF-8 bytes
    plus ``DRIVER_ROW_BYTES`` of fixed-width columns."""
    return 2 * (key_bytes + DRIVER_ROW_BYTES * n)


def _file_ids(paths: list[str]) -> dict[str, int] | None:
    """Each path's CRC-32 — Spark's ``crc32`` of the probe's decoded path
    gives the same value, so a probe match carries 8 bytes instead of its
    path — or None when two candidates collide (the merge then plans
    distributed)."""
    ids = {p: zlib.crc32(p.encode()) for p in paths}
    return ids if len(set(ids.values())) == len(ids) else None


def _collect_arrow(df: DataFrame) -> pa.Table:
    """The driver-planning collect (tests wrap it to inspect the rows)."""
    return df.toArrow()


def _profile(src: DataFrame) -> dict:
    """ONE pass over the prepared source (which also fills its cache):
    key range, row counts, upsert bytes, null-``source`` upserts and the
    doc_ids' total UTF-8 bytes, gathered as observed metrics of a no-op
    write — no shuffle, and no key leaves the executors."""
    obs = Observation()
    src.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count(F.when(_upsert(), 1)).alias("n_up"),
        F.sum(F.when(_upsert(), _est_bytes_col())).alias("up_bytes"),
        F.count(F.when(_upsert() & F.col("source").isNull(), 1)).alias("n_null"),
        F.sum(F.octet_length("doc_id")).alias("key_bytes"),
    ).write.format("noop").mode("overwrite").save()
    return obs.get


def _write_batch(
    spark, files, side, broadcast, inserts, n_ins, out_dir, target_rows
) -> list[tuple]:
    """ONE job: rewrite ``files`` against ``side`` (broadcast or
    shuffle-joined), union the insert rows, route every row to its
    ``_part=<source>`` directory. Returns ``(file, partition)`` pairs."""
    parts = []
    if files:
        side = side.select(
            F.col("doc_id").alias("s_doc_id"),
            F.when(_upsert(), F.col("tokens")).alias("s_tokens"),
            F.when(_upsert(), F.col("n_tok")).alias("s_n_tok"),
            F.col("_op").alias("s_op"),
        )
        rewritten = _apply_merge(
            spark.read.schema(TOKEN_SCHEMA).parquet(*files),
            F.broadcast(side) if broadcast else side,
        )
        if broadcast:
            # ZERO shuffle: each scan split streams through the join, a
            # small in-task sort and the parquet encoder. coalesce
            # propagates upstream, so halve the task count only once it
            # exceeds the core count.
            rewritten = rewritten.coalesce(
                max(min(len(files), spark.sparkContext.defaultParallelism), len(files) // 2)
            )
        parts.append(rewritten)
    if inserts is not None:
        parts.append(inserts.select("doc_id", "tokens", "n_tok", "source").coalesce(n_ins))
    out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    writer = out.withColumn("_part", F.col("source")).sortWithinPartitions("_part", "doc_id").write
    if files and not broadcast:
        # keep the sort-merge join's AQE-sized partitions (coalescing
        # would concentrate an over-cap batch on the fewest tasks); bound
        # file sizes from the manifest row counts instead
        n_out = max(1, len(files) // 2)
        writer = writer.option("maxRecordsPerFile", target_rows // n_out + 1)
    writer.mode("overwrite").partitionBy("_part").parquet(str(out_dir))
    return [
        (f, unquote(d.name.split("=", 1)[1]))
        for d in sorted(out_dir.glob("_part=*"))
        for f in list_parquet_files(d)
    ]


def merge_into(
    spark: SparkSession,
    table: TokenTable,
    source_df: DataFrame,
    duplicate_policy: str = "error",
    salt: int = 16,
    job_id: str | None = None,
    max_touched_files: int = 100_000,
    _fail_after_units: int | None = None,
) -> dict:
    """``salt`` controls the fan-out of the two-phase dedupe when
    ``duplicate_policy="last"`` (key-level source skew is defused
    there; the downstream joins see unique keys).

    ``job_id`` names a RESUMABLE, IDEMPOTENT job: a job_id whose lineage
    log already records a commit returns that commit's result without
    touching the table (exactly-once under foreachBatch replay).

    ``max_touched_files`` caps the driver-side exactly-touched file
    list; a merge touching more files than that falls back to a
    partition-granular rewrite set (all candidate files, one shuffle
    batch) so pathological full-table merges can't blow up driver memory.
    """
    parent = table.current_snapshot_id()
    src = _prepare_source(source_df, duplicate_policy, salt)
    # Persist the prepared source only when it adds real work over the
    # caller's DataFrame: the "last"-policy dedupe is a shuffle worth
    # caching, but under policy="error" the preparation is a trivial
    # projection — if the caller already persisted the input (the
    # common ingest shape), re-caching it here would burn a full
    # serialize+spill pass of the token payload inside the merge.
    own_persist = (
        duplicate_policy == "last"
        or source_df.storageLevel.useMemory is False
        and source_df.storageLevel.useDisk is False
    )
    if own_persist:
        src = src.persist()
    try:
        return _merge(
            spark, table, src, parent, duplicate_policy, job_id,
            max_touched_files, _fail_after_units,
        )
    finally:
        if own_persist:
            src.unpersist()


def _merge(spark, table, src, parent, duplicate_policy, job_id,
           max_touched_files, _fail_after_units):
    job_tag = job_id or f"merge-snap{parent}"
    log = LineageLog(table.root, job_tag)
    prior = log.committed()
    if prior is not None:
        # Replayed job (e.g. a foreachBatch batch rerun after a crash in
        # the window between table commit and the stream checkpoint
        # write): this job's manifest rows are already committed.
        # Re-committing would union them a second time. Idempotent return.
        logger.info("merge job %s already committed snapshot %s; replay is a no-op",
                    job_tag, prior.get("snapshot_id"))
        return {k: v for k, v in prior.items()
                if k not in ("event", "job_id", "timestamp_ms")}
    published = table.snapshot_for_job(job_tag)
    if published is not None:
        # Crash landed between the VERSION swap and the 'committed'
        # lineage append: the snapshot is live but the log doesn't say
        # so. Repair the log and return — re-committing would union the
        # same manifest rows a second time (duplicate files on scan).
        logger.info("merge job %s found published snapshot %s; repairing lineage",
                    job_tag, published["snapshot_id"])
        summary = dict(published["summary"])
        log.log_event("committed", snapshot_id=published["snapshot_id"], **summary)
        return {"snapshot_id": published["snapshot_id"], **summary}
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - clock[0], 3)
        clock[0] = now

    # 1. PROFILE — one observed pass; it decides driver vs distributed
    # planning before any key is pulled.
    broadcast_cap = _broadcast_cap(spark)
    prof = _profile(src)
    lo, hi = prof["lo"], prof["hi"]
    if lo is None:  # empty source
        return {"snapshot_id": None, "rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0}
    on_driver = _driver_bytes(prof["n"], prof["key_bytes"] or 0) <= broadcast_cap
    # Candidate pruning over DRIVER-SIDE manifest records (pyarrow footer
    # path for small manifests — no Spark job; distributed collect above
    # SMALL_MANIFEST_ROWS, see metadata.manifest_records).
    cand_rows = [
        r for r in table.manifest_records(spark, parent)
        if r["max_doc_id"] is not None and r["min_doc_id"] is not None
        and r["max_doc_id"] >= lo and r["min_doc_id"] <= hi
    ]
    cand_files = sorted(r["file_path"] for r in cand_rows)
    lap("profile")

    # 2. PROBE — doc_id + file path of the candidates only; the source
    # key range also pushes into the scan, reaching parquet row-group
    # stats (a micro-batch with a narrow key range skips most row groups
    # of a wide candidate file).
    probe_scan = None
    if cand_files:
        probe_scan = (
            spark.read.schema(TOKEN_SCHEMA)
            .parquet(*cand_files)
            .where((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
            .select("doc_id", _probe_file_path().alias("file_path"))
        )
    file_ids = _file_ids([_norm(f) for f in cand_files]) if on_driver else None
    if file_ids is not None:
        plan = _DriverPlan(spark, src, probe_scan, file_ids)
        if duplicate_policy == "error" and (dup := plan.duplicate()) is not None:
            raise _duplicate_keys(dup)
    else:
        if duplicate_policy == "error":
            nd = src.agg(F.countDistinct("doc_id").alias("nd")).collect()[0].nd
            if nd != prof["n"]:
                # rare failure path — only here do we spend a job finding an example
                ex = src.groupBy("doc_id").count().filter(F.col("count") > 1).limit(1).collect()
                raise _duplicate_keys(ex[0]["doc_id"])
        plan = _DistributedPlan(spark, src, prof, probe_scan, max_touched_files)
    touched = {}
    if plan.file_bytes is not None:
        by_norm = {_norm(f): f for f in cand_files}
        touched = {by_norm[p]: b for p, b in plan.file_bytes.items() if p in by_norm}
    if plan.file_bytes is None or len(touched) > max_touched_files:
        # partition-granular fallback: rewrite every candidate file in
        # place of the (too large to plan file-exactly) touched set, in
        # one shuffle batch — same results, bounded driver memory
        logger.warning(
            "merge touches >%d files; falling back to partition-granular "
            "rewrite over %d candidate files", max_touched_files, len(cand_files)
        )
        touched_files = len(cand_files)
        batches = [(cand_files, False)]
    else:
        touched_files = len(touched)
        fits = [(f, b, 0) for f, b in sorted(touched.items()) if b <= broadcast_cap]
        over = sorted(f for f, b in touched.items() if b > broadcast_cap)
        batches = [(b.files, True) for b in pack_bins(fits, "", broadcast_cap)]
        if over:
            batches.append((over, False))
    if not batches and plan.inserted:
        batches = [([], True)]  # insert-only merge
    if isinstance(plan, _DistributedPlan):
        plan.assign_batches(batches)
    lap("probe")

    # 3. REWRITE — one job per batch; inserts ride in batch 0's write,
    # their fan-out sized from the exact insert volume. A unit record
    # counts as done only if it is this plan's batch over the same files
    # (a record left by another plan of the same job_id is ignored).
    planned = {f"batch:{i}": files for i, (files, _) in enumerate(batches)}

    def finished() -> dict:
        return {u: r for u, r in log.completed_units().items()
                if planned.get(u) == r["files_in"]}

    out_root = table.new_data_dir(job_tag)
    file_rows = {r["file_path"]: r["record_count"] for r in cand_rows}
    n_ins = max(1, min(
        4 * spark.sparkContext.defaultParallelism,
        -(-plan.insert_bytes // INSERT_TARGET_BYTES),
    ))

    def run_batch(i: int, files: list[str], broadcast: bool) -> None:
        side, inserts = plan.source_slice(i, files)
        pairs = _write_batch(spark, files, side, broadcast, inserts, n_ins,
                             out_root / f"batch-{i}", sum(file_rows.get(f, 0) for f in files))
        stats = file_stats_rows(spark, pairs)
        log.mark_unit_done(
            f"batch:{i}",
            files_in=files,
            new_manifest_rows=stats,
            metrics={"files_rewritten": len(files), "files_written": len(stats),
                     "rows_inserted": plan.inserted if i == 0 else 0},
        )

    done = finished()
    pending = [(i, fs, b) for i, (fs, b) in enumerate(batches) if f"batch:{i}" not in done]
    if _fail_after_units is not None:
        # sequential under the crash hook, so the failure point is exact
        for n, args in enumerate(pending, 1):
            run_batch(*args)
            if n >= _fail_after_units:
                raise RuntimeError(f"injected failure after {n} units (test hook)")
    elif pending:
        # Spark interleaves the batch jobs; lineage appends are thread-safe
        with ThreadPoolExecutor(max_workers=min(8, len(pending))) as ex:
            for fut in [ex.submit(run_batch, *args) for args in pending]:
                fut.result()
    plan.close()
    lap("rewrite")

    # 4. COMMIT — assemble from lineage (covers resumed batches).
    done = finished()
    removed = [f for rec in done.values() for f in rec["files_in"]]
    new_rows = [row for rec in done.values() for row in rec["new_manifest_rows"]]
    summary = {
        "rows_updated": plan.updated,
        "rows_deleted": plan.deleted,
        "rows_inserted": sum(rec["metrics"].get("rows_inserted", 0) for rec in done.values()),
        "files_rewritten": len(removed), "files_written": len(new_rows),
        "candidate_files": len(cand_files), "touched_files": touched_files,
        "broadcast_cap": broadcast_cap,
        "units_broadcast": sum(1 for _, b in batches if b),
        "batches": len(batches),
        "batches_shuffled": sum(1 for _, b in batches if not b),
        "job_tag": job_tag,
        # the snapshot summary gets the phases so far; the commit's own
        # seconds land in the same dict for the lineage event and result
        "phases": phases,
    }
    # manifest-delta commit: driver-side pyarrow for small manifests
    # (zero Spark jobs), distributed anti-join + union above the
    # SMALL_MANIFEST_ROWS threshold (metadata.commit_delta)
    sid = table.commit_delta(
        spark, removed, new_rows, operation="merge", summary=summary, parent_id=parent
    )
    lap("commit")
    log.log_event("committed", snapshot_id=sid, **summary)
    return {"snapshot_id": sid, **summary}


def _norm(p: str) -> str:
    return p.removeprefix("file://").removeprefix("file:")


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
