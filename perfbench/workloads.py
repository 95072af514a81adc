"""The two workloads: maintain and merge_ingest.

Each is a single client in a closed loop: the next engine call starts
only after the previous one returned. A workload runs an untimed set-up,
then a fixed sequence of timed ops, then (outside the timed region) the
correctness gate. The work per run does not depend on how fast the host
is. README.md says why each workload exists and how it is sized.
"""

from __future__ import annotations

import os
import random
import statistics
from pathlib import Path

from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse.clustering import cluster, prune_files
from feature_engineering_poc_spark.lakehouse.compaction import compact
from feature_engineering_poc_spark.lakehouse.expire import (
    expire_snapshots,
    remove_orphans,
    rewrite_manifests,
)
from feature_engineering_poc_spark.lakehouse.generator import write_token_table
from feature_engineering_poc_spark.lakehouse.merge import merge_into
from feature_engineering_poc_spark.lakehouse.skew import salted_latest_by_key
from feature_engineering_poc_spark.lakehouse.stats import file_stats_rows
from feature_engineering_poc_spark.plans.sfc import (
    hilbert_index,
    interleave_bits,
    normalize_to_grid,
    string_prefix_ordinal,
)
from feature_engineering_poc_spark.streaming.lakehouse_sink import stream_merge_into

from . import model as M

# Sizes for a 4-core box (README.md has the times they give). The
# maintain table is large enough that compaction and clustering time
# grows with its rows; the merge_ingest table is small, because its
# MERGEs and micro-batches are bound by fixed per-job costs. Byte targets
# are scaled with the table so that a partition holds several files, as
# in a production table.
MAINTAIN_ROWS = 192_000
MAINTAIN_COMPACT_TARGET = 24 << 20
MAINTAIN_CLUSTER_TARGET = 3 << 20
MERGE_ROWS = 8_000
MERGE_COMPACT_TARGET = 1 << 20
FILES_PER_SOURCE = 16
BATCH_ROWS = 250
PASSES = 2  # passes of the merge_ingest sequence per run


def _median(xs):
    return statistics.median(xs) if xs else None


def data_files(table) -> dict[str, int]:
    """Live and dead parquet data files under the table, path -> bytes."""
    out = {}
    for d, _, names in os.walk(table.data_dir):
        for n in names:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def read_set(rows: int) -> list[dict]:
    """The fixed pruned reads: one length bucket and one key range."""
    return [{"n_tok": (64, 191)},
            {"doc_id": (M.doc_id(2 * rows // 5), M.doc_id(3 * rows // 5))}]


def _seeds(seed: int) -> tuple[random.Random, int]:
    """Plan RNG and a table seed small enough for the generator's int seeds."""
    rng = random.Random(seed)
    return rng, rng.randrange(1, 1 << 20)


class Workload:
    """Shared machinery: op spans, fs observation, reads, gate, metrics."""

    name = ""
    rows = 0  # rows of the base table

    def __init__(self, spark, tracer, work_dir: Path, seed: int):
        self.spark = spark
        self.tr = tracer
        self.work = work_dir
        self.seed = seed
        self.corrupt = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timed: list[dict] = []  # span records of timed ops
        self.merges: list[dict] = []
        self.table = None
        self.model = None
        self.n_tok: dict = {}

    # ------------------------------------------------------------ ops
    def op(self, name: str, fn, table=None, timed=True, **attrs):
        """Run one engine call inside a span; observe the table's files
        around it (outside the span) and count it as attempted. An engine
        call that raises ends the run (no result line, non-zero exit)."""
        before = data_files(table) if table is not None else None
        with self.tr.span(name, **attrs) as rec:
            result = fn()
        if table is not None:
            after = data_files(table)
            new = [p for p in after if p not in before]
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(after[p] for p in new)
            rec["files_deleted"] = sum(1 for p in before if p not in after)
        rec["result"] = result if isinstance(result, dict) else None
        if timed:
            self.attempted += 1
            self.timed.append(rec)
        return result, rec

    def check(self, ok: bool, what: str) -> None:
        """A failed correctness check counts as one failed op."""
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def reads(self, table, model: M.TableModel, passes: int = 1) -> float:
        """``passes`` rounds of the pruned reads (manifest pruning, then a
        scan of the kept files); each result is checked against the model."""
        spark = self.spark
        total = 0.0
        for pred in read_set(self.rows) * passes:
            def run():
                kept = prune_files(table.manifest_df(spark), n_tok_range=pred.get("n_tok"),
                                   doc_id_range=pred.get("doc_id"))
                files = [r.file_path for r in kept.select("file_path").collect()]
                cond = F.lit(True)
                for col, (lo, hi) in pred.items():
                    cond = cond & F.col(col).between(lo, hi)
                row = (table.scan(spark, files=files).filter(cond)
                       .agg(F.count("*").alias("n"), F.sum(F.size("tokens")).alias("t"))
                       .collect()[0])
                return {"files_kept": len(files), "rows": row.n, "tokens": row.t or 0}

            res, rec = self.op("read", run, files_live=table.manifest_row_count(),
                               pred=str(pred))
            total += rec["wall_s"]
            exp = M.expected_read(model, self.n_tok, pred)
            self.check((res["rows"], res["tokens"]) == exp, f"read {pred}: {res} != {exp}")
        return total

    def finish(self) -> None:
        """The correctness gate, outside the timed region: the final
        ``scan()`` against the model, as multisets, both ways."""
        model = self.model
        if self.corrupt:  # self-check: a wrong expectation must fail the gate
            model = model.copy()
            i = min(model.rows)
            model.rows[i] = (model.rows[i][0] + 1, model.rows[i][1])
        with self.tr.span("gate"):
            extra, missing = M.mismatches(self.spark, self.table.scan(self.spark), model)
        self.check(extra == 0 and missing == 0,
                   f"gate: {extra} rows only in the table, {missing} only in the model")

    def build(self, root: Path, table_seed: int):
        with self.tr.span("generator.write_token_table", rows=self.rows):
            return write_token_table(self.spark, root, n_rows=self.rows,
                                     files_per_source=FILES_PER_SOURCE, seed=table_seed)

    def compact(self, table, target: int, timed=True):
        res, rec = self.op("compaction.compact", lambda: compact(
            self.spark, table, target_file_bytes=target), table=table, timed=timed)
        rec["files_in"] = res.get("files_compacted", 0)
        rec["files_out"] = res.get("files_written", 0)
        return rec

    def merge(self, table, src, ops, policy: str, kind: str, expect: dict, **kw):
        """One timed MERGE; records its path and checks the summary's row
        counts against the model's."""
        res, rec = self.op(kind, lambda: merge_into(
            self.spark, table, src, duplicate_policy=policy, **kw), table=table)
        self.record_merge(kind, res, ops, policy, rec, expect)
        return rec

    def record_merge(self, kind, summary, ops, policy, rec, expect) -> None:
        """Which path a MERGE took: the source estimate (restating the
        engine's: 4 bytes per token + 64 per row of the prepared source)
        against the broadcast cap in the committed summary."""
        if policy == "last":
            rows = [(i, op, c) for i, (op, c, _, _) in M.last_per_key(ops).items()]
        else:
            rows = [(i, op, c) for i, op, c, _, _ in ops]
        est = 4 * sum(self.n_tok[(i, c)] for i, op, c in rows if op == "upsert") + 64 * len(rows)
        cap = summary["broadcast_cap"]
        self.merges.append({
            "kind": kind,
            "path": "fast" if est < cap else "per_unit",
            "src_est_bytes": est,
            "broadcast_cap": cap,
            "src_est_over_cap": est / cap,
            **{k: summary[k] for k in ("candidate_files", "touched_files", "files_written",
                                       "units_broadcast")},
            **{k: rec[k] for k in ("wall_s", "bytes_written", "jobs", "stages", "tasks")
               if k in rec},
        })
        got = {k: summary[k] for k in expect}
        self.check(got == expect, f"{kind} counts {got} != {expect}")

    # -------------------------------------------------------- metrics
    def walls(self, name: str) -> list[float]:
        return [r["wall_s"] for r in self.timed if r["name"] == name]

    def total(self, field: str) -> float:
        return sum(r.get(field) or 0 for r in self.timed)

    def e2e(self) -> dict:
        recs = self.table.manifest_records(self.spark)
        return {
            "wall_s": (self.total("wall_s"), "s"),
            "read_p50_s": (_median(self.walls("read")), "s"),
            "bytes_per_row": (sum(r["file_bytes"] for r in recs)
                              / sum(r["record_count"] for r in recs), "B/row"),
            "failed_op_share": (self.failed / max(1, self.attempted), "ratio"),
        }

    def layer_metrics(self) -> dict:
        """Per-layer metrics: medians over the timed calls into each
        module, plus micro-measures on the final table."""
        spark, table = self.spark, self.table
        out: dict = {}
        work = [("jobs", "count"), ("stages", "count"), ("tasks", "count")]

        def per_call(prefix, name, fields):
            vals = {f: [r[f] for r in self.timed if r["name"] == name and r.get(f) is not None]
                    for f, _ in fields}
            for f, unit in fields:
                # a module the workload never calls: times n/a, counts 0
                out[f"{prefix}.{f}"] = (_median(vals[f]) if vals[f] else
                                        (None if unit == "s" else 0), unit)

        per_call("compaction", "compaction.compact", [("wall_s", "s")] + work + [
            ("files_in", "count"), ("files_out", "count"), ("bytes_written", "B")])
        per_call("clustering", "clustering.cluster", [("wall_s", "s")] + work + [
            ("files_out", "count"), ("bytes_written", "B")])
        per_call("rewrite_manifests", "expire.rewrite_manifests", [("wall_s", "s")] + work)
        per_call("expire", "expire.expire_snapshots",
                 [("wall_s", "s")] + work + [("files_deleted", "count")])
        per_call("orphans", "expire.remove_orphans",
                 [("wall_s", "s")] + work + [("files_listed", "count")])
        per_call("sink", "sink.stream_merge_into", [("wall_s", "s")] + work)
        for old, new in (("wall_s", "batch_s"), ("jobs", "jobs_per_batch"),
                         ("tasks", "tasks_per_batch"), ("stages", "stages_per_batch")):
            out[f"sink.{new}"] = out.pop(f"sink.{old}")
        per_call("read", "read", [("wall_s", "s")] + work)
        reads = [r for r in self.timed if r["name"] == "read" and r["files_live"]]
        out["clustering.prune_keep_frac"] = (
            _median([r["result"]["files_kept"] / r["files_live"] for r in reads]), "ratio")

        main = [m for m in self.merges if m["kind"] == "merge"]
        for f, unit in [("wall_s", "s")] + work + [
                ("candidate_files", "count"), ("touched_files", "count"),
                ("files_written", "count"), ("bytes_written", "B"),
                ("units_broadcast", "count"), ("src_est_over_cap", "ratio")]:
            vals = [m[f] for m in main if f in m]
            out[f"merge.{f}"] = (_median(vals) if vals else (None if unit == "s" else 0), unit)
        out["merge.touch_frac"] = (_median(
            [m["touched_files"] / m["candidate_files"] for m in main if m["candidate_files"]])
            or 0, "ratio")

        for f in ("jobs", "stages", "tasks", "bytes_written"):
            out[f"timed.{f}"] = (self.total(f), "B" if f == "bytes_written" else "count")

        def timed3(name, fn, **attrs) -> float:
            ts = []
            for _ in range(3):
                with self.tr.span(name, **attrs) as rec:
                    fn()
                ts.append(rec["wall_s"])
            return _median(ts)

        # sfc: both curves over the table's own (n_tok, doc_id) keys
        pdf = table.scan(spark).select("n_tok", "doc_id").toPandas()
        nt = pdf["n_tok"].to_numpy()
        ordv = string_prefix_ordinal(pdf["doc_id"]).astype("float64")
        grids = [normalize_to_grid(nt, float(nt.min()), float(nt.max()), 16),
                 normalize_to_grid(ordv, float(ordv.min()), float(ordv.max()), 16)]
        for curve, fn in (("zorder", interleave_bits), ("hilbert", hilbert_index)):
            t = timed3(f"sfc.{curve}", lambda: fn(grids, 16), keys=len(pdf))
            out[f"sfc.{curve}_keys_per_s"] = (len(pdf) / t, "1/s")

        # stats: both file_stats_rows paths on the same live files
        recs = table.manifest_records(spark)
        pairs = [(r["file_path"], r["partition"]) for r in recs]
        for path, thr in (("driver", len(pairs)), ("distributed", 0)):
            t = timed3(f"stats.file_stats_rows.{path}",
                       lambda: file_stats_rows(spark, pairs, small_threshold=thr),
                       files=len(pairs))
            out[f"stats.{path}_files_per_s"] = (len(pairs) / t, "1/s")

        out["metadata.plan_s"] = (timed3("metadata.manifest_records",
                                         lambda: table.manifest_records(spark)), "s")
        out["metadata.manifest_rows"] = (len(recs), "count")
        out["metadata.snapshots"] = (len(table.snapshots()), "count")

        (build,) = [r for r in self.tr.spans if r["name"] == "generator.write_token_table"]
        out["generator.build_s"] = (build["wall_s"], "s")
        out["fs.files_live"] = (len(recs), "count")
        out["fs.bytes_live"] = (sum(r["file_bytes"] for r in recs), "B")
        out["fs.files_deleted"] = (sum(r.get("files_deleted", 0) for r in self.timed), "count")
        out["skew.dedupe_s"], out["skew.jobs"] = (None, "s"), (0, "count")
        return out


# ---------------------------------------------------------------- maintain
class Maintain(Workload):
    """Rewrite-heavy maintenance of a many-small-file table."""

    name = "maintain"
    rows = MAINTAIN_ROWS

    def setup(self) -> None:
        _, table_seed = _seeds(self.seed)
        self.model = M.TableModel(self.rows, table_seed)
        self.n_tok = M.n_tok_lookup(self.spark, M.content_keys(self.model, []))
        self.table = self.build(self.work / "table", table_seed)

    def run(self) -> None:
        spark, table = self.spark, self.table
        self.compact(table, MAINTAIN_COMPACT_TARGET)
        res, rec = self.op("clustering.cluster", lambda: cluster(
            spark, table, curve="zorder", target_file_bytes=MAINTAIN_CLUSTER_TARGET),
            table=table)
        rec["files_out"] = res.get("files_written", 0)
        for name, fn in (
            ("expire.rewrite_manifests", lambda: rewrite_manifests(spark, table)),
            ("expire.expire_snapshots", lambda: expire_snapshots(spark, table, keep_last=1)),
            ("expire.remove_orphans", lambda: remove_orphans(spark, table, grace_period_ms=0)),
        ):
            res, rec = self.op(name, fn, table=table)
            rec["files_listed"] = res.get("files_listed")
        self.reads(table, self.model, passes=3)

    def e2e(self) -> dict:
        out = super().e2e()
        (compact_s,), (cluster_s,) = self.walls("compaction.compact"), self.walls("clustering.cluster")
        out["compact_rows_per_s"] = (self.rows / compact_s, "1/s")
        out["cluster_rows_per_s"] = (self.rows / cluster_s, "1/s")
        out["metadata_ops_s"] = (sum(sum(self.walls(n)) for n in (
            "expire.rewrite_manifests", "expire.expire_snapshots", "expire.remove_orphans")), "s")
        return out


# ------------------------------------------------------------ merge_ingest
def plan_backfill(model: M.TableModel, rng: random.Random, cseed0: int) -> list[tuple]:
    """10% updates, 5% deletes, 10% inserts, unique keys (policy error)."""
    n = len(model.rows)
    picked = rng.sample(sorted(model.rows), n // 10 + n // 20)
    upd, dele = picked[: n // 10], picked[n // 10:]
    ops = [(i, "upsert", cseed0 + k, model.rows[i][1]) for k, i in enumerate(upd)]
    ops += [(i, "delete", 0, model.rows[i][1]) for i in dele]
    new = range(model.next_id, model.next_id + n // 10)
    ops += [(i, "upsert", cseed0 + n + k, cseed0 + n + k) for k, i in enumerate(new)]
    return _sequenced(ops, rng)


def plan_skewed(model: M.TableModel, rng: random.Random, cseed0: int) -> list[tuple]:
    """One hot existing key repeated MERGE_ROWS/10 times, plus MERGE_ROWS/40
    cold inserts."""
    hot = rng.choice(sorted(model.rows))
    ops = [(hot, "upsert", cseed0 + k, model.rows[hot][1]) for k in range(MERGE_ROWS // 10)]
    cold = range(model.next_id, model.next_id + MERGE_ROWS // 40)
    ops += [(i, "upsert", cseed0 + MERGE_ROWS + k, cseed0 + MERGE_ROWS + k)
            for k, i in enumerate(cold)]
    return _sequenced(ops, rng)


def plan_batch(model: M.TableModel, rng: random.Random, c: int) -> list[tuple]:
    """~70% upserts of existing keys (one in seven a duplicate within the
    batch), ~10% deletes of other existing keys, ~20% new keys."""
    n_up, n_del = BATCH_ROWS * 7 // 10, BATCH_ROWS // 10
    n_new = BATCH_ROWS - n_up - n_del
    distinct = n_up * 6 // 7
    keys = rng.sample(sorted(model.rows), distinct + n_del)
    up_keys, del_keys = keys[:distinct], keys[distinct:]
    up_keys += [rng.choice(up_keys) for _ in range(n_up - distinct)]
    ops = [(i, "upsert", c + k, model.rows[i][1]) for k, i in enumerate(up_keys)]
    ops += [(i, "delete", 0, model.rows[i][1]) for i in del_keys]
    new = range(model.next_id, model.next_id + n_new)
    ops += [(i, "upsert", c + BATCH_ROWS + k, c + BATCH_ROWS + k) for k, i in enumerate(new)]
    return _sequenced(ops, rng)


def _sequenced(ops: list[tuple], rng: random.Random) -> list[tuple]:
    """Shuffle, then give every row a distinct ``_seq`` in arrival order."""
    rng.shuffle(ops)
    return [(i, op, c, s, k) for k, (i, op, c, s) in enumerate(ops)]


def expected_counts(model: M.TableModel, ops: list[tuple]) -> dict:
    """rows_updated / rows_deleted / rows_inserted a MERGE must report."""
    out = {"rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0}
    for i, (op, *_) in M.last_per_key(ops).items():
        if i in model.rows:
            out["rows_deleted" if op == "delete" else "rows_updated"] += 1
        elif op == "upsert":
            out["rows_inserted"] += 1
    return out


class MergeIngest(Workload):
    """PASSES passes of: a large backfill MERGE (above the broadcast cap),
    a hot-key MERGE, the pruned reads, a micro-batch MERGE through the
    streaming sink (below the cap), the pruned reads, a compaction. Each
    pass applies its own sources to the table the previous pass left."""

    name = "merge_ingest"
    rows = MERGE_ROWS

    def setup(self) -> None:
        spark = self.spark
        rng, table_seed = _seeds(self.seed)
        # plan every source against a model that applies them in order
        self.model = M.TableModel(self.rows, table_seed)
        plan = self.model.copy()
        self.sources: dict[str, list[tuple]] = {}
        self.expect: dict[str, dict] = {}

        steps = [("batch-warmup", lambda: plan_batch(plan, rng, table_seed + 1000))]
        for p in range(PASSES):
            c0 = table_seed + 1000 + 16 * self.rows * (p + 1)
            steps += [(f"large-{p}", lambda c0=c0: plan_backfill(plan, rng, c0)),
                      (f"skewed-{p}", lambda c0=c0: plan_skewed(plan, rng, c0 + 4 * self.rows)),
                      (f"batch-{p}", lambda c0=c0: plan_batch(plan, rng, c0 + 8 * self.rows))]
        for name, make in steps:
            ops = make()
            self.expect[name] = expected_counts(plan, ops)
            plan.apply(ops)
            self.sources[name] = ops
        self.n_tok = M.n_tok_lookup(spark, M.content_keys(self.model, list(self.sources.values())))
        # stage every source as parquet, one file each, in one job
        staged = self.work / "staged"
        (M.source_df(spark, self.sources).repartition("part")
         .write.partitionBy("part").parquet(str(staged)))
        self.staged = {name: staged / f"part={name}" for name in self.sources}
        self.src_bytes = {name: sum(f.stat().st_size for f in d.glob("*.parquet"))
                          for name, d in self.staged.items()}
        self.landing = self.work / "landing"
        self.landing.mkdir()
        self.checkpoint = str(self.work / "checkpoint")

        self.table = self.build(self.work / "table", table_seed)
        self.compact(self.table, MERGE_COMPACT_TARGET, timed=False)
        # one untimed warm-up micro-batch starts the streaming query and
        # runs the MERGE code once before timing starts
        self.batch("batch-warmup", timed=False)

    def batch(self, name: str, timed=True) -> None:
        (f,) = self.staged[name].glob("*.parquet")
        os.rename(f, self.landing / f"{name}.parquet")
        res, rec = self.op("sink.stream_merge_into", lambda: stream_merge_into(
            self.spark, self.table, str(self.landing), self.checkpoint,
            duplicate_policy="last", max_files_per_trigger=1), table=self.table, timed=timed)
        self.check(res["batches"] == 1, f"{name}: {res['batches']} micro-batches")
        ops = self.sources[name]
        summary = self.table.snapshot()["summary"]
        self.record_merge("batch", summary, ops, "last", rec, self.expect[name])
        self.check(self.merges[-1]["path"] == "fast", f"{name} is sized for the per-unit path")
        self.model.apply(ops)

    def run(self) -> None:
        table, read = self.table, self.spark.read.parquet
        for p in range(PASSES):
            for name, kind, policy, kw in ((f"large-{p}", "merge", "error", {}),
                                           (f"skewed-{p}", "merge_skewed", "last", {"salt": 16})):
                ops = self.sources[name]
                self.merge(table, read(str(self.staged[name])), ops, policy, kind,
                           self.expect[name], **kw)
                self.model.apply(ops)
            self.reads(table, self.model)
            self.batch(f"batch-{p}")
            self.reads(table, self.model)
            self.compact(table, MERGE_COMPACT_TARGET)

    def e2e(self) -> dict:
        out = super().e2e()
        for kind, src in (("merge", "large"), ("merge_skewed", "skewed")):
            rows = sum(len(self.sources[f"{src}-{p}"]) for p in range(PASSES))
            out[f"{kind}_rows_per_s"] = (rows / sum(self.walls(kind)), "1/s")
        out["batch_p50_s"] = (_median(self.walls("sink.stream_merge_into")), "s")
        applied = [n for n in self.sources if n != "batch-warmup"]
        out["write_amp"] = (self.total("bytes_written")
                            / sum(self.src_bytes[n] for n in applied), "ratio")
        return out

    def layer_metrics(self) -> dict:
        out = super().layer_metrics()
        # skew: the salted two-phase dedupe alone, on the hot-key source
        src = self.spark.read.parquet(str(self.staged["skewed-0"]))
        recs = []
        for _ in range(3):
            with self.tr.span("skew.salted_latest_by_key") as rec:
                (salted_latest_by_key(src, key="doc_id", order_col="_seq", salt=16)
                 .write.format("noop").mode("overwrite").save())
            recs.append(rec)
        out["skew.dedupe_s"] = (_median([r["wall_s"] for r in recs]), "s")
        out["skew.jobs"] = (_median([r["jobs"] for r in recs]), "count")
        return out


WORKLOADS = {w.name: w for w in (Maintain, MergeIngest)}
