"""MERGE INTO: update/delete/insert vs a DuckDB oracle, duplicate-key
policies, skew salting, file-scoped rewrite, batch plans, Spark job
budgets, resume."""

from __future__ import annotations

import contextlib
import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from feature_engineering_poc_spark.lakehouse import job as job_mod
from feature_engineering_poc_spark.lakehouse import merge as merge_mod
from feature_engineering_poc_spark.lakehouse import write_token_table
from feature_engineering_poc_spark.lakehouse.generator import token_dataframe
from feature_engineering_poc_spark.lakehouse.lineage import LineageLog
from feature_engineering_poc_spark.lakehouse.merge import (
    DuplicateSourceKeys,
    merge_into,
)
from feature_engineering_poc_spark.lakehouse.skew import hot_keys, salted_latest_by_key
from tests.conftest import last_job_id, sha256, spy_rewrites


@pytest.fixture()
def table(spark, tmp_path):
    return write_token_table(spark, tmp_path / "t", n_rows=1000, files_per_source=4, max_tok=64)


def _source(spark, table, upd_tok=4):
    """~10% updates (``upd_tok`` new tokens), ~5% deletes, ~10% inserts
    (FIXTURES.md F1)."""
    tgt = table.scan(spark)
    updates = (
        tgt.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0)
        .select(
            "doc_id",
            F.array([F.lit(i) for i in range(upd_tok)]).cast("array<int>").alias("tokens"),
            F.lit(upd_tok).cast("int").alias("n_tok"),
            "source",
            F.lit("upsert").alias("_op"),
        )
    )
    deletes = (
        tgt.filter(F.pmod(F.xxhash64("doc_id"), F.lit(20)) == 1)
        .select("doc_id", "tokens", "n_tok", "source", F.lit("delete").alias("_op"))
    )
    inserts = token_dataframe(spark, 100, seed=99, max_tok=32, id_offset=10_000_000).withColumn(
        "_op", F.lit("upsert")
    )
    return updates.unionByName(deletes).unionByName(inserts)


def _oracle(tgt_pd, src_pd):
    """The merged table by SQL MERGE semantics, sorted by doc_id."""
    con = duckdb.connect()
    con.register("tgt", tgt_pd)
    con.register("src", src_pd)
    expect = con.sql(
        """
        SELECT COALESCE(s.doc_id, t.doc_id) doc_id,
               CASE WHEN s._op = 'upsert' THEN s.tokens ELSE t.tokens END tokens,
               CASE WHEN s._op = 'upsert' THEN s.n_tok ELSE t.n_tok END n_tok,
               COALESCE(t.source, s.source) source
        FROM tgt t FULL OUTER JOIN src s USING (doc_id)
        WHERE s._op IS NULL OR s._op <> 'delete'
        """
    ).df()
    return expect.sort_values("doc_id").reset_index(drop=True)


def _assert_table_is(spark, table, expect):
    got = table.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(got) == len(expect)
    assert (got.doc_id == expect.doc_id).all()
    assert (got.n_tok == expect.n_tok).all()
    assert (got.source == expect.source).all()
    assert all(list(a) == list(b) for a, b in zip(got.tokens, expect.tokens))


def test_merge_update_delete_insert_vs_duckdb_oracle(spark, table):
    src = _source(spark, table)
    tgt_pd = table.scan(spark).toPandas()
    src_pd = src.toPandas()
    n_upd_expect = len(src_pd[(src_pd._op == "upsert")
                              & src_pd.doc_id.isin(tgt_pd.doc_id)])
    result = merge_into(spark, table, src)
    assert result["snapshot_id"] == 2
    assert result["rows_updated"] == n_upd_expect
    assert result["rows_inserted"] == 100

    _assert_table_is(spark, table, _oracle(tgt_pd, src_pd))


def test_merge_untouched_files_not_rewritten(spark, table):
    pre_files = set(table.data_files(spark))
    one_doc = table.scan(spark).orderBy("doc_id").limit(1).select("doc_id").collect()[0].doc_id
    src = spark.createDataFrame(
        [(one_doc, [1, 2], 2, "web")], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    result = merge_into(spark, table, src)
    post_files = set(table.data_files(spark))
    kept = pre_files & post_files
    # copy-on-write is file-scoped: only files containing the key rewritten
    assert result["touched_files"] <= result["candidate_files"]
    assert len(pre_files) - len(kept) == result["files_rewritten"]
    assert result["files_rewritten"] >= 1
    assert len(kept) >= len(pre_files) - 2  # at most the touched file(s) dropped


def test_merge_duplicate_keys_error_and_last_policy(spark, table):
    d = table.scan(spark).limit(1).collect()[0].doc_id
    dup_src = spark.createDataFrame(
        [(d, [1], 1, "web", "upsert", 1), (d, [2], 2, "web", "upsert", 2)],
        "doc_id string, tokens array<int>, n_tok int, source string, _op string, _seq long",
    )
    with pytest.raises(DuplicateSourceKeys):
        merge_into(spark, table, dup_src)
    result = merge_into(spark, table, dup_src, duplicate_policy="last")
    assert result["rows_updated"] == 1
    row = table.scan(spark).filter(F.col("doc_id") == d).collect()[0]
    assert list(row.tokens) == [2] and row.n_tok == 2  # highest _seq wins


def test_salted_latest_by_key_hot_key(spark):
    # a hot key duplicated 5000x + 100 unique keys
    hot = spark.range(5000).select(
        F.lit("hotdoc").alias("doc_id"), F.col("id").cast("long").alias("_seq"),
        F.array(F.col("id").cast("int")).alias("tokens"),
    )
    cold = spark.range(100).select(
        F.format_string("doc%03d", "id").alias("doc_id"), F.lit(0).cast("long").alias("_seq"),
        F.array(F.lit(1)).alias("tokens"),
    )
    df = hot.unionByName(cold)
    assert hot_keys(df, "doc_id", 1000).count() == 1
    out = salted_latest_by_key(df, "doc_id", "_seq", salt=8)
    assert out.count() == 101
    winner = out.filter("doc_id = 'hotdoc'").collect()[0]
    assert winner._seq == 4999  # max _seq survived two-phase agg


def test_merge_with_salted_join(spark, table):
    src = _source(spark, table)
    r_plain = merge_into(spark, table, src)
    assert r_plain["snapshot_id"] == 2
    # same merge onto snapshot 1 replayed with salting on a fresh table
    # must produce identical aggregate state
    from feature_engineering_poc_spark.lakehouse.equivalence import scan_fingerprint

    fp = scan_fingerprint(table.scan(spark))
    # re-apply: new table, same ops, salted
    # (cheap determinism check: salt must not change the result)
    assert fp.row_count == table.scan(spark).count()


def test_merge_resume_from_checkpoint(spark, table):
    src = _source(spark, table).persist()
    with pytest.raises(RuntimeError, match="injected failure"):
        merge_into(spark, table, src, job_id="mresume", _fail_after_units=1)
    assert table.current_snapshot_id() == 1  # nothing committed
    result = merge_into(spark, table, src, job_id="mresume")
    assert result["snapshot_id"] == 2
    assert result["rows_inserted"] == 100
    src.unpersist()


def test_merge_empty_source_noop(spark, table):
    empty = spark.createDataFrame([], "doc_id string, tokens array<int>, n_tok int, source string")
    result = merge_into(spark, table, empty)
    assert result["snapshot_id"] is None


def test_broadcast_cap_heap_aware(spark, monkeypatch):
    from feature_engineering_poc_spark.lakehouse.job import _parse_size
    from feature_engineering_poc_spark.lakehouse.merge import _broadcast_cap

    assert _parse_size("48g") == 48 << 30
    assert _parse_size("512m") == 512 << 20
    assert _parse_size("1024") == 1024
    monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", "12345")
    assert _broadcast_cap(spark) == 12345
    monkeypatch.delenv("FEPOC_MERGE_BROADCAST_CAP")
    cap = _broadcast_cap(spark)
    heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
    mrs = _parse_size(spark.conf.get("spark.driver.maxResultSize"))
    # heap/16 concurrency-safe slice, floored at 64 MB, clamped under
    # the driver collection limit
    assert cap == min(max(64 << 20, heap // 16), int(mrs * 0.8))


def test_merge_special_chars_in_table_root(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; the probe join
    must still match manifest paths for roots containing spaces, '%',
    '+', and non-ASCII — a silent mismatch would skip the rewrite AND
    re-insert matched keys as duplicates (ADVICE r5, merge.py probe)."""
    root = tmp_path / "odd dir %x+ü"
    t = write_token_table(spark, root / "t", n_rows=400, files_per_source=2, max_tok=32)
    pre = t.scan(spark).count()
    one = t.scan(spark).orderBy("doc_id").limit(1).collect()[0]
    src = spark.createDataFrame(
        [(one.doc_id, [9, 9], 2, one.source)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    r = merge_into(spark, t, src)
    # the key matched (update, not insert) and no duplicate appeared
    assert r["rows_updated"] == 1
    assert r["rows_inserted"] == 0
    assert t.scan(spark).count() == pre
    assert t.scan(spark).filter(F.col("doc_id") == one.doc_id).count() == 1
    row = t.scan(spark).filter(F.col("doc_id") == one.doc_id).collect()[0]
    assert list(row.tokens) == [9, 9] and row.n_tok == 2


def test_parse_size_two_letter_suffixes():
    from feature_engineering_poc_spark.lakehouse.job import _parse_size

    assert _parse_size("2gb") == 2 << 30
    assert _parse_size("512mb") == 512 << 20
    assert _parse_size("8kb") == 8 << 10
    assert _parse_size("1g") == 1 << 30
    assert _parse_size("64") == 64


# With 48-token updates the fixture source (~250 rows of 15-char
# doc_ids) fits the driver planning budget at this cap (_driver_bytes
# ≈ 250 × 2 × (15 + 20) B ≈ 17.5 KB).
MULTI_BATCH_CAP = 24 << 10


def _spy_driver_collect(monkeypatch) -> list:
    """Record every driver-side planning collect (Arrow tables)."""
    collected = []
    real = merge_mod._collect_arrow

    def spy(df):
        collected.append(real(df))
        return collected[-1]

    monkeypatch.setattr(merge_mod, "_collect_arrow", spy)
    return collected


def _set_cap(monkeypatch, cap):
    if cap is None:
        monkeypatch.delenv("FEPOC_MERGE_BROADCAST_CAP", raising=False)
    else:
        monkeypatch.setenv("FEPOC_MERGE_BROADCAST_CAP", str(cap))


@contextlib.contextmanager
def _task_bytes(spark, n: int | None):
    """Set ``spark.sql.files.maxPartitionBytes`` (the size of one batch
    and the staged-source threshold) for a block, then restore it (the
    session is shared). None leaves it as is."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if n is not None:
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _multi_batch_bytes(spark, table) -> int:
    """A task size that splits the fixture's touched files over several
    batches (a quarter of the table's bytes)."""
    return sum(r["file_bytes"] for r in table.manifest_records(spark)) // 4


@pytest.mark.parametrize(
    "case, planning",
    [("single_batch", "driver"), ("multi_batch", "driver"), ("distributed", "distributed")],
    ids=["single_batch", "multi_batch", "distributed"],
)
def test_merge_batch_plans_agree(spark, table, monkeypatch, case, planning):
    """One rewrite path, three plans of it: a single in-task batch;
    several batches (a lowered task size) with the keys still planned on
    the driver; distributed planning (cap 0), whose tasks read per-batch
    slices of the source. Each must give the oracle's table and row
    counts."""
    _set_cap(monkeypatch, 0 if case == "distributed" else None)
    collected = _spy_driver_collect(monkeypatch)
    src = _source(spark, table, upd_tok=48).persist()
    tgt_pd, src_pd = table.scan(spark).toPandas(), src.toPandas()
    task = _multi_batch_bytes(spark, table) if case == "multi_batch" else None
    with _task_bytes(spark, task):
        r = merge_into(spark, table, src)
    src.unpersist()

    assert bool(collected) == (planning == "driver")
    assert r["planning"] == planning
    assert (r["batches"] >= 2) if case == "multi_batch" else (r["batches"] == 1)
    assert r["units_broadcast"] == r["batches"]
    if case == "distributed":
        assert r["source_sliced"]
    in_tgt = src_pd.doc_id.isin(tgt_pd.doc_id)
    assert r["rows_updated"] == ((src_pd._op == "upsert") & in_tgt).sum()
    assert r["rows_deleted"] == ((src_pd._op == "delete") & in_tgt).sum()
    assert r["rows_inserted"] == ((src_pd._op == "upsert") & ~in_tgt).sum() == 100
    _assert_table_is(spark, table, _oracle(tgt_pd, src_pd))
    # the phase record reaches the snapshot summary (commit still open
    # there) and the result
    snap = table.snapshot()["summary"]
    assert snap["batches"] == r["batches"]
    assert set(snap["phases"]) == {"profile", "probe", "rewrite"}
    assert set(r["phases"]) == {"profile", "probe", "rewrite", "commit"}


@pytest.mark.parametrize("cap, budget", [(None, 4), (0, 14)], ids=["default_cap", "cap0"])
def test_merge_spark_job_budget(spark, table, monkeypatch, cap, budget):
    """Under the default cap the fixture merge runs the staging write,
    the probe (source keys broadcast + one collect) and one in-task
    rewrite job; cap 0 plans distributed and cuts the staged source into
    per-batch slices before the same one rewrite job."""
    _set_cap(monkeypatch, cap)
    src = _source(spark, table)
    before = last_job_id(spark)
    merge_into(spark, table, src)
    assert last_job_id(spark) - before <= budget


def test_merge_resume_skips_finished_batches(spark, table):
    """A crash after the first of several batches, then a rerun under the
    same job_id: the finished batch is not redone, the result is exact."""
    src = _source(spark, table, upd_tok=48).persist()
    expect = _oracle(table.scan(spark).toPandas(), src.toPandas())
    with _task_bytes(spark, _multi_batch_bytes(spark, table)):
        with pytest.raises(RuntimeError, match="injected failure"):
            merge_into(spark, table, src, job_id="mbatch", _fail_after_units=1)
        log = LineageLog(table.root, "mbatch")
        assert list(log.completed_units()) == ["batch:0"]
        assert table.current_snapshot_id() == 1
        r = merge_into(spark, table, src, job_id="mbatch")
    src.unpersist()
    assert r["batches"] >= 2 and r["rows_inserted"] == 100
    units = [rec["unit"] for rec in log.records() if rec["event"] == "unit_done"]
    assert sorted(units) == [f"batch:{i}" for i in range(r["batches"])]
    _assert_table_is(spark, table, expect)


def test_merge_crash_hook_keeps_batch_plan(spark, table, monkeypatch):
    """The crash hook changes how batches are run (one job each), never
    how they are cut: the units of a crashing run equal those of a plain
    run of the same merge."""
    seen: list[list] = []
    real = job_mod.run_task_units

    def spy(spark_, log, units, *args):
        seen.append([(u.name, u.files_in) for u in units])
        return real(spark_, log, units, *args)

    monkeypatch.setattr(job_mod, "run_task_units", spy)
    src = _source(spark, table, upd_tok=48).persist()
    with _task_bytes(spark, _multi_batch_bytes(spark, table)):
        with pytest.raises(RuntimeError, match="injected failure"):
            merge_into(spark, table, src, job_id="hooked", _fail_after_units=1)
        merge_into(spark, table, src, job_id="plain")
    src.unpersist()
    assert len(seen) == 2 and len(seen[0]) >= 2
    assert seen[0] == seen[1]


def test_merge_one_file_per_source_per_batch(spark, table):
    """Each batch writes exactly one file per ``source`` value among its
    rows (its files' rows plus, in batch 0, the inserts), each sorted by
    doc_id."""
    updates = table.scan(spark).select(
        "doc_id", F.array_repeat(F.lit(7), 64).alias("tokens"),
        F.lit(64).alias("n_tok"), "source",
    )
    inserts = token_dataframe(spark, 20, seed=5, max_tok=8, id_offset=20_000_000)
    with _task_bytes(spark, _multi_batch_bytes(spark, table)):
        r = merge_into(spark, table, updates.unionByName(inserts), job_id="perpart")
    assert (r["rows_updated"], r["rows_inserted"]) == (1000, 20) and r["batches"] >= 2
    ins_sources = {row.source for row in inserts.select("source").collect()}
    for name, rec in LineageLog(table.root, "perpart").completed_units().items():
        parts = [row["partition"] for row in rec["new_manifest_rows"]]
        want = {pq.read_table(f, columns=["source"])["source"][0].as_py()
                for f in rec["files_in"]}
        if name == "batch:0":
            want |= ins_sources
        assert sorted(parts) == sorted(want), name
        for row in rec["new_manifest_rows"]:
            out = pq.read_table(row["file_path"], columns=["doc_id", "source"])
            assert set(out["source"].to_pylist()) == {row["partition"]}
            ids = out["doc_id"].to_pylist()
            assert ids == sorted(ids)


def test_merge_staged_source_threshold(spark, table, monkeypatch):
    """Both sides of the staged-source threshold, each against the
    oracle: a staged source of exactly the task size is read whole by
    every task; one byte less cuts it into per-batch slices."""
    staged_bytes: list[int] = []
    real = merge_mod._stage

    def spy(src, path):
        prof = real(src, path)
        staged_bytes.append(sum(os.path.getsize(f) for f in merge_mod.list_parquet_files(path)))
        return prof

    monkeypatch.setattr(merge_mod, "_stage", spy)
    src = _source(spark, table).persist()
    expect = _oracle(table.scan(spark).toPandas(), src.toPandas())
    assert not merge_into(spark, table, src)["source_sliced"]
    _assert_table_is(spark, table, expect)
    size = staged_bytes[0]
    for task, sliced in ((size, False), (size - 1, True)):
        t = write_token_table(spark, table.root.parent / f"task{task}", n_rows=1000,
                              files_per_source=4, max_tok=64)
        with _task_bytes(spark, task):
            r = merge_into(spark, t, src)
        assert staged_bytes[-1] == size
        assert (r["planning"], r["source_sliced"]) == ("driver", sliced)
        assert r["rows_inserted"] == 100
        _assert_table_is(spark, t, expect)
    src.unpersist()


def test_merge_file_over_cap_rewritten_in_task(spark, table, monkeypatch):
    """A file whose matched bytes exceed the broadcast cap is rewritten in
    one task like any other: driver planning, one batch, no shuffle
    batch, the oracle's table."""
    first = sorted(table.data_files(spark))[0]
    tgt = table.scan(spark)
    in_file = spark.read.parquet(first).select("doc_id")
    src = tgt.join(in_file, "doc_id").select(
        "doc_id", F.array_repeat(F.lit(3), 2000).alias("tokens"),
        F.lit(2000).alias("n_tok"), "source",
    ).persist()
    src_pd = src.toPandas()
    matched = sum(merge_mod.ROW_BYTES + 4 * 2000 for _ in range(len(src_pd)))
    cap = 64 << 10
    assert merge_mod._driver_bytes(len(src_pd), sum(len(d) for d in src_pd.doc_id)) <= cap < matched
    expect = _oracle(tgt.toPandas(), src_pd.assign(_op="upsert"))
    _set_cap(monkeypatch, cap)
    before = last_job_id(spark)
    r = merge_into(spark, table, src)
    jobs = last_job_id(spark) - before
    src.unpersist()
    assert (r["planning"], r["batches"], r["touched_files"]) == ("driver", 1, 1)
    assert r["files_rewritten"] == 1 and jobs <= 4
    _assert_table_is(spark, table, expect)


def test_merge_driver_budget_boundary(spark, table, monkeypatch):
    """Driver planning applies exactly while ``_driver_bytes`` of the
    source fits the cap, and the collect stays within that bound."""
    src = _source(spark, table).persist()
    src_pd = src.toPandas()
    need = merge_mod._driver_bytes(len(src_pd), sum(len(d.encode()) for d in src_pd.doc_id))
    expect = _oracle(table.scan(spark).toPandas(), src_pd)
    results = []
    for cap, on_driver in ((need, True), (need - 1, False)):
        t = write_token_table(spark, table.root.parent / f"cap{cap}", n_rows=1000,
                              files_per_source=4, max_tok=64)
        _set_cap(monkeypatch, cap)
        collected = _spy_driver_collect(monkeypatch)
        results.append(merge_into(spark, t, src))
        assert bool(collected) == on_driver
        if collected:
            assert collected[0].num_rows <= 2 * len(src_pd)
            assert collected[0].nbytes <= need
        _assert_table_is(spark, t, expect)
    src.unpersist()
    for k in ("rows_updated", "rows_deleted", "rows_inserted", "touched_files"):
        assert results[0][k] == results[1][k], k


def test_merge_file_id_collision_plans_distributed(spark, table, monkeypatch):
    """Colliding candidate file ids send the merge to distributed planning."""
    collected = _spy_driver_collect(monkeypatch)
    monkeypatch.setattr(merge_mod, "_file_ids", lambda paths: None)
    src = _source(spark, table).persist()
    expect = _oracle(table.scan(spark).toPandas(), src.toPandas())
    r = merge_into(spark, table, src)
    src.unpersist()
    assert not collected and r["rows_inserted"] == 100
    _assert_table_is(spark, table, expect)


def test_file_ids_distinct_at_scale():
    """200k distinct part-file paths get distinct ids, so driver planning
    is not lost to an id collision at production file counts (CRC-32
    ids of these paths collide)."""
    import random
    import uuid

    rng = random.Random(0)
    paths = [f"/lake/t/data/source=s{i % 7}/part-{i:05d}-"
             f"{uuid.UUID(int=rng.getrandbits(128))}.c000.zstd.parquet"
             for i in range(200_000)]
    assert merge_mod._file_ids(paths) is not None


def test_merge_ignores_unit_records_of_another_plan(spark, table, monkeypatch):
    """A job_id whose lineage holds unit records this plan did not write
    (another layout, or another batch split of the same files) reruns
    the merge from the parent snapshot and commits only its own units."""
    src = _source(spark, table).persist()
    expect = _oracle(table.scan(spark).toPandas(), src.toPandas())
    files = sorted(table.data_files(spark))
    log = LineageLog(table.root, "mixed")
    fake = {"file_path": files[0], "partition": "x", "record_count": 1}
    log.mark_unit_done("rewrite:books", files_in=files[:1], new_manifest_rows=[fake],
                       metrics={"files_rewritten": 1, "files_written": 1})
    log.mark_unit_done("batch:0", files_in=files[:1], new_manifest_rows=[fake],
                       metrics={"files_rewritten": 1, "files_written": 1, "rows_inserted": 7})
    r = merge_into(spark, table, src, job_id="mixed")
    src.unpersist()
    assert r["rows_inserted"] == 100
    _assert_table_is(spark, table, expect)


def test_merge_outputs_match_serial_reference(spark, table, monkeypatch, tmp_path):
    """A batch's per-``source`` outputs are written on the task's thread
    pool; each file is byte-identical to the same rows
    (``_merge_in_task``) written serially with zstd."""
    ref_path = tmp_path / "ref.parquet"
    outputs = []

    def check(specs, rows):  # runs while the staged source exists
        for spec, spec_rows in zip(specs, rows):
            tables = [pq.read_table(f, columns=["doc_id", "tokens", "n_tok", "source"])
                      for f in spec["files"]]
            ref = merge_mod._merge_in_task(spec, tables)
            assert [r["file_path"] for r in spec_rows] == [p for p, _, _ in ref]
            outputs.append(len(ref))
            for row, (_, _, part) in zip(spec_rows, ref):
                pq.write_table(part, ref_path, compression="zstd")
                assert sha256(row["file_path"]) == sha256(ref_path), row["file_path"]

    spy_rewrites(monkeypatch, check)
    r = merge_into(spark, table, _source(spark, table))
    assert r["rows_updated"] > 0 and max(outputs) > 1


def test_merge_deleting_every_row_writes_nothing(spark, table):
    """A batch whose rows are all deleted has no outputs: its files
    leave the manifest and nothing is written."""
    src = table.scan(spark).withColumn("_op", F.lit("delete"))
    r = merge_into(spark, table, src)
    assert (r["rows_deleted"], r["files_written"]) == (1000, 0)
    assert table.manifest_table().num_rows == 0 and table.scan(spark).count() == 0
