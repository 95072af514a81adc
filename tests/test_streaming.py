"""Streaming: file-source incremental pipeline equals the batch plan."""

from __future__ import annotations

import shutil
import time
from datetime import datetime
from pathlib import Path

import pytest

from feature_engineering_poc_spark.streaming import (
    read_parquet_stream,
    run_available_now,
    sessionized_counts,
    windowed_event_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(Path(SF_DIR) / "events.parquet", d / "part-0.parquet")
    return str(d)


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    stream = read_parquet_stream(spark, events_dir)
    assert stream.isStreaming
    run_available_now(windowed_event_counts(stream, window="1 hour"), "win_counts")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    batch = spark.read.parquet(events_dir)
    expect = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(batch, window="1 hour").collect()
    }
    assert got == expect and len(got) > 0


def test_sessionized_counts_runs(spark, events_dir):
    stream = read_parquet_stream(spark, events_dir)
    run_available_now(sessionized_counts(stream, gap="10 minutes"), "sessions")
    rows = spark.table("sessions").collect()
    assert len(rows) > 0
    assert all(r.session_end > r.session_start for r in rows)
    # session integrity: per-user event totals preserved
    total = sum(r.n_events for r in rows)
    assert total == spark.read.parquet(events_dir).count()


# ------------------------------------------------- lakehouse ingestion

def _single_parquet_file(df, dest: Path) -> None:
    """Write df as ONE parquet file at dest (file-source streams list
    individual files)."""
    tmp = dest.parent / (dest.name + ".tmpdir")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(p for p in tmp.glob("*.parquet"))
    shutil.move(str(part), dest)
    shutil.rmtree(tmp)


def test_stream_merge_into_lakehouse(spark, tmp_path):
    """foreachBatch MERGE: streamed files land as snapshots; final table
    state equals the batch-computed expectation; checkpoint replay is a
    no-op."""
    import os

    from pyspark.sql import functions as F

    from feature_engineering_poc_spark.lakehouse import (
        scan_fingerprint,
        write_token_table,
    )
    from feature_engineering_poc_spark.streaming import stream_merge_into

    t = write_token_table(spark, tmp_path / "tbl", n_rows=500, files_per_source=2,
                          max_tok=32)
    sid0 = t.current_snapshot_id()
    pre = t.scan(spark)  # pinned to the pre-stream file set
    base = pre.orderBy("doc_id").limit(40).collect()

    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "_op string, _seq long")
    upd_rows = [(r.doc_id, [1, 2, 3], 3, r.source, "upsert", 1) for r in base[:30]]
    del_rows = [(r.doc_id, None, None, r.source, "delete", 2) for r in base[30:40]]
    ins_rows = [(f"zz-new-{i:05d}", [7] * 4, 4, "web", "upsert", 3) for i in range(25)]
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    f1, f2 = incoming / "f1.parquet", incoming / "f2.parquet"
    _single_parquet_file(spark.createDataFrame(upd_rows, schema), f1)
    _single_parquet_file(spark.createDataFrame(del_rows + ins_rows, schema), f2)
    now = time.time()
    os.utime(f1, (now - 100, now - 100))  # processed first
    os.utime(f2, (now, now))

    r = stream_merge_into(spark, t, str(incoming), str(tmp_path / "ckpt"),
                          max_files_per_trigger=1)
    assert r["batches"] == 2
    assert t.current_snapshot_id() == sid0 + 2  # one snapshot per micro-batch

    cols = ["doc_id", "tokens", "n_tok", "source"]
    upd_df = spark.createDataFrame(upd_rows, schema).select(*cols)
    changed = spark.createDataFrame(upd_rows + del_rows, schema).select("doc_id")
    ins_df = spark.createDataFrame(ins_rows, schema).select(*cols)
    expected = (pre.join(changed, "doc_id", "left_anti").select(*cols)
                .unionByName(upd_df).unionByName(ins_df))
    fe, fg = scan_fingerprint(expected), scan_fingerprint(t.scan(spark))
    assert (fe.row_count, fe.xor_hash) == (fg.row_count, fg.xor_hash)

    # replay with the same checkpoint: offsets already committed -> no-op
    r2 = stream_merge_into(spark, t, str(incoming), str(tmp_path / "ckpt"),
                           max_files_per_trigger=1)
    assert r2["batches"] == 0
    assert t.current_snapshot_id() == sid0 + 2


def test_stream_merge_counts_committed_batches_only(spark, tmp_path):
    """An empty parquet file landed in the source directory is a
    micro-batch that commits nothing: it is not counted and makes no
    snapshot. A non-empty micro-batch runs at most 6 Spark jobs (the
    salted dedupe, the staging write, the probe and one rewrite job)."""
    from feature_engineering_poc_spark.lakehouse import write_token_table
    from feature_engineering_poc_spark.streaming import stream_merge_into
    from tests.conftest import last_job_id

    t = write_token_table(spark, tmp_path / "tbl", n_rows=300, files_per_source=2,
                          max_tok=16)
    sid0 = t.current_snapshot_id()
    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "_op string, _seq long")
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _single_parquet_file(spark.createDataFrame([], schema), incoming / "empty.parquet")
    r = stream_merge_into(spark, t, str(incoming), str(tmp_path / "ckpt"))
    assert r["batches"] == 0
    assert t.current_snapshot_id() == sid0

    one = t.scan(spark).orderBy("doc_id").first()
    rows = [(one.doc_id, [5, 5], 2, one.source, "upsert", 1),
            ("zz-new-00001", [6], 1, "web", "upsert", 2)]
    _single_parquet_file(spark.createDataFrame(rows, schema), incoming / "f1.parquet")
    before = last_job_id(spark)
    r = stream_merge_into(spark, t, str(incoming), str(tmp_path / "ckpt"))
    jobs = last_job_id(spark) - before
    assert r["batches"] == 1 and t.current_snapshot_id() == sid0 + 1
    assert jobs <= 6, jobs


def test_windowed_late_data_dropped_by_watermark(spark, tmp_path):
    """Append-mode watermark semantics: an event arriving after the
    watermark passed its window is dropped, while the same data in one
    batch would count it."""
    import os

    incoming = tmp_path / "late_events"
    incoming.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def ev(eid, hour_min, v=1.0):
        h, m = hour_min
        return (eid, datetime(2024, 1, 1, h, m), 1, "click", v, "{}")

    on_time = spark.createDataFrame(
        [ev(1, (0, 15)), ev(2, (10, 0)), ev(3, (11, 59))], schema)
    filler = spark.createDataFrame([ev(4, (11, 30))], schema)  # advances watermark
    late = spark.createDataFrame([ev(5, (0, 30))], schema)  # watermark has passed
    f1, f2, f3 = (incoming / f"f{i}.parquet" for i in (1, 2, 3))
    _single_parquet_file(on_time, f1)
    _single_parquet_file(filler, f2)
    _single_parquet_file(late, f3)
    now = time.time()
    os.utime(f1, (now - 100, now - 100))  # batch order: f1, f2, f3
    os.utime(f2, (now - 50, now - 50))
    os.utime(f3, (now, now))

    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(str(incoming)))
    agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("late_counts")
         .outputMode("append")  # append: only watermark-closed windows emit
         .option("checkpointLocation", str(tmp_path / "late_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got: dict[int, int] = {}
    for r in spark.table("late_counts").collect():
        got[r.window_start.hour] = got.get(r.window_start.hour, 0) + r.n_events
    # the 00:00 window closed once the watermark reached 10:59 with ONE
    # event; the 00:30 arrival after that was dropped (would show as a
    # second emission or a count of 2 otherwise)
    assert got[0] == 1
    # batch over the same files counts both
    batch = windowed_event_counts(spark.read.parquet(str(incoming)),
                                  window="1 hour", watermark="1 hour")
    bmap = {r.window_start.hour: r.n_events for r in batch.collect()}
    assert bmap[0] == 2
