"""Streaming ingestion into the lakehouse: foreachBatch MERGE.

Structured Streaming's file source discovers new files; each
micro-batch is MERGEd into a TokenTable (update/delete/insert
semantics, merge.py) and published as one snapshot. Durability is
layered:

- the STREAM checkpoint (Spark's offset log) guarantees each input
  file is processed by exactly one successful batch;
- the MERGE lineage log (keyed ``stream-<query>-batch<id>``) makes a
  crashed batch resumable without double-applying rewrite batches;
- upsert MERGE is idempotent at the row level, so a batch replayed
  from the last un-committed offset converges to the same table state.

This is the real version of the reference's dead ``incremental``
source flag (Models.scala:51) pointed at the lakehouse instead of a
flat path — continuous ingestion with snapshot isolation for readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..lakehouse.merge import merge_into
from ..lakehouse.metadata import TOKEN_SCHEMA, TokenTable

# Source rows may carry the optional MERGE control columns.
TOKEN_STREAM_SCHEMA = T.StructType(
    list(TOKEN_SCHEMA.fields)
    + [T.StructField("_op", T.StringType()), T.StructField("_seq", T.LongType())]
)


def stream_merge_into(
    spark: SparkSession,
    table: TokenTable,
    source_dir: str,
    checkpoint_dir: str,
    duplicate_policy: str = "last",
    salt: int = 16,
    max_files_per_trigger: int | None = None,
    query_name: str = "stream-merge",
) -> dict:
    """Drain all files currently in ``source_dir`` (Trigger.AvailableNow)
    into ``table``, one MERGE snapshot per non-empty micro-batch. Returns
    {"batches": n, "last_snapshot_id": id}, where n counts the
    micro-batches that committed a snapshot.

    ``max_files_per_trigger`` bounds batch size (and therefore MERGE
    source size) — at scale this is the knob that keeps each snapshot's
    rewrite set proportional to the arrival rate, not the backlog.
    """
    reader = spark.readStream.schema(TOKEN_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    n_batches = 0

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        # an empty micro-batch commits nothing (snapshot_id None); it is
        # not counted, and no Spark job is spent probing for emptiness
        result = merge_into(
            spark,
            table,
            batch_df,
            duplicate_policy=duplicate_policy,
            salt=salt,
            job_id=f"{query_name}-batch{batch_id}",
        )
        if result["snapshot_id"] is not None:
            n_batches += 1

    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()
    return {"batches": n_batches, "last_snapshot_id": table.current_snapshot_id()}
