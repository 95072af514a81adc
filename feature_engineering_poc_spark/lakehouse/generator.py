"""Deterministic synthetic token-table generator (FIXTURES.md §F1).

All columns derive from ``spark.range`` ids through JVM-side hash
functions — fully distributed, zero per-row Python, reproducible for a
given seed at any scale. The table is deliberately written as MANY
SMALL FILES across skewed ``source`` partitions so that compaction,
clustering and skew handling have real work to do.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .metadata import TokenTable, list_parquet_files
from .stats import file_stats_rows

VOCAB = 50257
SOURCES_SKEWED = [("web", 70), ("books", 15), ("wiki", 10), ("code", 5)]


def token_dataframe(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    min_tok: int = 8,
    max_tok: int = 512,
    id_offset: int = 0,
) -> DataFrame:
    """(doc_id, tokens, n_tok, source) rows, deterministic in (seed, id).

    - doc_id: dense ``doc%012d`` strings (unique primary key)
    - n_tok:  log-uniform in [min_tok, max_tok]
    - tokens: per-position hash stream in [0, VOCAB)
    - source: skewed categorical (web 70 / books 15 / wiki 10 / code 5)
      — the skew exercises AQE skew-join + salting paths downstream.
    """
    import math

    lo, hi = math.log2(min_tok), math.log2(max_tok)
    df = spark.range(id_offset, id_offset + n_rows).select(
        F.format_string("doc%012d", F.col("id")).alias("doc_id"),
        (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(100000)) / 100000.0).alias("u1"),
        F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(100)).alias("u2"),
        F.col("id"),
    )
    df = df.withColumn(
        "n_tok", F.pow(F.lit(2.0), F.lit(lo) + (F.lit(hi) - F.lit(lo)) * F.col("u1")).cast("int")
    )
    src = F.when(F.col("u2") < SOURCES_SKEWED[0][1], SOURCES_SKEWED[0][0])
    acc = SOURCES_SKEWED[0][1]
    for name, pct in SOURCES_SKEWED[1:-1]:
        acc += pct
        src = src.when(F.col("u2") < acc, name)
    src = src.otherwise(SOURCES_SKEWED[-1][0])
    df = df.withColumn("source", src)
    # tokens: transform over a sequence — vectorized in codegen, no Python.
    df = df.withColumn(
        "tokens",
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok")),
            lambda j: F.pmod(F.xxhash64(F.col("id"), j, F.lit(seed + 2)), F.lit(VOCAB)).cast("int"),
        ),
    )
    return df.select("doc_id", "tokens", "n_tok", "source")


def write_token_table(
    spark: SparkSession,
    root: str | Path,
    n_rows: int = 10_000,
    files_per_source: int = 16,
    seed: int = 42,
    min_tok: int = 8,
    max_tok: int = 512,
    persist: bool = True,
) -> TokenTable:
    """Create a table at ``root`` populated with one 'append' snapshot.

    Each ``source`` partition is written as ``files_per_source`` small
    files (one write job per partition so every data file is
    single-partition, matching Iceberg identity partitioning; data
    files retain ALL columns — partition values live in the manifest,
    not in hive-style paths).
    """
    from concurrent.futures import ThreadPoolExecutor

    table = TokenTable.create(root)
    df = token_dataframe(spark, n_rows, seed=seed, min_tok=min_tok, max_tok=max_tok)
    # persist=False for very large builds: caching deserialized token
    # arrays costs ~10x their parquet size in heap; regenerating the
    # deterministic hash-stream per source write is cheap JVM work
    if persist:
        df = df.persist()
    data_dir = table.new_data_dir("append-snap0")

    def write_source(source: str) -> list[tuple[str, str]]:
        out = data_dir / source
        (
            df.filter(F.col("source") == source)
            .repartition(files_per_source)
            .write.mode("overwrite")
            .parquet(str(out))
        )
        return [(f, source) for f in list_parquet_files(out)]

    with ThreadPoolExecutor(max_workers=len(SOURCES_SKEWED)) as ex:
        pairs = [p for fut in [ex.submit(write_source, s) for s, _ in SOURCES_SKEWED]
                 for p in fut.result()]
    if persist:
        df.unpersist()
    # The footer pass runs as one Spark job at any file count: it also
    # starts the session's Python workers, which the table's first
    # maintenance op (an in-task pyarrow rewrite) would otherwise start
    # inside its own wall time (~3 s on 4 vCPUs).
    table.commit_delta(
        removed_files=[], new_rows=file_stats_rows(spark, pairs, small_threshold=0),
        operation="append", summary={"rows": n_rows, "files": len(pairs)},
    )
    return table
