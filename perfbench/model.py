"""Inputs and the independent expectation they imply.

Every row the benchmark hands to the engine, and every row it expects
back, is a function of ``(id, cseed, sseed)``: ``cseed`` fixes the
content (``n_tok`` and ``tokens``), ``sseed`` fixes the ``source``
partition. The formulas restate the synthetic generator's: the base
table is written by the engine's own ``write_token_table`` with seed
``s``, and the model expects exactly ``(id, s, s)`` for every base row,
so the correctness gate also checks the generator.

``TableModel`` is a plain dict ``id -> (cseed, sseed)``. It applies
MERGE semantics itself: the highest ``_seq`` per key wins, deletes drop
the key, updates replace the content but keep the partition, inserts
bring their own partition. Compaction and clustering are the identity.
"""

from __future__ import annotations

import math
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50257
SOURCES = [("web", 70), ("books", 15), ("wiki", 10), ("code", 5)]
MIN_TOK, MAX_TOK = 8, 512
COLS = ["doc_id", "source", "n_tok", "tokens"]


def token_rows(df: DataFrame) -> DataFrame:
    """``doc_id, tokens, n_tok, source`` for a frame of ``id, cseed, sseed``
    (long, int, int); other columns of ``df`` are kept."""
    lo, hi = math.log2(MIN_TOK), math.log2(MAX_TOK)
    id_, cseed, sseed = F.col("id"), F.col("cseed"), F.col("sseed")
    u1 = F.pmod(F.xxhash64(id_, cseed), F.lit(100000)) / 100000.0
    u2 = F.pmod(F.xxhash64(id_, sseed + 1), F.lit(100))
    source = F.when(u2 < SOURCES[0][1], SOURCES[0][0])
    acc = SOURCES[0][1]
    for name, pct in SOURCES[1:-1]:
        acc += pct
        source = source.when(u2 < acc, name)
    source = source.otherwise(SOURCES[-1][0])
    n_tok = F.pow(F.lit(2.0), F.lit(lo) + (F.lit(hi) - F.lit(lo)) * u1).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda j: F.pmod(F.xxhash64(id_, j, cseed + 2), F.lit(VOCAB)).cast("int"),
    )
    return df.select(
        "*",
        F.format_string("doc%012d", id_).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
    )


def doc_id(i: int) -> str:
    return f"doc{i:012d}"


def _frame(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """A Spark frame of ``pdf``, handed over as a parquet file in a fresh
    temp dir: at 10^5+ rows that stays well inside a small driver heap,
    where ``createDataFrame`` of the same rows does not."""
    pdf = pdf.astype({"id": "int64", "cseed": "int32", "sseed": "int32"})
    path = tempfile.mkdtemp(prefix="model-") + "/rows.parquet"
    pdf.to_parquet(path, index=False)
    return spark.read.parquet(path)


def source_df(spark: SparkSession, sources: dict[str, list[tuple]]) -> DataFrame:
    """MERGE source rows of several named sources, each a list of
    ``(id, op, cseed, sseed, seq)``, tagged with their name in ``part``.
    Delete rows carry the key and partition only."""
    pdf = pd.concat(
        [pd.DataFrame(ops, columns=["id", "_op", "cseed", "sseed", "_seq"]).assign(part=name)
         for name, ops in sources.items()],
        ignore_index=True,
    ).astype({"_seq": "int64"})
    upsert = F.col("_op") == "upsert"
    return token_rows(_frame(spark, pdf)).select(
        "doc_id",
        F.when(upsert, F.col("tokens")).alias("tokens"),
        F.when(upsert, F.col("n_tok")).alias("n_tok"),
        "source",
        "_op",
        "_seq",
        "part",
    )


def last_per_key(ops: list[tuple]) -> dict[int, tuple]:
    """``id -> (op, cseed, sseed, seq)`` for the highest ``seq`` per key."""
    out: dict[int, tuple] = {}
    for i, op, cseed, sseed, seq in ops:
        if i not in out or seq > out[i][3]:
            out[i] = (op, cseed, sseed, seq)
    return out


class TableModel:
    def __init__(self, n_rows: int, seed: int):
        self.rows = {i: (seed, seed) for i in range(n_rows)}
        self.next_id = n_rows

    def copy(self) -> "TableModel":
        m = TableModel(0, 0)
        m.rows = dict(self.rows)
        m.next_id = self.next_id
        return m

    def apply(self, ops: list[tuple]) -> None:
        for i, (op, cseed, sseed, _) in last_per_key(ops).items():
            if op == "delete":
                self.rows.pop(i, None)
            elif i in self.rows:
                self.rows[i] = (cseed, self.rows[i][1])
            else:
                self.rows[i] = (cseed, sseed)
                self.next_id = max(self.next_id, i + 1)

    def frame(self, spark: SparkSession) -> DataFrame:
        ids = list(self.rows)
        pdf = pd.DataFrame(
            {
                "id": ids,
                "cseed": [self.rows[i][0] for i in ids],
                "sseed": [self.rows[i][1] for i in ids],
            }
        )
        return token_rows(_frame(spark, pdf))


def content_keys(model: TableModel, sources: list[list[tuple]]) -> set[tuple[int, int]]:
    """Every ``(id, cseed)`` the run can produce: live rows plus all upserts."""
    keys = {(i, c) for i, (c, _) in model.rows.items()}
    for ops in sources:
        keys |= {(i, c) for i, op, c, _, _ in ops if op == "upsert"}
    return keys


def n_tok_lookup(spark: SparkSession, keys: set[tuple[int, int]]) -> dict[tuple[int, int], int]:
    """``n_tok`` of each ``(id, cseed)``, evaluated once so that expected
    read results are plain sums over the model."""
    pdf = pd.DataFrame(sorted(keys), columns=["id", "cseed"]).assign(sseed=0)
    rows = token_rows(_frame(spark, pdf)).select("id", "cseed", "n_tok").toPandas()
    return {(int(i), int(c)): int(n) for i, c, n in rows.itertuples(index=False)}


def expected_read(model: TableModel, n_tok: dict, pred: dict) -> tuple[int, int]:
    """(rows, token count) a pruned read with predicate ``pred`` must return."""
    lo_n, hi_n = pred.get("n_tok", (None, None))
    lo_d, hi_d = pred.get("doc_id", (None, None))
    rows = toks = 0
    for i, (c, _) in model.rows.items():
        n = n_tok[(i, c)]
        if lo_n is not None and not lo_n <= n <= hi_n:
            continue
        if lo_d is not None and not lo_d <= doc_id(i) <= hi_d:
            continue
        rows += 1
        toks += n
    return rows, toks


def mismatches(spark: SparkSession, actual: DataFrame, model: TableModel) -> tuple[int, int]:
    """(rows only in the table, rows only in the model), compared on
    ``doc_id, source, n_tok`` and the full ``tokens`` array.

    These are the sizes of ``actual.exceptAll(expected)`` and
    ``expected.exceptAll(actual)``: the multiset difference both ways.
    They are computed in one shuffle, by netting +1 per table row against
    -1 per model row for every distinct row, which costs half of two
    ``exceptAll`` passes on a large table."""
    net = (actual.select(COLS).withColumn("d", F.lit(1))
           .unionByName(model.frame(spark).select(COLS).withColumn("d", F.lit(-1)))
           .groupBy(COLS).agg(F.sum("d").alias("d")))
    row = net.agg(F.sum(F.greatest("d", F.lit(0))).alias("extra"),
                  F.sum(F.greatest(-F.col("d"), F.lit(0))).alias("missing")).collect()[0]
    return row.extra or 0, row.missing or 0
