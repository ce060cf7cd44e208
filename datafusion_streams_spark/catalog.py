"""Fixture-table loading and SQL catalog registration.

The reference never finished its SQL/catalog layer — ``src/kafka/
context.rs`` is an empty placeholder (see SURVEY.md §3 entry point 3).
In Spark this layer is one line per table: ``createOrReplaceTempView``.
We ship it.

Every fixture read in the engine goes through ``table()``: it alone
knows where a table lives and how ``events`` is adapted. The loaders
below are views over it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one path to a fixture table: ``{sf_dir}/<name>.parquet``.

    Plain ``spark.read.parquet`` so Catalyst sees a native parquet
    relation: predicate pushdown, column pruning and partition-level
    parallelism all apply (a 100 TB table just means more row groups —
    the plan shape is identical). A name outside ``TABLES`` raises
    ``KeyError``.

    ``events`` is adapted to the timestamp drift of its fixture: Spark
    has no nanosecond timestamp type (parquet NANOS is read as long via
    spark.sql.legacy.parquet.nanosAsLong), so ``ts`` is converted with
    an integer ns->us floor division — exactly what DuckDB does when it
    narrows nanos to its microsecond timestamps, so both engines see
    identical values.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its ``ts`` column normalized (see ``table``)."""
    return table(spark, sf_dir, "events")


def load_events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_us``: event time as INTEGER microseconds.

    Derived from ``load_events``'s normalized timestamp (single source
    of truth for the ns->us narrowing) — for operators that need an
    integer ordering key (RANGE window frames, as-of arithmetic) with
    exact cross-engine parity (DuckDB mirror: ``epoch_ns(ts) // 1000``;
    the UTC session makes the NTZ->instant cast exact).
    """
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def spread(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Repartition with an EXPLICIT partition count (defaultParallelism).

    A bare ``repartition(col)`` has no pinned count, so AQE sizes the
    exchange by shuffle bytes — and small-but-compute-heavy relations
    (5k documents of raw text feeding shingle HOFs) coalesce into ONE
    partition, serializing all downstream map work on a single task
    (the round-3 `dedup_ngram_jaccard` 1.8x regression). An explicit
    count is exempt from AQE coalescing. On a real pre-split 100 TB
    table these repartitions are cheap no-op-shaped exchanges; on the
    single-file fixtures they are what buys parallelism.
    """
    n = spark.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across the cluster for compute-heavy map
    pipelines (shingling, tokenization, quality scoring)."""
    return spread(spark, table(spark, sf_dir, "documents"), "doc_id")


class _Tables(dict):
    """Fixture tables by name, each read through ``table()`` the first
    time it is indexed."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        super().__init__()
        self._spark, self._sf_dir = spark, sf_dir

    def __missing__(self, name: str) -> DataFrame:
        df = self[name] = table(self._spark, self._sf_dir, name)
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The fixture tables under ``sf_dir`` as a lazy mapping: a query
    reads only the tables it indexes."""
    return _Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (the SQL entry point
    the reference stubbed out and never built)."""
    dfs = {name: table(spark, sf_dir, name) for name in TABLES}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
