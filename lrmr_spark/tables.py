"""Parquet table catalog over the driver-generated testdata.

The reference's only sources are in-memory rows and a local-file walker
(/root/reference/input.go:11-31); here the idiomatic source is columnar
parquet with predicate pushdown and column pruning, which is what a
100 TB deployment would read (partitioned parquet/ORC on object
storage).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .sources import read_parquet

__all__ = ["TABLES", "load", "load_all", "register_views"]

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


def _ensure_session_conf(spark: SparkSession) -> None:
    """Defensive: catalog queries may be invoked with a caller-built
    SparkSession (e.g. the driver's). Both confs are runtime-settable
    and required for correctness — nanosAsLong to read events.parquet
    at all, UTC so timestamps compare bit-identically with the oracle."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # already set via a static conf, or a read-only profile


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Column pruning + filter pushdown come free from
    the parquet scan as long as callers select/filter declaratively.
    The read reuses the table's inferred schema while its files and the
    session conf are unchanged (sources.read_parquet), so a warm load
    runs no Spark job."""
    _ensure_session_conf(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of the physical
    parquet encoding. Generated testdata has shipped two layouts:
    TIMESTAMP(NANOS) (surfaced as a long via nanosAsLong — truncate
    ns → µs exactly like DuckDB's TIMESTAMP cast) and plain
    TIMESTAMP(MICROS) (surfaced as timestamp/timestamp_ntz). Branching
    on the read schema keeps every downstream query identical."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # integer division — float `/` would lose precision above 2^53 ns
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # identity under the pinned UTC session timezone
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries can
    name them exactly like the DuckDB oracle does."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
