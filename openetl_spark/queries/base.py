"""Query catalog: every operator class from SURVEY.md §2 as a named
(spark_query, duckdb_oracle) pair over the /root/testdata tables.

This is the engine's public demonstration surface AND the correctness
contract: the driver runs each ``QUERIES[name](spark, sf_dir)`` against
``ORACLE[name]`` (DuckDB, same parquet) and hash-matches values with
columns sorted by name — so every computed column is aliased
identically on both sides, floats are rounded where recomputed, and
every LIMIT query carries a unique total ordering (ties broken by key)
so result-set membership is deterministic across engines.

Sections: A-series (reference's real surface: connector slice,
transforms), C1-C19 (relational), C20-C24 (windowed/sessionized event
analytics — batch-checkable forms; true streaming lives in
openetl_spark/streaming), C25 (pandas UDF), C26-C29 (dedup /
similarity / text).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from openetl_spark.operators import curation as C
from openetl_spark.operators import dedup as D
from openetl_spark.operators import joins as J
from openetl_spark.operators import similarity as S
from openetl_spark.operators import text as X
from openetl_spark.operators import timeseries as TS
from openetl_spark.plans.compiler import compile_connector
from openetl_spark.spec import Connector, Filter, FilterGroup, Sort, Transformation


_LOAD_CACHE: dict[tuple, DataFrame] = {}


def load(
    spark: SparkSession, sf_dir: str, table: str, spread: bool = False
) -> DataFrame:
    """Read one testdata table. ``spread=True`` requests fan-out for
    heavy per-row operators (shingling, hashing, vector math): the
    local testdata tables are single-row-group parquet files whose
    scans land on one task. The repartition is CONDITIONAL on the scan
    actually being starved (natural partitions below the session's
    parallelism) — a production table's thousands of file splits
    already provide the fan-out, and the extra full-data shuffle would
    be pure waste at 100 TB (SCALE.md known-compromise #1, closed
    r05).

    Base relations are memoized per (session, sf_dir, table, spread)
    (VERDICT r03 #10): DataFrames are immutable plans, so reuse is
    free, and without it every catalog invocation re-runs parquet file
    listing, schema resolution, and the events timestamp sniff — fixed
    planning cost that dominated the sub-second band of the local
    bench. Testdata is immutable for a session's lifetime."""
    key = (spark.sparkContext.applicationId, sf_dir, table, spread)
    hit = _LOAD_CACHE.get(key)
    if hit is not None:
        return hit
    _LOAD_CACHE[key] = df = _load_uncached(spark, sf_dir, table, spread)
    return df


def _load_uncached(
    spark: SparkSession, sf_dir: str, table: str, spread: bool
) -> DataFrame:
    if spread:
        df = load(spark, sf_dir, table)
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    if table == "events":
        # Generator versions differ on events.ts: some write
        # TIMESTAMP(NANOS) (which Spark's parquet reader rejects — read
        # nanos as long and truncate to Spark's native microseconds),
        # newer ones write TIMESTAMP(MICROS) directly. Sniff the
        # physical type and normalize both to timestamp_ntz so every
        # downstream query sees one schema.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _repo_root() -> str:
    """The checkout root: every persisted artifact (layouts, oracle
    parquets, fingerprint caches) lives under
    ``<checkout>/spark-warehouse``."""
    import os

    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


