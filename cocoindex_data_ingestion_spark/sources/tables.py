"""Parquet table loaders for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under a scale-factor directory.

At 100 TB each of these would be a partitioned parquet/Delta dataset;
``spark.read.parquet`` on a directory behaves identically, and all
operators in this package only touch tables through this loader, so
swapping in partitioned/bucketed layouts is a one-line change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cocoindex_data_ingestion_spark.memo import memo

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


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions we didn't build (the
    driver constructs its own SparkSession): events.parquet is
    TIMESTAMP(NANOS) (unreadable without nanosAsLong) and all oracle
    comparisons assume UTC session time. Both are runtime-settable
    SQL confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one table; Catalyst handles column pruning + filter pushdown.

    ``events.ts`` has drifted across driver generations between three
    physical parquet shapes; normalize every one of them to a session-tz
    TIMESTAMP so downstream ``unix_micros``/window arithmetic always
    resolves:

    - TIMESTAMP(NANOS) → read as ``bigint`` nanos under
      ``nanosAsLong`` → ``timestamp_micros(ts div 1000)`` (integer
      division — double division loses ULPs at 1e18 nanos; the driver
      data is exact micros, verified % 1000 == 0 — same value DuckDB
      sees).
    - TIMESTAMP without timezone → read as ``timestamp_ntz`` →
      ``cast("timestamp")``; value-preserving because
      ``ensure_session_confs`` pins the session timezone to UTC, which
      is also how DuckDB interprets the same column.
    - TIMESTAMP with timezone → already ``timestamp`` — no-op.
    """
    from pyspark.sql import functions as F

    ensure_session_confs(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR

    def build() -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            dtype = dict(df.dtypes).get("ts")
            if dtype == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif dtype == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    # spark.read.parquet pays file listing + schema inference as driver
    # jobs at DEFINITION time (~0.2 s per call on local[32]); the
    # tables are immutable, so one resolved relation per session
    # serves every query
    return memo(spark, ("table", sf_dir, name), build)


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in names}
