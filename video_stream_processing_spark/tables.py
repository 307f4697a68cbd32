"""Table catalog over the driver-generated parquet test data.

Schemas documented in FIXTURES.md §A. At 100 TB these would be
partitioned/bucketed tables in a metastore; here they are single parquet
files per table, read with explicit paths. Reads stay lazy — Catalyst
prunes columns and pushes filters into the parquet scan, so loading "all
tables" costs nothing until a query references one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    from video_stream_processing_spark.session import ensure_session_conf

    ensure_session_conf(spark)  # parquet read confs must be set before the read
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long nanos (session.py); truncate to
        # micros exactly like DuckDB does. Integer DIV keeps it exact.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        # Defensive: if the read happened under a session where
        # inferTimestampNTZ could not be disabled, normalize to the UTC
        # instant type every query (and the oracle comparison) assumes.
        # "timestamp_ltz" is unambiguous — a plain "timestamp" cast
        # resolves through spark.sql.timestampType and would be a no-op
        # under timestampType=TIMESTAMP_NTZ.
        from pyspark.sql import functions as F

        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if tz != "UTC":
            # NTZ wall-clock -> instant is only value-preserving vs the
            # DuckDB oracle when the session zone is UTC; surface the
            # silent skew instead of producing shifted timestamps.
            import warnings

            warnings.warn(
                f"NTZ columns {ntz_cols} cast to instants under session "
                f"timeZone={tz!r} (expected 'UTC'); values will shift "
                "relative to the oracle",
                stacklevel=2,
            )
        df = df.withColumns({c: F.col(c).cast("timestamp_ltz") for c in ntz_cols})
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view for spark.sql() usage."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
