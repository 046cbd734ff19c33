"""Table catalog over the parquet testdata star schema.

The reference's durable data model is four Postgres tables created by
``to_sql``/DDL (README.md:26-62). Our engine's catalog is
schema-on-parquet: each table is one parquet dataset; ``load_table``
returns a lazy DataFrame scan (column pruning + predicate pushdown reach
the parquet reader via Catalyst), and ``register_views`` exposes every
table to ``spark.sql`` so the SQL-expressible surface (the reference's
flagship query, dashboard/sql/get_school_analysis_data.sql) runs
declaratively.

Scale note: parquet scans partition by file/row-group; at 100 TB the same
code path works unchanged because nothing here materializes — callers get
a logical plan, not data. A table's schema is resolved once per session
per file (``sources.io.read_parquet``), so only the first load of a table
in a session pays Spark's footer-reading job; later loads start none.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .sources.io import read_parquet

#: Every table the driver generates (TESTDATA.md).
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

#: Small dimension tables that should be broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one catalog table.

    ``events.ts`` normalizes to session-zone TimestampType whatever the
    parquet physical type is: TIMESTAMP(NANOS) files (which Spark's
    vectorized reader rejects) are read as raw nanos (``nanosAsLong``)
    and truncated ns->us exactly like DuckDB, TIMESTAMP(MICROS
    isAdjustedToUTC=false) files arrive as TIMESTAMP_NTZ and are cast
    (identity under the UTC session zone), so oracles agree either way.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # nanos-as-long file
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return read_parquet(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for spark.sql()."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
