"""File/table readers and sinks (SURVEY.md §2.1 S5-S7, K1-K5).

Sink semantics map the reference's three load patterns:
  * K1 full-replace (``to_sql(if_exists='replace')``,
    school_outcomes_etl.py:139-149) -> overwrite writes;
  * K2 delete-partition+append (election_results_etl.py:114-131) ->
    dynamic partition overwrite — one declarative write replaces the
    reference's DELETE round-trip and is transactional per-partition;
  * K3/K5 CSV sink / bulk COPY -> header CSV writes (COPY's
    truncate-then-load == overwrite).

JDBC paths (S6, K-jdbc) are thin wrappers over spark.read/write.jdbc.
The reference's primary sink is Postgres (school_outcomes_etl.py:
148-149); here the round-trip is smoke-tested against the embedded
Apache Derby engine that ships in Spark's own jars (the Hive-metastore
dependency), so the wrappers are exercised end-to-end without any
external database. Swapping in Postgres is a URL + driver change.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Hashable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: (applicationId, path) -> ((st_ino, st_mtime_ns, st_size), schema):
#: the inferred schema of one parquet path. Per application because the
#: reader confs that shape the inferred types (``nanosAsLong``,
#: ``binaryAsString``, ...) are session state; stamped with the file's
#: identity so a path rewritten in place (new mtime even when the inode
#: is reused) is inferred again and replaces its stale entry.
_PARQUET_SCHEMAS: dict = {}


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan — the package's only parquet reader.

    Without a schema Spark runs a job that reads the file footers on
    every ``spark.read.parquet`` call; at about 0.1 s each that job is
    the largest fixed cost of a short relational read. With ``schema``
    (a writer that knows what it just wrote) the scan starts no job.
    Without it the schema is inferred once per session and file
    version and reused; paths that are not local files (object stores,
    HDFS) cannot be stat-ed and are inferred on every call.
    """
    if schema is None:
        try:
            st = os.stat(path)
        except OSError:
            return spark.read.parquet(path)
        key = (spark.sparkContext.applicationId, path)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        hit = _PARQUET_SCHEMAS.get(key)
        if hit is None or hit[0] != stamp:
            hit = _PARQUET_SCHEMAS[key] = (stamp, spark.read.parquet(path).schema)
        schema = hit[1]
    return spark.read.schema(schema).parquet(path)


#: (applicationId, key) -> (path, schema) of a keyed spill.
_SPILLS: dict = {}


def spill(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    key: Hashable | None = None,
) -> DataFrame:
    """Write ``build()`` to parquet and scan it back — the package's
    only place for intermediate parquet.

    The file goes under the application's SparkFiles root, a directory
    that ``spark.stop()`` deletes, so no spill outlives its session.
    The scan passes the schema just written, so it starts no job. With
    ``key`` the frame is built and written at most once per application
    and key, and later calls scan the same file; without it every call
    writes a new file (a lineage cut).

    The root is a driver-local directory: fine in local mode, where
    every task shares the driver's filesystem; a multi-node cluster
    needs it on a shared filesystem.
    """
    memo_key = (spark.sparkContext.applicationId, key)
    hit = _SPILLS.get(memo_key) if key is not None else None
    if hit is None:
        df = build()
        path = os.path.join(
            SparkFiles.getRootDirectory(), f"spill-{uuid.uuid4().hex}.parquet"
        )
        df.write.parquet(path)
        hit = (path, df.schema)
        if key is not None:
            _SPILLS[memo_key] = hit
    return read_parquet(spark, *hit)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """S5 — CSV scan. Explicit schema preferred (engine is schema-first,
    SURVEY §1.2); falls back to header+inference for ad-hoc loads."""
    reader = spark.read.option("header", True)
    return reader.schema(schema).csv(path) if schema else reader.option(
        "inferSchema", True
    ).csv(path)


def read_jdbc(
    spark: SparkSession, url: str, query: str, properties: dict[str, str] | None = None
) -> DataFrame:
    """S6 — push a whole query to the RDBMS (dbGetQuery,
    dashboard/app_data.R:2-22). For large tables add partitionColumn/
    lowerBound/upperBound/numPartitions so the read parallelizes."""
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """K-jdbc — RDBMS sink (to_sql(if_exists='replace'),
    school_outcomes_etl.py:139-149; mode='overwrite' is that contract).

    Each write partition opens its own connection and batch-inserts, so
    parallelism equals df's partitioning; ``coalesce`` first if the
    target can't take that many writers. Add ``batchsize`` (default
    1000) to properties for bulk loads.
    """
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def write_jdbc_partition_replace(
    df: DataFrame,
    url: str,
    table: str,
    partition_col: str,
    properties: dict[str, str] | None = None,
) -> None:
    """K2 against an RDBMS sink — the reference's literal
    DELETE-WHERE-partition + append (election_results_etl.py:114-131:
    ``DELETE FROM election_results WHERE county = %s`` then
    ``to_sql(if_exists='append')``).

    The partition keys present in ``df`` are collected (bounded by the
    partition count — the same driver-side metadata a dynamic
    partition overwrite maintains), each is deleted via a prepared
    statement on a driver-side JDBC connection, then the frame appends
    through the normal parallel JDBC writer. Like the reference's
    psycopg2+pandas pair, the delete and the append are separate
    transactions: a crash between them loses the partition until the
    idempotent re-run, which is the reference's own recovery story.
    For file-based sinks prefer :func:`write_partition_overwrite`,
    which gets the same semantics transactionally per-partition.
    """
    keys = [r[0] for r in df.select(partition_col).distinct().collect()]
    spark = df.sparkSession
    jvm = spark._jvm
    jprops = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        jprops.setProperty(k, v)
    # string partition keys: Spark's JDBC writer maps string -> CLOB on
    # engines without a native unbounded VARCHAR (Derby), and CLOB is
    # not =-comparable; the CAST makes the predicate portable (no-op on
    # engines like Postgres where string is already TEXT)
    is_str = isinstance(df.schema[partition_col].dataType, T.StringType)
    lhs = (
        f'CAST("{partition_col}" AS VARCHAR(512))'
        if is_str
        else f'"{partition_col}"'
    )
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        stmt = conn.prepareStatement(f"DELETE FROM {table} WHERE {lhs} = ?")
        try:
            for key in keys:
                stmt.setObject(1, key)
                stmt.executeUpdate()
        finally:
            stmt.close()
    finally:
        conn.close()
    write_jdbc(df, url, table, mode="append", properties=properties)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3/K5 — CSV sink with header."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet_overwrite(df: DataFrame, path: str) -> None:
    """K1 — full-replace sink."""
    df.write.mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed-table sink: pre-shuffles ONCE at write time so
    every later equi-join/aggregation on ``bucket_col`` between
    co-bucketed tables runs shuffle-free (Catalyst sees the hash
    distribution from table metadata and plans a zero-Exchange
    sort-merge join).

    This is the scale answer to repeated fact-to-fact joins: at 100 TB
    a lineitem⋈orders on orderkey shuffles ~all bytes per query unless
    both are bucketed by the key — then the shuffle is paid once at
    ingest. ``sort_col`` additionally pre-sorts within buckets, turning
    the join's per-bucket sort into a merge.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def write_partition_overwrite(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """K2 — idempotent per-partition replace (the reference's
    DELETE WHERE county + append, election_results_etl.py:114-131).

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by
    the session factory), ``overwrite`` only replaces partitions present
    in ``df`` — exactly the delete+append contract, minus the race
    between the DELETE and the INSERT. Partitioned layout also gives
    partition pruning to every downstream reader of the table.
    """
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan — the interchange format most raw LLM corpora
    arrive in (one document object per line). Explicit schema preferred:
    schema inference costs a full extra pass over 100 TB. Splittable
    per-line, so parallelism is maxPartitionBytes-driven like CSV."""
    reader = spark.read
    return reader.schema(schema).json(path) if schema else reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (corpus export / handoff to tokenizer jobs)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar/pushdown properties as parquet
    (predicate pushdown, column pruning, split by stripe); supported so
    corpora produced by Hive/Trino-side pipelines read natively."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_range_partitioned(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Data-skipping sink: range-repartition on ``sort_cols`` then sort
    within partitions before writing parquet.

    Globally range-clustered layout makes every file's min/max column
    statistics TIGHT and DISJOINT, so any later range/equality
    predicate on ``sort_cols`` prunes to a handful of files via
    footer stats alone (the poor man's z-order — exact for 1-D
    predicates, which is most time/tenant/key filters). The
    repartitionByRange samples the distribution, so skewed keys still
    yield balanced files. One shuffle at write time buys every future
    scan's pruning.
    """
    parted = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def compact(
    df: DataFrame, path: str, target_file_mb: int = 512
) -> int:
    """Small-file compaction: rewrite ``df`` as ~``target_file_mb``
    files. The chronic failure mode of streaming/incremental ingest is
    millions of KB-scale files whose open/footer overhead dwarfs the
    read; compaction sizes output by the SAMPLED on-disk bytes of the
    input (not row counts, which mispredict wide rows). Returns the
    file count written. Uses coalesce (no shuffle) since compaction
    only merges — it never needs a redistribution.
    """
    import math

    # input size via the plan's scan statistics (works for any source)
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size_bytes = int(stats.sizeInBytes())
    n = max(1, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    df.coalesce(n).write.mode("overwrite").parquet(path)
    return n


def read_binary_media(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Multimodal ingest (brief: image/audio/video as opaque binary):
    Spark's built-in distributed ``binaryFile`` source mapped onto the
    canonical MEDIA_SCHEMA of operators/multimodal.py — media_id is a
    deterministic hash of the file URI (stable across reruns and
    listings, unlike monotonically_increasing_id), media_type/mime come
    from the extension, and the payload column stays opaque binary.

    Scale notes: the source parallelizes file listing + reads across
    executors and prunes the ``content`` column if downstream never
    touches it (metadata-only queries never lift payloads);
    ``pathGlobFilter`` prunes at listing time and ``max_bytes`` guards
    against a rogue 4 GB object entering an Arrow batch.
    """
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    media_type = (
        F.when(ext.isin("jpg", "jpeg", "png", "gif", "bmp"), "image")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
        .otherwise("binary")
    )
    mime = (
        F.when(ext == "jpg", "image/jpeg")
        .otherwise(F.concat(media_type, F.lit("/"), ext))
    )
    return df.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        media_type.alias("media_type"),
        F.col("content").alias("payload"),
        mime.alias("mime"),
        F.col("path").alias("source_uri"),
    )
