"""SparkSession factory tuned for this engine.

Defaults target the local[N] test harness but the knobs are the ones that
matter on a real cluster too: AQE for runtime re-planning (skew joins,
partition coalescing), shuffle partitions sized to parallelism instead of
the 200 default, Arrow for any pandas interop, dynamic partition overwrite
to reproduce the reference's delete-partition+append load
(election_results_etl.py:114-131) without a delete round-trip.

Python workers start from :mod:`worker_daemon`
(``spark.python.daemon.module``) instead of the stock
``pyspark.daemon``. The stock daemon imports pyspark from SPARK_HOME's
source-only ``pyspark.zip`` and each forked worker imports pandas and
pyarrow again, so every fresh session paid a 1-2 s Python cold start
inside its first Arrow kernel. The engine's daemon imports the installed,
byte-compiled pyspark when it is the same release and preloads the Arrow
stack before forking; the fork loop itself is the stock one. Workers
import the daemon by name, as they import the package's kernels, so the
package must be importable from the driver's working directory or
``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mcas-question2-etl-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism; shuffle partitions
    are set to the same number so a local run has one post-shuffle
    partition per core (cluster deployments should size this to
    data volume / target partition size instead).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by BYTES, but several of
        # this engine's stages are CPU-dense per byte (exact-Jaccard /
        # edit-distance / hamming verify over candidate pairs: ~1 MB of
        # (id, id) rows fanning out to array-intersection work). With
        # the default 1 MB minimum those stages coalesce to ONE task and
        # serialize (measured: a 5.7 s-CPU verify stage of
        # minhash_neardup_full ran as a single task reading 830 KB) — on
        # any cluster, not just locally, because the byte heuristic
        # cannot see per-row cost. A 64 KB floor keeps byte-small
        # CPU-dense stages parallel while leaving real data volumes
        # untouched (any partition over a few MB is unaffected).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "mcas_question2_etl_spark.worker_daemon")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
