"""The one parquet reader (``sources.io.read_parquet``): a table's schema
is inferred once per session and file, then every later load starts no
Spark job; a rewritten path and a new session infer again; the reader's
frames equal a plain ``spark.read.parquet`` on every catalog table."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

from tests.conftest import SF_SMALL

from mcas_question2_etl_spark.catalog import TABLES, load_table, table_path
from mcas_question2_etl_spark.sources.io import read_parquet

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_second_load_starts_no_job(spark, tmp_path):
    # a private copy, so no earlier test in this session has resolved it
    shutil.copy(table_path(SF_SMALL, "orders"), tmp_path / "orders.parquet")
    first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second, n_second = _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert n_first >= 1  # footer inference
    assert n_second == 0
    assert second.schema == first.schema


def test_schema_given_starts_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df = spark.range(5).selectExpr("id AS a", "id * 2 AS b")
    df.write.parquet(path)
    got, n = _jobs(spark, lambda: read_parquet(spark, path, df.schema))
    assert n == 0
    assert sorted(got.collect()) == sorted(df.collect())


def test_rewritten_path_gets_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.parquet(path)
    assert read_parquet(spark, path).columns == ["a", "b"]
    new = spark.range(4).selectExpr("CAST(id AS STRING) AS s")
    new.write.mode("overwrite").parquet(path)
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns == ["s"]
    assert sorted(got.collect()) == sorted(new.collect())


@pytest.mark.parametrize("name", TABLES)
def test_reader_matches_plain_read(spark, name):
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(SF_SMALL, name)
    plain = spark.read.parquet(path)
    for _ in range(2):  # the inferring read, then the resolved one
        got = read_parquet(spark, path)
        assert got.schema == plain.schema
        assert _rows(got) == _rows(plain)


def test_events_nanos_path(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file is read as raw nanos through the
    reader too, and normalizes to the same rows as the micros file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(table_path(SF_SMALL, "events"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, table_path(str(tmp_path), "events"), version="2.6")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(str(tmp_path), "events")
    plain = spark.read.parquet(path)
    got = read_parquet(spark, path)
    assert got.schema == plain.schema
    assert got.schema["ts"].dataType.typeName() == "long"
    assert _rows(got) == _rows(plain)
    nanos = load_table(spark, str(tmp_path), "events")
    micros = load_table(spark, SF_SMALL, "events")
    assert nanos.schema == micros.schema
    assert _rows(nanos) == _rows(micros)


_NEW_SESSION = """
import json, os, sys, uuid
from mcas_question2_etl_spark.catalog import load_table
from mcas_question2_etl_spark.plans.graph_specs import copurchase_edges
from mcas_question2_etl_spark.session import get_spark

def jobs(spark, fn):
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))

sf = sys.argv[1]
sessions = []
for _ in range(2):
    spark = get_spark(app_name="read-parquet-new-session")
    load = lambda: load_table(spark, sf, "region")
    edges = lambda: copurchase_edges(spark, sf)
    counts = [jobs(spark, load), jobs(spark, load),
              jobs(spark, edges), jobs(spark, edges)]
    spill = os.path.dirname(edges().inputFiles()[0])
    spark.stop()
    sessions.append([counts, spill, os.path.exists(spill)])
print(json.dumps(sessions))
"""


def test_new_session_infers_again():
    """A new session infers table schemas and builds the co-purchase
    spill again; within a session both are reused without a job, and
    ``spark.stop()`` removes the spill."""
    env = dict(
        os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION, SF_SMALL], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600, check=True,
    )
    sessions = json.loads(out.stdout.strip().splitlines()[-1])
    for counts, _, spill_left in sessions:
        load, load_again, build, build_again = counts
        assert load >= 1 and load_again == 0
        assert build >= 1 and build_again == 0
        assert not spill_left
    assert sessions[0][1] != sessions[1][1]
