"""The one spread rule (``operators.fanout.fan_out``): a small input with
fewer partitions than ``defaultParallelism`` is repartitioned to it; an
input that already has enough partitions, or whose size estimate is over
the cap, comes back as the same object; the cap skips the partition
probe, a missing estimate does not; key columns hash-partition."""

from __future__ import annotations

import pytest
from pyspark.core.rdd import RDD

from tests.conftest import SF_SMALL

from mcas_question2_etl_spark.catalog import load_table
from mcas_question2_etl_spark.operators import fanout

_REAL = object()  # keep Catalyst's own size estimate


@pytest.mark.parametrize(
    "wide, size, keys, probed, spread",
    [
        (False, _REAL, (), True, True),
        (True, _REAL, (), True, False),
        (False, fanout._SPREAD_PROBE_MAX_BYTES + 1, (), False, False),
        (False, None, (), True, True),
        (False, _REAL, ("o_orderkey",), True, True),
    ],
    ids=["small_scan", "enough_partitions", "over_cap", "no_estimate", "key_cols"],
)
def test_fan_out_rule(spark, monkeypatch, wide, size, keys, probed, spread):
    par = spark.sparkContext.defaultParallelism
    orders = load_table(spark, SF_SMALL, "orders")
    assert orders.rdd.getNumPartitions() < par  # a single-split scan
    df = orders.repartition(par) if wide else orders
    if size is not _REAL:
        monkeypatch.setattr(fanout, "_plan_size_bytes", lambda _df: size)
    probes = []
    real_probe = RDD.getNumPartitions
    monkeypatch.setattr(
        RDD, "getNumPartitions", lambda rdd: probes.append(1) or real_probe(rdd)
    )

    out = fanout.fan_out(df, *keys)

    assert len(probes) == int(probed)
    if not spread:
        assert out is df
        return
    assert out.rdd.getNumPartitions() == par
    plan = out._jdf.queryExecution().logical().toString()
    if keys:
        assert plan.startswith("'RepartitionByExpression ['o_orderkey]")
    else:
        assert plan.startswith(f"Repartition {par}, true")


def test_fan_out_spreads_rdd_backed_input(spark):
    """A frame over an RDD (``createDataFrame``, ``localCheckpoint``) has
    no Catalyst estimate: Catalyst reports ``defaultSizeInBytes`` for it,
    which reads as no estimate, so the probe runs and a 1-partition input
    is spread."""
    par = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(20)], 1), "k long"
    )
    assert df.rdd.getNumPartitions() == 1
    assert fanout._plan_size_bytes(df) is None
    assert fanout._plan_size_bytes(df.localCheckpoint()) is None
    assert fanout.fan_out(df).rdd.getNumPartitions() == par
