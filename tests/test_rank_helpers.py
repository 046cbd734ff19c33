"""The shared rank helpers: ``ranking.doubled_midrank``,
``ranking.value_ranks`` and ``evaluation._complete_blocks`` against a
pure-Python mid-rank on tie-heavy data, plus the two-phase scans
(``with_global_row_number``/``with_running_sum``) under a shuffle
partition count that splits the range exchange unevenly."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcas_question2_etl_spark.operators.evaluation import _complete_blocks
from mcas_question2_etl_spark.operators.ranking import (
    doubled_midrank,
    value_ranks,
    with_global_row_number,
    with_running_sum,
)
from tests.conftest import SF_SMALL

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # group
        st.integers(min_value=-3, max_value=3),  # value: few distinct, many ties
        st.booleans(),  # flag
    ),
    min_size=1,
    max_size=40,
)


def _frame(spark, rows):
    data = [(i, g, v, f) for i, (g, v, f) in enumerate(rows)]
    return spark.createDataFrame(data, "id long, g long, v long, f boolean").repartition(4)


@given(rows=_ROWS)
@settings(**_SETTINGS)
def test_doubled_midrank_matches_python(spark, rows):
    df = _frame(spark, rows)
    got = {
        r.id: (r.overall, r.in_group)
        for r in df.select(
            "id",
            doubled_midrank("v").alias("overall"),
            doubled_midrank(F.col("v"), "g").alias("in_group"),
        ).collect()
    }

    def dmr(v, pool):
        return 2 * sum(u < v for u in pool) + sum(u == v for u in pool) + 1

    for i, (g, v, _) in enumerate(rows):
        pool = [u for h, u, _ in rows if h == g]
        assert got[i] == (dmr(v, [u for _, u, _ in rows]), dmr(v, pool))


@given(rows=_ROWS)
@settings(**_SETTINGS)
def test_value_ranks_matches_python(spark, rows):
    df = _frame(spark, rows)
    plain = {r.v: tuple(r) for r in value_ranks(df, "v").collect()}
    flagged = {
        r.v: (r.c, r.f, r.nf, r.c_below, r.f_below, r.nf_below)
        for r in value_ranks(df.withColumn("nf", ~F.col("f")), "v", "f", "nf").collect()
    }
    for v in {v for _, v, _ in rows}:
        at = [f for _, u, f in rows if u == v]
        below = [f for _, u, f in rows if u < v]
        assert plain[v] == (v, len(at), len(below))
        assert flagged[v] == (
            len(at), sum(at), len(at) - sum(at),
            len(below), sum(below), len(below) - sum(below),
        )
    assert len(plain) == len(flagged) == len({v for _, v, _ in rows})


def test_complete_blocks_drops_incomplete_blocks(spark):
    rows = [
        (1, "a", 1), (1, "b", 2), (1, "c", 3),
        (2, "a", 2), (2, "c", 6),  # no "b": dropped
        (3, "a", 1), (3, "b", 3), (3, "c", 5),
        (4, "b", 9),  # one item: dropped
    ]
    df = spark.createDataFrame(rows, "day long, t string, x long").repartition(3)
    kept = _complete_blocks(df, "day", "t").select("day", "t", "x", "k")
    got = sorted(tuple(r) for r in kept.collect())
    assert got == sorted(r + (3,) for r in rows if r[0] in (1, 3))


def test_building_block_design_plans_starts_no_job(spark):
    from mcas_question2_etl_spark.catalog import TABLES, load_table
    from mcas_question2_etl_spark.plans.suite import SPECS

    for t in TABLES:  # schema inference is not part of the plan build
        load_table(spark, SF_SMALL, t)
    specs = {s.name: s for s in SPECS}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in (
        "friedman_event_type_ranks",
        "kendalls_w_event_types",
        "cronbachs_alpha_event_types",
    ):
        group = f"build-{name}"
        sc.setJobGroup(group, group)
        try:
            specs[name].fn(spark, SF_SMALL)
        finally:
            sc.setJobGroup("", "")
        assert tracker.getJobIdsForGroup(group) == [], name


def test_two_phase_scans_survive_uneven_range_exchanges(spark):
    """Both scans read the partition id in two branches; each branch
    must see the same range partitioning, or offsets land on the wrong
    rows. 7 shuffle partitions over 4 input partitions showed it."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        df = spark.range(50000).select(
            ((F.col("id") * 7919) % 50000).alias("k"),
            (F.col("id") % 13).alias("w"),
        ).repartition(4)
        want = df.agg(F.sum((F.col("k") + 1) * F.col("w"))).first()[0]
        rn = with_global_row_number(df, ["k"])
        assert rn.agg(F.sum(F.col("rn") * F.col("w"))).first()[0] == want
        rs = with_running_sum(df.withColumn("one", F.lit(1)), ["k"], "one")
        assert rs.agg(F.sum(F.col("running_sum") * F.col("w"))).first()[0] == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
