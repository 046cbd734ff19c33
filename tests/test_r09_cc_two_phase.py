"""r9 optimization: two-phase connected components (partition-local
union-find contraction + rep-graph rounds) behind connected_components.

The rewrite changes HOW labels are computed, not what they are: these
tests pin the output against the iterative hashmin core and a chain
whose edges are deliberately scattered across many partitions so the
contraction CANNOT finish locally (non-empty rep graph — the path that
exercises the cross-partition merge and the composition join).
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcas_question2_etl_spark.operators import clustering
from mcas_question2_etl_spark.operators.clustering import (
    _local_contract,
    connected_components,
    connected_components_hashmin,
)


def test_two_phase_scattered_chain_matches_hashmin(spark):
    # one long chain + a triangle + singletons, scattered over 16
    # partitions so per-partition union-find sees disjoint fragments
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(20, 21), (21, 22), (20, 22)],
        ["a_id", "b_id"],
    ).repartition(16)
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(1, 13)) + [20, 21, 22, 30]], ["doc_id"]
    )
    auto = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes).collect()
    }
    hm = {
        r.doc_id: r.cluster_id
        for r in connected_components_hashmin(
            edges, nodes, max_iter=25
        ).collect()
    }
    assert auto == hm
    assert auto[12] == 1 and auto[22] == 20 and auto[30] == 30


def test_two_phase_empty_edges_all_singletons(spark):
    edges = spark.createDataFrame([], "a_id long, b_id long")
    nodes = spark.createDataFrame([(i,) for i in (3, 5, 8)], ["doc_id"])
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {3: 3, 5: 5, 8: 8}


def test_local_contract_kernel_min_labels(spark):
    # single partition -> the numpy kernel must resolve the whole
    # component: chain 1-2-3-4 written in mixed directions + self-loop
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (7, 7)], ["a_id", "b_id"]
    ).coalesce(1)
    e = edges.select(
        F.col("a_id").cast("long").alias("src"),
        F.col("b_id").cast("long").alias("dst"),
    )
    reps = {r.node: r.rep for r in _local_contract(e).collect()}
    assert reps == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7}


def _union_find_min(edges):
    """node -> MIN node id of its component, over ``edges`` alone."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 29), st.integers(0, 29)), min_size=3, max_size=40
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_two_phase_matches_hashmin_on_random_graphs(spark, monkeypatch, edges):
    """The sorted-endpoint kernel labels each partition's nodes with the
    partition-local component min, and the two-phase result equals the
    hash-min core, on random graphs with a duplicate edge and self-loops
    spread over 3 input partitions. A target of one edge per contraction
    partition keeps those 3 partitions as they are, so the rep graph
    carries the cross-partition merges."""
    graph = edges + [edges[0], (edges[1][0], edges[1][0]), (40, 40)]
    monkeypatch.setattr(clustering, "_CC_CONTRACT_PARTITION_EDGES", 1)
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(graph, 3), "a_id long, b_id long"
    )
    e = df.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    want_local = sorted(
        kv
        for part in e.rdd.glom().collect()
        for kv in _union_find_min([tuple(r) for r in part]).items()
    )
    assert sorted(tuple(r) for r in _local_contract(e).collect()) == want_local

    nodes = spark.createDataFrame(
        [(n,) for n in sorted({n for p in graph for n in p} | {50})], "doc_id long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(df, nodes).collect()}
    hm = {
        r.doc_id: r.cluster_id
        for r in connected_components_hashmin(df, nodes).collect()
    }
    assert got == hm
    assert got[40] == 40 and got[50] == 50
