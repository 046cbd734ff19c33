"""Deterministic distributed PageRank (fixed iterations, integer
arithmetic) — the second iterative-graph operator beside
`clustering.py`'s connected components.

Classic float PageRank is partition-order-dependent (double sums), so
two runs on the same cluster can rank ties differently. Here rank mass
is a Q30 integer (node starts at 2^30) and every step is exact int
arithmetic: per-edge share = ``rank div out_degree``, damped update =
``(15 * 2^30) div 100 + (85 * insum) div 100`` — floor division on
bigints, bit-identical on any engine and partitioning (the same
discipline as the Q20 k-means in `kmeans.py`). Rounding mass lost to
the floors is O(degree) per node per round — irrelevant to ranking,
essential to reproducibility, and what makes the operator fully
oracle-checkable with an unrolled-CTE SQL twin.

Scale shape per iteration: ranks ⋈ degrees (both keyed by node, one
co-partitioned shuffle or none if bucketed) → join the fixed-width
edge list on src (the big shuffle: O(|E|) rows of (dst, share) ints,
never payloads) → aggregate by dst with map-side combine. Iterations
are a driver-side loop over DataFrame transforms like `kmeans.py`;
at many iterations, localCheckpoint each round (see clustering.py's
lineage note).

Overflow: insum <= N * 2^30; 85 * insum stays under 2^63 for graphs to
~2^26 nodes at Q30 — drop SCALE for larger graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Q30 rank scale: initial mass per node.
PR_SCALE = 1 << 30


def pagerank(edges: DataFrame, iters: int = 2) -> DataFrame:
    """``iters`` damped-PageRank rounds over a directed edge list
    ``(src, dst)`` (bigint node ids, pre-deduplicated). Returns
    ``(node, rank)`` with Q30 integer ranks for every node that
    receives at least one in-edge (symmetrize the edge list first if
    every node must survive; isolated nodes never enter the graph).
    """
    # edges and deg are consumed every iteration (plus deg seeds the
    # ranks): checkpoint both so the upstream edge derivation and the
    # degree shuffle run once, not once per consumer per round. Eager,
    # because both feed broadcast joins (a lazy checkpoint would be
    # materialized inside racing broadcast threads)
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("rank")
    )
    for _ in range(iters):
        shares = (
            ranks.join(deg, ranks.node == deg.src)
            .select(F.col("src"), F.expr("rank div deg").alias("share"))
            .join(edges, "src")
            .select(F.col("dst"), "share")
        )
        ranks = shares.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit((15 * PR_SCALE) // 100)
                + F.expr("(85 * sum(share)) div 100")
            )
            .cast("bigint")
            .alias("rank")
        )
    return ranks


def pagerank_sql_ctes(edges_sql: str, iters: int = 2) -> str:
    """DuckDB twin of :func:`pagerank` as a WITH-clause prefix:
    ``edges_sql`` must yield (src, dst). Final CTE ``pr`` holds
    (node, rank)."""
    parts = [
        f"WITH edges AS ({edges_sql}),",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),",
        f"r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f""",
    r{i} AS (
      SELECT e.dst AS node,
             CAST({(15 * PR_SCALE) // 100} + (85 * SUM(r.rank // d.deg)) // 100
                  AS BIGINT) AS rank
      FROM {prev} r JOIN deg d ON r.node = d.src
                    JOIN edges e ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
        prev = f"r{i}"
    parts.append(f", pr AS (SELECT node, rank FROM {prev})")
    return "\n".join(parts)
