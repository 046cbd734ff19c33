"""Graph-analytics specs (motifs, communities, centrality).

Consolidated from the round-1..3 wave modules (round 4, VERDICT r3
#7): spec names, oracles and bodies are unchanged (module-private
helpers colliding across waves carry a _w<N> suffix). Constituent
waves and their original one-line scopes:

#   wave5: Wave-5 extension specs: market-basket triangle counting,
#   wave22: Wave-22 extension specs: hierarchy transitive closure (the
#   wave42: Wave-42 extension specs: association rules, naive-Bayes source
#   wave46: Wave-46 extension specs: string-pattern profiling, distributed id
#   wave61: Wave-61 extension specs: RANGE-frame rolling spend, periodogram
#   wave64: Wave-64 extension specs: exact Shapley channel attribution, Wilson
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import load_table
from ..sources.io import spill
from ..operators import graph_metrics as _graph
from ..operators.sampling import budget_head, hash_bucket, hash_bucket_sql
from pyspark.sql import DataFrame, SparkSession
from ..operators.closure import transitive_closure
from ..operators import assoc, community, entropy, graph_metrics, nbayes
from ..operators import graph_metrics, profiling, timeseries
from ..operators import graph_metrics, timeseries
from ..operators.ranking import with_global_row_number
from itertools import combinations
from math import factorial

from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase edge list, built once per session and sf_dir.

    SEVEN specs (triangle count, LPA, two-hop reach, clustering
    coefficient, rich club, assortativity, k-core) use the identical
    (lineitem -> distinct members -> clique-capped pair join ->
    distinct) edge list; rebuilding it is both redundant work and the
    suite's main source of allocation/GC noise (round 4: the family's
    bench numbers swung 3-13x with heap state). Spilled to parquet like
    data_pipeline._neardup_components: deterministic content (a set of
    (a, b) int pairs), robust to cache eviction, and exactly what a
    production pipeline does with a reused intermediate.
    """
    return spill(
        spark,
        lambda: _graph.cooccurrence_edges(
            load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
            max_group=8,
        ),
        key=("copurchase_edges", sf_dir),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave5
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "triangle_count_copurchase",
    _graph.cooccurrence_triangles_sql("lineitem", "l_orderkey", "l_partkey"),
    "extension — market-basket graph motif counting "
    "(operators/graph_metrics.py): parts-bought-together edges with a "
    "clique-blowup cap, then forward-algorithm triangles (each counted "
    "once at its lowest vertex, fan-out Σ outdeg² not Σ deg²); all "
    "equi-joins on node ids, AQE handles hub skew",
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph.triangle_count(copurchase_edges(spark, sf_dir))


_TOKENS = "size(split(text, ' '))"
_TOKENS_SQL = "len(string_split(text, ' '))"


@_spec(
    "token_budget_curation",
    f"""
    WITH scored AS (
      SELECT source, doc_id, n_chars,
             CAST({_TOKENS_SQL} AS BIGINT) AS n_tokens
      FROM documents
    ), walked AS (
      SELECT source, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
      FROM scored
    )
    SELECT source,
           CAST(COUNT(CASE WHEN cum_weight <= 2000 THEN 1 END) AS BIGINT)
             AS docs_kept,
           CAST(COALESCE(SUM(CASE WHEN cum_weight <= 2000
                                  THEN n_tokens END), 0) AS BIGINT)
             AS tokens_kept,
           CAST(COUNT(*) AS BIGINT) AS docs_total
    FROM walked GROUP BY source
    """,
    "training-data op — token-budget curation "
    "(operators/sampling.budget_head): per source, keep the best "
    "documents (longest first, id tiebreak) until a 2000-token budget "
    "is spent. One window per source partition, running SUM, no "
    "iteration — each source streams independently at any scale",
)
def token_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(_TOKENS).cast("long").alias("n_tokens"),
    )
    walked = budget_head(
        docs,
        "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        "n_tokens",
        budget=2000,
    )
    return walked.groupBy("source").agg(
        F.count(F.when(F.col("keep"), 1)).alias("docs_kept"),
        F.coalesce(F.sum(F.when(F.col("keep"), F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_kept"),
        F.count(F.lit(1)).alias("docs_total"),
    )


@_spec(
    "cv_fold_assignment",
    f"""
    WITH folds AS (
      SELECT lang, {hash_bucket_sql("doc_id", 5)} AS fold FROM documents
    )
    SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM folds GROUP BY fold, lang
    """,
    "extension — deterministic k-fold cross-validation assignment "
    "(reuses sampling.hash_bucket: md5 of the key, engine-portable, "
    "partitioning-independent — the same no-RNG discipline as "
    "train_test_split). Output: per-fold label distribution proving "
    "the folds are balanced",
)
def cv_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", hash_bucket("doc_id", 5).alias("fold"))
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_pairs():
    return [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]


@_spec(
    "correlation_matrix",
    "SELECT * FROM ("
    + "\nUNION ALL ".join(
        f"SELECT '{a}' AS x, '{b}' AS y, ROUND(corr({a}, {b}), 4) AS r "
        f"FROM lineitem"
        for a, b in _corr_pairs()
    )
    + ")",
    "extension — one-pass Pearson correlation matrix over the fact "
    "table's numeric columns (profiling-layer sibling of "
    "profile_columns): all pairs in a SINGLE Aggregate (partial "
    "moments map-side; one scan however many pairs), then unpivoted "
    "to tidy (x, y, r) rows",
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = _corr_pairs()
    agg = li.agg(
        *[F.round(F.corr(a, b), 4).alias(f"r_{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack = ", ".join(
        f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)
    )
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack}) AS (x, y, r)")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave22
# ──────────────────────────────────────────────────────────────────────────
#: synthetic category forest over parts: parent(p) = p // 7 for p > 0
#: (root 0), depth ~ log7(n) — a realistic shallow-wide hierarchy
_EDGE_SQL = "SELECT p_partkey AS child, p_partkey // 7 AS parent FROM part WHERE p_partkey > 0"


@_spec(
    "hierarchy_closure_rollup",
    f"""
    WITH RECURSIVE e AS ({_EDGE_SQL}),
    reach(ancestor, descendant, depth) AS (
      SELECT parent, child, 1 FROM e
      UNION
      SELECT e.parent, r.descendant, r.depth + 1
      FROM reach r JOIN e ON e.child = r.ancestor
    ),
    closure AS (
      SELECT ancestor, descendant, MIN(depth) AS depth
      FROM reach GROUP BY 1, 2
    )
    SELECT CAST(depth AS INTEGER) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ancestor) AS BIGINT) AS sum_anc,
           CAST(SUM(descendant) AS BIGINT) AS sum_desc
    FROM closure GROUP BY 1
    """,
    "extension — transitive closure (operators/closure.py): the "
    "recursive-CTE workload Spark lacks natively, as iterative "
    "frontier expansion (depth joins over (node,node,depth) triples, "
    "localCheckpoint per round, explicit non-drained guard). The "
    "closure table answers roll-up-to-any-ancestor-level with one "
    "join — org charts, BOM explosion, category trees. Oracle is "
    "DuckDB's native WITH RECURSIVE over the same synthetic forest; "
    "agreement proves the iteration = the fixpoint semantics",
)
def hierarchy_closure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    edges = part.filter(F.col("p_partkey") > 0).select(
        F.col("p_partkey").alias("child"),
        (F.col("p_partkey") / 7).cast("long").alias("parent"),
    )
    closure = transitive_closure(edges)
    return closure.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ancestor").alias("sum_anc"),
        F.sum("descendant").alias("sum_desc"),
    )


@_spec(
    "grouping_sets_report",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS grp_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    "extension — GROUPING SETS multi-grain reporting: detail, "
    "subtotal, and grand-total grains in ONE aggregation pass "
    "(Spark expands the sets into a single Expand+Aggregate — one "
    "scan, one shuffle — where naive SQL would union three "
    "aggregations = three scans). GROUPING() disambiguates real "
    "NULLs from subtotal rows; DECIMAL sum keeps the measure exact "
    "across engines. Complements the rollup_totals / cube_grouping "
    "specs with the explicit-sets form",
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                 AS grp_id,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ──────────────────────────────────────────────────────────────────────────
# wave42
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "copurchase_association_rules",
    assoc.association_rules_sql("lineitem", "l_orderkey", "l_partkey"),
    "basket op — Agrawal-Srikant pair rules (support/confidence/lift) "
    "over order baskets: basket-level exact-bigint supports, "
    "max_group clique guard on the self-join, single final divisions "
    "so no float accumulation anywhere.",
)
def copurchase_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return assoc.association_rules(li, "l_orderkey", "l_partkey")


@_spec(
    "nbayes_source_confusion",
    nbayes.nbayes_confusion_sql(),
    "text-ml op — add-one multinomial naive Bayes trained on "
    "(source, token) counts, resubstitution confusion matrix of the "
    "argmax: per-(doc,label) scores are EXACT decimal sums of "
    "once-cast DECIMAL(20,12) log-probs (argmax never rides float "
    "accumulation order), unseen-token mass factored into a per-label "
    "constant so the broadcast join stays vocabulary-sized.",
)
def nbayes_source_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return nbayes.nbayes_confusion(docs)


_HITS_EDGES_CTE = """
    e AS MATERIALIZED (
      SELECT o.o_custkey AS hub, l.l_suppkey AS auth,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    )"""


@_spec(
    "hits_supplier_authority",
    graph_metrics.hits_authorities_sql(_HITS_EDGES_CTE, rounds=2),
    "graph op — HITS authority scores on the weighted customer -> "
    "supplier purchase graph, 2 unrolled un-normalized rounds: every "
    "score stays an exact integer-valued DECIMAL(38,0) (matmul-by-"
    "join, order-free), one normalization by max at the end in "
    "double on bit-identical inputs.",
)
def hits_supplier_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("hub"), F.col("l_suppkey").alias("auth")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return graph_metrics.hits_authorities(edges, rounds=2)


_LPA_EDGES_CTE = """
    members AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
    ), bounded AS MATERIALIZED (
      SELECT g, item FROM members
      WHERE g IN (SELECT g FROM members GROUP BY g
                  HAVING COUNT(*) <= 8)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT a.item AS a, b.item AS b
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.item < b.item
    )"""


@_spec(
    "lpa_copurchase_communities",
    community.label_propagation_sql(_LPA_EDGES_CTE, rounds=2),
    "graph op — deterministic synchronous label propagation (modal "
    "neighbor label, ties count-desc-then-label-asc) on the "
    "co-purchase graph, 2 unrolled rounds: per round one symmetric-"
    "edge join + (node,label) count + per-node top-1 window over "
    "distinct neighbor labels; community-size rollup output.",
)
def lpa_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return community.label_propagation(copurchase_edges(spark, sf_dir), rounds=2)


@_spec(
    "token_diversity_by_source",
    entropy.token_diversity_by_source_sql(),
    "corpus-profiling op — per-source Hill-number diversity: raw "
    "vocab (q=0) and inverse-Simpson effective vocab (q=2) as a "
    "ratio of exact bigint moments (no ln, no rounding), template-"
    "dominance tripwire; one vocab-sized count aggregation.",
)
def token_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return entropy.token_diversity_by_source(docs)


# ──────────────────────────────────────────────────────────────────────────
# wave46
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "string_pattern_customers",
    profiling.string_pattern_profile_sql("customer", "c_name"),
    "profiling op — format-mask profile of customer names (A/a/9 "
    "masking): surfaces mixed formats in one pattern-grain "
    "aggregation; pure string expressions, exact counts, MIN example "
    "as the deterministic representative.",
)
def string_pattern_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return profiling.string_pattern_profile(cust, "c_name")


@_spec(
    "event_id_gap_audit",
    profiling.id_gap_audit_sql("events", "event_id"),
    "ingest-integrity op — id-contiguity audit WITHOUT a global sort: "
    "range shuffle + per-partition consecutive deltas in parallel + "
    "boundary deltas from the #partitions-row (min,max) table (two-"
    "phase, same shape as the distributed ranks); all-integer exact "
    "(n_missing, n_gaps, max_gap).",
)
def event_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return profiling.id_gap_audit(events, "event_id")


@_spec(
    "calendar_dimension",
    timeseries.calendar_dimension_sql(),
    "dimension op — generated conformed calendar spanning the data's "
    "own [min, max] day (sequence-exploded from one aggregate row, no "
    "driver loop), with the cross-engine dow trap handled by "
    "computing ISO Monday=1 explicitly on both sides; all-integer.",
)
def calendar_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.calendar_dimension(events)


_EDGES_CTE = """
    members AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
    ), bounded AS MATERIALIZED (
      SELECT g, item FROM members
      WHERE g IN (SELECT g FROM members GROUP BY g
                  HAVING COUNT(*) <= 8)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT a.item AS a, b.item AS b
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.item < b.item
    )"""


@_spec(
    "two_hop_copurchase_reach",
    graph_metrics.two_hop_reach_sql(_EDGES_CTE, seed_pct=5),
    "graph op — 1-hop and 2-hop reach on the co-purchase graph for a "
    "deterministic 5% md5 seed sample, expanded against the FULL "
    "graph (exact per-seed values): the dense-graph sum(deg^2) "
    "blowup (236M pair rows at sf0.1, median degree 106) drops to "
    "the seed fraction while the expansion estimate stays unbiased; "
    "all equi-joins on node ids, exact integers.",
)
def two_hop_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.two_hop_reach(copurchase_edges(spark, sf_dir), seed_pct=5)


# ──────────────────────────────────────────────────────────────────────────
# wave61
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "range_frame_rolling_spend",
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(date_diff('day', DATE '1990-01-01',
                            CAST(o_orderdate AS DATE)) AS INTEGER) AS day_idx,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    rolled AS (
      SELECT o_custkey, o_orderkey, day_idx,
             CAST(SUM(price) OVER w AS DOUBLE) AS spend_90d,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_90d
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx
                   RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey, day_idx,
           ROUND(spend_90d, 2) AS spend_90d, n_orders_90d
    FROM rolled
    ORDER BY spend_90d DESC, o_orderkey
    LIMIT 100
    """,
    "window-frame surface — RANGE BETWEEN 89 PRECEDING (a true "
    "value-range frame over the day index, not a row frame): trailing "
    "90-day spend per customer in exact DECIMAL, then global top-100 "
    "via TakeOrdered (no single-task sort); the only shuffle is the "
    "customer-key exchange the window needs.",
)
def range_frame_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        ).alias("day_idx"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_idx")
        .rangeBetween(-89, Window.currentRow)
    )
    rolled = o.select(
        "o_custkey",
        "o_orderkey",
        "day_idx",
        F.sum("price").over(w).cast("double").alias("spend_90d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_orders_90d"),
    )
    return (
        rolled.select(
            "o_custkey",
            "o_orderkey",
            "day_idx",
            F.round("spend_90d", 2).alias("spend_90d"),
            "n_orders_90d",
        )
        .orderBy(F.col("spend_90d").desc(), "o_orderkey")
        .limit(100)
    )


@_spec(
    "periodogram_event_periods",
    timeseries.periodogram_power_sql("events", "ts", [7, 14, 30]),
    "time-series op — Schuster periodogram lines at P in {7,14,30} "
    "days over the daily event-count series (seasonality detector): "
    "one day groupBy reduces events to the series, trig aggregate "
    "over days x periods; power is phase-invariant so the absolute "
    "epoch-day index needs no min-date scalar pass.",
)
def periodogram_event_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.periodogram_power(events, "ts", [7, 14, 30])


@_spec(
    "bollinger_breakout_days",
    timeseries.bollinger_breakouts_sql("events", "ts", "value"),
    "time-series op — Bollinger-band anomaly screen over the daily "
    "total event value: trailing 7-row mean +- 2 sample sigma, "
    "full-window rows only, breakout days with side labels; the "
    "window runs over the bounded daily series, never raw events.",
)
def bollinger_breakout_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.bollinger_breakouts(events, "ts", "value")


@_spec(
    "mrr_lang_retrieval",
    """
    WITH ranked AS (
      SELECT lang,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    )
    SELECT lang,
           CAST(MIN(rnk) AS BIGINT) AS first_rel_rank,
           ROUND(1.0 / MIN(rnk), 6) AS reciprocal_rank
    FROM ranked
    GROUP BY lang
    """,
    "ranking-eval op — mean reciprocal rank inputs per language "
    "'query' against the shared (n_chars DESC, doc_id) relevance "
    "ranking: the global row number uses the two-phase "
    "range-partitioned rank (operators/ranking.py), never a "
    "single-task global window; MRR itself is AVG(reciprocal_rank) "
    "over this table.",
)
def mrr_lang_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranked = with_global_row_number(
        docs.select("lang", "n_chars", "doc_id"),
        [F.col("n_chars").desc(), F.col("doc_id")],
        out_col="rnk",
    )
    return ranked.groupBy("lang").agg(
        F.min("rnk").cast("bigint").alias("first_rel_rank"),
        F.round(1.0 / F.min("rnk"), 6).alias("reciprocal_rank"),
    )


_EDGES_CTE_w61 = """
    members AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
    ), bounded AS MATERIALIZED (
      SELECT g, item FROM members
      WHERE g IN (SELECT g FROM members GROUP BY g
                  HAVING COUNT(*) <= 8)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT a.item AS a, b.item AS b
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.item < b.item
    )"""


@_spec(
    "clustering_coefficient_copurchase",
    graph_metrics.clustering_coefficient_sql(_EDGES_CTE_w61),
    "graph op — Watts-Strogatz average local clustering coefficient "
    "+ Newman transitivity of the co-purchase graph: per-node "
    "triangle credits ride the same forward-adjacency intersection "
    "as triangle_count (fan-out |E| + 3*#triangles rows, never the "
    "wedge blowup), degrees from the symmetric edge list; one "
    "summary row.",
)
def clustering_coefficient_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.clustering_coefficient(copurchase_edges(spark, sf_dir))


# ──────────────────────────────────────────────────────────────────────────
# wave64
# ──────────────────────────────────────────────────────────────────────────
# --------------------------------------------------------------------------
# Shapley attribution: players are the three touch channels, the
# characteristic function is the conversion rate of the EXACT-set
# exposure cohort (v(empty) = baseline conversion of untouched users).
# With 3 players the coalition lattice is 8 cohorts and the Shapley sum
# has 4 terms per player — exact, no permutation sampling. The marginal
# table below is generated once and embedded as literals in BOTH
# engines, so the only data-dependent inputs are the 8 cohort rates.
# --------------------------------------------------------------------------

_CHANNELS = ("click", "view", "signup")  # bit 1, 2, 4


def _shapley_marginals() -> list[tuple[str, int, int, float]]:
    """(channel, mask_without, mask_with, weight) — weight =
    |S|! (n-|S|-1)! / n! for each S not containing the player."""
    rows = []
    n = len(_CHANNELS)
    for i, ch in enumerate(_CHANNELS):
        others = [b for b in range(n) if b != i]
        for r in range(n):
            for subset in combinations(others, r):
                m0 = sum(1 << b for b in subset)
                w = factorial(r) * factorial(n - r - 1) / factorial(n)
                rows.append((ch, m0, m0 | (1 << i), w))
    return rows


_MARGINALS = _shapley_marginals()

_COHORT_SQL = """
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS rate
      FROM (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    + 2 * MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS INTEGER) AS mask,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS conv
        FROM events GROUP BY user_id
      ) GROUP BY mask
"""

_MARGINAL_VALUES = ",\n      ".join(
    f"('{ch}', {m0}, {m1}, CAST({w!r} AS DOUBLE))" for ch, m0, m1, w in _MARGINALS
)


@_spec(
    "shapley_channel_attribution",
    f"""
    WITH cohorts AS ({_COHORT_SQL}),
    marg AS (
      SELECT * FROM (VALUES
      {_MARGINAL_VALUES}
      ) AS t(channel, m0, m1, w)
    )
    SELECT marg.channel,
           ROUND(SUM(marg.w * (COALESCE(c1.rate, 0.0)
                               - COALESCE(c0.rate, 0.0))), 6) AS shapley
    FROM marg
    LEFT JOIN cohorts c0 ON c0.mask = marg.m0
    LEFT JOIN cohorts c1 ON c1.mask = marg.m1
    GROUP BY marg.channel
    """,
    "attribution op — exact Shapley value allocation over the "
    "{{click, view, signup}} exposure lattice (v = exact-set cohort "
    "conversion rate, empty cohorts contribute 0): one user groupBy "
    "builds the 8-row cohort table, the 12-row literal marginal "
    "table broadcast-joins it twice; no permutation sampling.",
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohorts = (
        ev.groupBy("user_id")
        .agg(
            (
                F.max((F.col("event_type") == "click").cast("int"))
                + 2 * F.max((F.col("event_type") == "view").cast("int"))
                + 4 * F.max((F.col("event_type") == "signup").cast("int"))
            )
            .cast("int")
            .alias("mask"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
        )
        .groupBy("mask")
        .agg(
            (F.sum("conv").cast("double") / F.count(F.lit(1))).alias("rate")
        )
    )
    marg = spark.createDataFrame(
        _MARGINALS, "channel string, m0 int, m1 int, w double"
    )
    c0 = cohorts.select(F.col("mask").alias("m0"), F.col("rate").alias("r0"))
    c1 = cohorts.select(F.col("mask").alias("m1"), F.col("rate").alias("r1"))
    return (
        marg.join(F.broadcast(c0), "m0", "left")
        .join(F.broadcast(c1), "m1", "left")
        .groupBy("channel")
        .agg(
            F.round(
                F.sum(
                    F.col("w")
                    * (
                        F.coalesce(F.col("r1"), F.lit(0.0))
                        - F.coalesce(F.col("r0"), F.lit(0.0))
                    )
                ),
                6,
            ).alias("shapley")
        )
    )


#: z for the 95% Wilson interval — shared literal so both engines
#: square and divide the same double.
_WILSON_Z = 1.959963984540054


@_spec(
    "wilson_ci_by_source",
    f"""
    WITH agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS p
      FROM documents GROUP BY source
    )
    SELECT source, n, ROUND(p, 6) AS p,
           ROUND((p + z2 / (2 * n)) / (1 + z2 / n)
                 - CAST({_WILSON_Z!r} AS DOUBLE)
                   * sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / (1 + z2 / n),
                 6) AS ci_lo,
           ROUND((p + z2 / (2 * n)) / (1 + z2 / n)
                 + CAST({_WILSON_Z!r} AS DOUBLE)
                   * sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / (1 + z2 / n),
                 6) AS ci_hi
    FROM (SELECT *, CAST({_WILSON_Z!r} AS DOUBLE)
                    * CAST({_WILSON_Z!r} AS DOUBLE) AS z2 FROM agg)
    """,
    "stats op — Wilson score 95% intervals for the per-source "
    "English rate (the proportion CI that behaves at small n and "
    "p near 0/1, unlike the Wald interval): one groupBy, closed "
    "form, exact integer inputs.",
)
def wilson_ci_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum((F.col("lang") == "en").cast("int")).cast("double")
            / F.count(F.lit(1))
        ).alias("p"),
    )
    z = F.lit(_WILSON_Z)
    z2 = z * z
    n = F.col("n")
    p = F.col("p")
    center = (p + z2 / (2 * n)) / (1 + z2 / n)
    half = z * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / (1 + z2 / n)
    return agg.select(
        "source",
        "n",
        F.round(p, 6).alias("p"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


@_spec(
    "stratified_ate_signup",
    """
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS treated,
             SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS y,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT CAST(least(n_events // 8, 12) AS BIGINT) AS stratum,
             treated, y
      FROM users
    ),
    cells AS (
      SELECT stratum, treated, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS sy
      FROM strat GROUP BY stratum, treated
    ),
    paired AS (
      SELECT t.stratum, t.n + c.n AS n_b,
             t.sy / t.n - c.sy / c.n AS diff
      FROM cells t JOIN cells c
        ON c.stratum = t.stratum AND t.treated = 1 AND c.treated = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(n_b) AS BIGINT) AS n_users,
           ROUND(SUM(n_b * diff) / SUM(n_b), 4) AS ate
    FROM paired
    """,
    "causal op — stratified average treatment effect of 'has signup' "
    "on total purchase value, strata = integer activity buckets "
    "(n_events div 8 capped at 12 — exact integer keys, no float "
    "quantile boundaries): per-stratum treated-minus-control means "
    "weighted by stratum mass; strata missing either arm drop out "
    "(the standard overlap requirement). Two groupBys, no window.",
)
def stratified_ate_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "signup").cast("int")).alias("treated"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("y"),
        F.count(F.lit(1)).alias("n_events"),
    )
    strat = users.select(
        F.least((F.col("n_events") / 8).cast("long"), F.lit(12).cast("long")).alias(
            "stratum"
        ),
        "treated",
        "y",
    )
    cells = strat.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").alias("sy")
    )
    t = cells.filter(F.col("treated") == 1).select(
        "stratum", F.col("n").alias("nt"), F.col("sy").alias("syt")
    )
    c = cells.filter(F.col("treated") == 0).select(
        "stratum", F.col("n").alias("nc"), F.col("sy").alias("syc")
    )
    paired = t.join(c, "stratum").select(
        (F.col("nt") + F.col("nc")).alias("n_b"),
        (F.col("syt") / F.col("nt") - F.col("syc") / F.col("nc")).alias("diff"),
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n_b").cast("long").alias("n_users"),
        F.round(F.sum(F.col("n_b") * F.col("diff")) / F.sum("n_b"), 4).alias(
            "ate"
        ),
    )


_RICH_KS = (2, 4, 8)

_RC_EDGES_CTE = """
    members AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
    ), bounded AS MATERIALIZED (
      SELECT g, item FROM members
      WHERE g IN (SELECT g FROM members GROUP BY g
                  HAVING COUNT(*) <= 8)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT a.item AS a, b.item AS b
      FROM bounded a JOIN bounded b ON a.g = b.g AND a.item < b.item
    )"""


@_spec(
    "rich_club_copurchase",
    f"""
    WITH {_RC_EDGES_CTE.strip().lstrip(',')},
    deg AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0
      ) GROUP BY n
    ),
    ks AS (SELECT CAST(unnest([{", ".join(map(str, _RICH_KS))}]) AS BIGINT) AS k),
    club_nodes AS (
      SELECT ks.k, deg.n FROM ks JOIN deg ON deg.d > ks.k
    ),
    club_edges AS (
      SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
      FROM ks JOIN e0 ON TRUE
      JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
      WHERE da.d > ks.k AND db.d > ks.k
      GROUP BY ks.k
    )
    SELECT cn.k,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MAX(COALESCE(ce.e_k, 0)) AS n_edges,
           ROUND(2.0 * MAX(COALESCE(ce.e_k, 0))
                 / (COUNT(*) * (COUNT(*) - 1)), 6) AS phi
    FROM club_nodes cn LEFT JOIN club_edges ce ON ce.k = cn.k
    GROUP BY cn.k
    HAVING COUNT(*) >= 2
    """,
    "graph op — rich-club coefficient phi(k) of the co-purchase "
    "graph (Zhou & Mondragon 2004): density among nodes of degree "
    "> k for k in {{2,4,8}}; degrees from one aggregation, club "
    "edges from two node-id equi-joins per k, exact integer counts.",
)
def rich_club_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    ).localCheckpoint(eager=False)
    parts = []
    for k in _RICH_KS:
        nodes_k = deg.filter(F.col("d") > k).agg(
            F.lit(int(k)).cast("bigint").alias("k"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
        edges_k = (
            e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
            .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
            .filter((F.col("da") > k) & (F.col("db") > k))
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        )
        parts.append(nodes_k.crossJoin(edges_k))
    from functools import reduce

    out = reduce(DataFrame.unionByName, parts).filter(F.col("n_nodes") >= 2)
    return out.select(
        "k",
        "n_nodes",
        "n_edges",
        F.round(
            2.0 * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
            6,
        ).alias("phi"),
    )


@_spec(
    "postings_gamma_bits",
    """
    WITH posts AS (
      SELECT term, doc_id,
             doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id)
               AS gap
      FROM (
        SELECT DISTINCT u.term, doc_id
        FROM documents, LATERAL unnest(string_split(lower(text), ' '))
             AS u(term)
        WHERE u.term <> ''
      )
    ),
    bits AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(2 * (length(bin(COALESCE(gap, doc_id + 1))) - 1) + 1)
                  AS BIGINT) AS gamma_bits
      FROM posts GROUP BY term
    )
    SELECT CAST(length(bin(df)) AS BIGINT) AS df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(gamma_bits) AS BIGINT) AS gamma_bits,
           ROUND(CAST(SUM(gamma_bits) AS DOUBLE) / SUM(df), 4)
             AS bits_per_posting
    FROM bits GROUP BY length(bin(df))
    """,
    "index op — Elias-gamma compressed size of the inverted index's "
    "d-gap posting lists (Witten/Moffat/Bell 'Managing Gigabytes'), "
    "the sizing companion to inverted_index_postings: gamma(g) = "
    "2*floor(log2 g)+1 bits computed EXACTLY as binary-string length "
    "(no float log2 at power-of-two boundaries); first posting "
    "encodes doc_id+1. Per df-magnitude bucket: postings and bits.",
)
def postings_gamma_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    posts = toks.select(
        "term",
        "doc_id",
        (F.col("doc_id") - F.lag("doc_id").over(w)).alias("gap"),
    )
    g = F.coalesce(F.col("gap"), F.col("doc_id") + 1)
    gbits = 2 * (F.length(F.conv(g.cast("string"), 10, 2)) - 1) + 1
    bits = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(gbits.cast("long")).cast("long").alias("gamma_bits"),
    )
    bucket = F.length(F.conv(F.col("df").cast("string"), 10, 2)).cast("long")
    return bits.groupBy(bucket.alias("df_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum("gamma_bits").cast("long").alias("gamma_bits"),
        F.round(
            F.sum("gamma_bits").cast("double") / F.sum("df"), 4
        ).alias("bits_per_posting"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave66
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "bfs_layers_copurchase",
    graph_metrics.bfs_layers_sql(_EDGES_CTE, seed_mod=50, depth=3),
    "graph op — multi-source BFS on the co-purchase graph: exact "
    "minimum hop distance from the deterministic seed set (part ids "
    "divisible by 50) out to 3 hops, one row per layer with a "
    "node-id checksum. Each round is one frontier equi-join plus a "
    "left-anti dedup (Pregel superstep shape, O(frontier edges) per "
    "round, never all-pairs); rides the shared copurchase_edges "
    "parquet. Oracle unrolls the rounds as chained CTEs.",
)
def bfs_layers_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.bfs_layers(
        copurchase_edges(spark, sf_dir), seed_mod=50, depth=3
    )


@_spec(
    "adamic_adar_links",
    graph_metrics.adamic_adar_links_sql(_EDGES_CTE, top_n=20, max_degree=32),
    "graph op — hub-capped Adamic-Adar link prediction on the "
    "co-purchase graph: top-20 non-adjacent pairs by sum 1/ln(deg) "
    "over common neighbors of degree <= 32. Hubs are both discounted "
    "AND capped out of the wedge stage — they dominate the wedge "
    "COUNT (sum deg^2) while contributing the least evidence; "
    "uncapped, this graph materialized 236M wedge rows at sf0.1 "
    "(92 s). Map-side-combined (u,v) aggregate, left-anti against "
    "existing edges, deterministic (rounded score, u, v) top-n; "
    "rides the shared copurchase_edges parquet.",
)
def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.adamic_adar_links(
        copurchase_edges(spark, sf_dir), top_n=20, max_degree=32
    )


@_spec(
    "harmonic_centrality_seeds",
    graph_metrics.harmonic_centrality_seeds_sql(_EDGES_CTE, seed_mod=997),
    "graph op — truncated harmonic centrality (depth 3) for the "
    "deterministic seed set on the co-purchase graph: the "
    "disconnect-robust centrality, truncated as big-graph practice "
    "requires. Keeps (seed, node) through the BFS expansion — "
    "per-round cost scales with seed count (modulus-bounded), "
    "per-(seed,node) left-anti dedup; 1/d sums are bit-identical "
    "doubles from exact layer counts. Rides the shared "
    "copurchase_edges parquet.",
)
def harmonic_centrality_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.harmonic_centrality_seeds(
        copurchase_edges(spark, sf_dir), seed_mod=997
    )


# ──────────────────────────────────────────────────────────────────────────
# wave80: link-prediction battery, Katz walks, partition modularity
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "link_prediction_scores",
    graph_metrics.link_prediction_scores_sql(
        _EDGES_CTE, top_n=20, max_degree=32
    ),
    "graph op — one-pass link-prediction battery (resource "
    "allocation, capped-evidence Jaccard, preferential attachment) "
    "on the same hub-capped wedge stage as adamic_adar_links: the "
    "scores a ranker ensembles, without re-shuffling the graph per "
    "score. Endpoint degrees broadcast; top-20 by (RA desc, u, v); "
    "rides the shared copurchase_edges parquet.",
)
def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.link_prediction_scores(
        copurchase_edges(spark, sf_dir), top_n=20, max_degree=32
    )


@_spec(
    "katz_centrality_walks",
    graph_metrics.katz_walks_sql(_EDGES_CTE, top_n=20),
    "graph op — truncated Katz centrality (alpha=0.05, 3 rounds) via "
    "EXACT bigint walk counts on the co-purchase graph: the "
    "attenuated-influence centrality between degree and PageRank. "
    "Each round is one neighbor-sum equi-join (Pregel superstep, "
    "O(edges), no path materialization); alpha^k literals multiply "
    "once at output so both engines are bit-identical. Rides the "
    "shared copurchase_edges parquet.",
)
def katz_centrality_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.katz_walks(copurchase_edges(spark, sf_dir), top_n=20)


@_spec(
    "brand_modularity_copurchase",
    graph_metrics.partition_modularity_sql(
        _EDGES_CTE,
        "SELECT p_partkey AS node, p_brand AS community FROM part",
    ),
    "graph op — Newman modularity decomposition of the PART-BRAND "
    "partition over the co-purchase graph (q_c = e_c/m - (d_c/2m)^2 "
    "per brand): does the catalog taxonomy actually bound "
    "co-purchase structure? Exact bigint edge/degree counts, the "
    "brand dim broadcast onto both edge endpoints, double math once "
    "per community.",
)
def brand_modularity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("community")
    )
    return graph_metrics.partition_modularity(
        copurchase_edges(spark, sf_dir), part
    )


# ──────────────────────────────────────────────────────────────────────────
# wave85: personalized PageRank in exact integer fixed point
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "personalized_pagerank_seeds",
    graph_metrics.ppr_fixed_point_sql(_EDGES_CTE, seed_mod=97),
    "graph op — personalized PageRank from the deterministic "
    "node%97 seed set, damping 0.85, 3 Pregel supersteps in EXACT "
    "integer fixed point (mass = 1e-9 units, contrib = r div deg, "
    "damping = *85 div 100): the seeded-influence ranking PageRank "
    "can't give and Katz under-damps, with bit-identical bigint "
    "ranks in both engines regardless of aggregation order. One "
    "equi-join + hash agg per superstep over the shared "
    "copurchase_edges parquet; the truncation leak is < deg/1e9 "
    "relative, inside the round-6 contract.",
)
def personalized_pagerank_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_metrics.ppr_fixed_point(
        copurchase_edges(spark, sf_dir), seed_mod=97
    )


# ──────────────────────────────────────────────────────────────────────────
# wave 158: k-truss peeling profile
# ──────────────────────────────────────────────────────────────────────────

_COPURCHASE_EDGES_SQL = """
      WITH members AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
      ), bounded AS (
        SELECT g, item FROM members
        WHERE g IN (SELECT g FROM members GROUP BY g
                    HAVING COUNT(*) <= 8)
      )
      SELECT DISTINCT x.item AS a, y.item AS b
      FROM bounded x JOIN bounded y ON x.g = y.g AND x.item < y.item
"""


@_spec(
    "ktruss_copurchase_profile",
    _graph.ktruss_peel_profile_sql(_COPURCHASE_EDGES_SQL.strip()),
    "extension — 4-truss peeling profile of the co-purchase graph "
    "(operators/graph_metrics.py): five unrolled rounds of the "
    "edge-peel fixpoint (drop edges in < 2 triangles, recompute, "
    "repeat), emitting (round, n_edges, n_removed) — the cohesion "
    "curve one step up the core->truss ladder from "
    "kcore_copurchase_peel (a k-core can be a loose star-mesh; a "
    "truss edge sits in real triangle mass). Spark computes supports "
    "via the triangle_count adjacency-intersection form (no wedge "
    "materialization) with per-round persists; the oracle spells "
    "the same rounds as chained wedge-join CTEs. Exact integers "
    "throughout.",
)
def ktruss_copurchase_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph.ktruss_peel_profile(copurchase_edges(spark, sf_dir))
