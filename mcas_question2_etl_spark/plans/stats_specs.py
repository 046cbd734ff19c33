"""Statistical-inference and experimentation specs.

Consolidated from the round-1..3 wave modules (round 4, VERDICT r3
#7): spec names, oracles and bodies are unchanged (module-private
helpers colliding across waves carry a _w<N> suffix). Constituent
waves and their original one-line scopes:

#   wave6: Wave-6 extension specs: scorer evaluation (AUC, Welch t-test),
#   wave19: Wave-19 extension specs: chi-square independence test (source x
#   wave28: Wave-28 extension spec: two-sample Kolmogorov-Smirnov test —
#   wave29: Wave-29 extension specs: Poisson-bootstrap median CI (robust-stat
#   wave33: Wave-33 extension spec: IPF raking of the source x lang table to
#   wave40: Wave-40 extension specs: Benford ingest audit, time-weighted
#   wave41: Wave-41 extension specs: Kaplan-Meier retention, RFM segmentation,
#   wave47: Wave-47 extension specs: shoelace area/centroid, burstiness,
#   wave56: Wave-56 extension specs: log-rank test, Hill power-law exponent,
#   wave57: Wave-57 extension specs: difference-in-differences, CUPED variance
#   wave58: Wave-58 extension specs: Bradley-Terry ratings, position-based
#   wave62: Wave-62 extension specs: content-defined chunk dedup, lag-1
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..catalog import load_table
from ..operators import evaluation as _eval
from ..operators import ranking as _rank
from ..operators import timeseries as _ts
from ..operators.sampling import hash_bucket, hash_bucket_sql
from ..operators import dedup
from ..operators.bootstrap import _uniform_expr, _uniform_sql, _weight_cases
from pyspark.sql import DataFrame, SparkSession
from ..operators.raking import ipf_fit_uniform, ipf_fit_uniform_sql
from ..operators import aggregates, benford, markov, sampling, timeseries
from ..operators import evaluation, segmentation, survival, timeseries
from ..operators import encoding, graph_metrics, spatial, timeseries
from ..operators import concentration, segmentation, spatial, survival
from ..operators import evaluation, segmentation, timeseries
from ..operators import attribution, econ, markov, pairwise, timeseries
from ..operators import chunking, evaluation, timeseries
from ..operators.ranking import with_global_row_number

from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


# ──────────────────────────────────────────────────────────────────────────
# wave6
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "auc_quality_score",
    _eval.auc_rank_sum_sql("documents", "n_chars", "lang = 'en'"),
    "extension — scorer evaluation: Mann-Whitney AUC with tie-averaged "
    "ranks (operators/evaluation.py). Grouped-by-distinct-score "
    "formulation: the only window runs over distinct scores, not rows, "
    "so the global sort is over score cardinality — bounded at any "
    "data scale",
)
def auc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _eval.auc_rank_sum(docs, F.col("n_chars"), F.col("lang") == "en")


@_spec(
    "welch_ttest_click_purchase",
    _eval.welch_ttest_sql("events", "value", "event_type", "click", "purchase"),
    "extension — cohort significance test: Welch unequal-variance "
    "t-test (operators/evaluation.py), one conditional-moment "
    "aggregate pass, closed-form t and Welch-Satterthwaite dof; zero "
    "joins, zero windows",
)
def welch_ttest_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _eval.welch_ttest(
        ev, F.col("value"), F.col("event_type"), "click", "purchase"
    )


@_spec(
    "winsorized_price_stats",
    """
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    q AS (
      SELECT l_returnflag,
             MAX(CASE WHEN rn = 1 + CAST(FLOOR((n - 1) * 0.05) AS BIGINT)
                      THEN l_extendedprice END) AS p05,
             MAX(CASE WHEN rn = 1 + CAST(FLOOR((n - 1) * 0.95) AS BIGINT)
                      THEN l_extendedprice END) AS p95
      FROM r GROUP BY 1
    )
    SELECT r.l_returnflag, q.p05, q.p95,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(r.l_extendedprice), 4) AS mean_raw,
           ROUND(AVG(LEAST(GREATEST(r.l_extendedprice, q.p05), q.p95)), 4)
             AS mean_winsorized
    FROM r JOIN q ON r.l_returnflag = q.l_returnflag
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
    "extension — robust statistics: per-group 5/95 winsorized mean "
    "with index-picked percentiles (element at floor((n-1)*q) of the "
    "per-group total order — no interpolation, bit-identical on any "
    "engine; same discipline as robust_outliers_iqr). One shuffle for "
    "the per-group sort; the tiny percentile table broadcasts back",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wc = Window.partitionBy("l_returnflag")
    r = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    p05_idx = 1 + F.floor((F.col("n") - 1) * 0.05)
    p95_idx = 1 + F.floor((F.col("n") - 1) * 0.95)
    q = r.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == p05_idx, F.col("l_extendedprice"))).alias("p05"),
        F.max(F.when(F.col("rn") == p95_idx, F.col("l_extendedprice"))).alias("p95"),
    )
    clipped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        r.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .orderBy("l_returnflag")
    )


#: coverage checkpoints for the vocabulary curve
_VOCAB_RANKS = (10, 50, 100, 500)


@_spec(
    "vocab_coverage_curve",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS cnt FROM tok
      WHERE token <> '' GROUP BY 1
    ),
    ranked AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn,
             SUM(cnt) OVER (ORDER BY cnt DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER () AS total
      FROM counts
    )
    SELECT v.vocab_size,
           CAST(COUNT(CASE WHEN rn <= v.vocab_size THEN 1 END) AS BIGINT)
             AS n_types,
           ROUND(MAX(CASE WHEN rn <= v.vocab_size THEN cum END)
                 / CAST(MAX(total) AS DOUBLE), 6) AS coverage
    FROM ranked CROSS JOIN
         (SELECT unnest({list(_VOCAB_RANKS)}) AS vocab_size) v
    GROUP BY 1 ORDER BY 1
    """,
    "training-data op — vocabulary coverage curve: what fraction of "
    "the corpus' token mass the top-V types cover, at V in "
    f"{_VOCAB_RANKS}. Tokenize+count is one explode+groupBy (map-side "
    "partial); the rank window runs over DISTINCT TYPES only (vocab "
    "cardinality, not corpus size) — the standard tokenizer-sizing "
    "diagnostic before a BPE train",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    ranked = counts.select(
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    sizes = F.explode(
        F.array(*[F.lit(v) for v in _VOCAB_RANKS])
    ).alias("vocab_size")
    return (
        ranked.select("rn", "cum", "total", sizes)
        .groupBy("vocab_size")
        .agg(
            F.count(F.when(F.col("rn") <= F.col("vocab_size"), 1)).alias(
                "n_types"
            ),
            F.round(
                F.max(F.when(F.col("rn") <= F.col("vocab_size"), F.col("cum")))
                / F.max("total").cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


@_spec(
    "source_token_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    clean AS (SELECT * FROM tok WHERE token <> ''),
    global_top AS (
      SELECT token, cnt FROM (
        SELECT token, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
        FROM clean GROUP BY 1
      ) WHERE rn <= 100
    ),
    q AS (
      SELECT token, cnt / CAST(SUM(cnt) OVER () AS DOUBLE) AS q_prob
      FROM global_top
    ),
    per_source AS (
      SELECT c.source, c.token, COUNT(*) AS cnt
      FROM clean c JOIN q ON c.token = q.token
      GROUP BY 1, 2
    ),
    p AS (
      SELECT source, token,
             cnt / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE)
               AS p_prob
      FROM per_source
    )
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_top_tokens,
           ROUND(-SUM(p_prob * LN(p_prob)), 4) AS entropy,
           ROUND(SUM(p_prob * LN(p_prob / q_prob)), 4) AS kl_from_global
    FROM p JOIN q ON p.token = q.token
    GROUP BY 1 ORDER BY 1
    """,
    "training-data op — per-source token-distribution divergence: "
    "entropy and KL(source || corpus) over the top-100 global types "
    "(renormalized), the data-mixing diagnostic for domain weighting. "
    "Token counting is explode+groupBy; the top-100 table is tiny and "
    "BROADCAST into the per-source recount, so nothing but (source, "
    "token) aggregates ever shuffles",
)
def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = clean.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    top = counts.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 100
    )
    q = top.select(
        "token",
        (F.col("cnt") / F.sum("cnt").over(Window.partitionBy()).cast("double"))
        .alias("q_prob"),
    )
    per_source = (
        clean.join(F.broadcast(q.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = per_source.select(
        "source",
        "token",
        (
            F.col("cnt")
            / F.sum("cnt").over(Window.partitionBy("source")).cast("double")
        ).alias("p_prob"),
    )
    return (
        p.join(F.broadcast(q), "token")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_top_tokens"),
            F.round(-F.sum(F.col("p_prob") * F.log("p_prob")), 4).alias(
                "entropy"
            ),
            F.round(
                F.sum(F.col("p_prob") * F.log(F.col("p_prob") / F.col("q_prob"))),
                4,
            ).alias("kl_from_global"),
        )
        .orderBy("source")
    )


@_spec(
    "events_daily_gapfill_locf",
    """
    WITH span AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
      FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM span
    ),
    grid AS (
      SELECT e.event_type, s.day
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) e
    ),
    per_day AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             AVG(value) AS day_avg_value
      FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.day,
           CAST(COALESCE(p.n_events, 0) AS BIGINT) AS n_events,
           p.day_avg_value,
           last_value(p.day_avg_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS day_avg_value_locf
    FROM grid g LEFT JOIN per_day p
      ON g.event_type = p.event_type AND g.day = p.day
    ORDER BY 1, 2
    """,
    "extension — time-series regularization (operators/timeseries.py): "
    "calendar-spine gap fill per event_type with zero-filled counts and "
    "last-observation-carried-forward daily means. The outer join "
    "shuffles per-(series, day) AGGREGATES, never raw events; LOCF is "
    "one ignore-nulls window on the same series-key exchange",
)
def events_daily_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dense = _ts.gapfill_locf(
        ev,
        "ts",
        "event_type",
        [
            F.count(F.lit(1)).alias("n_events"),
            # deliberately un-rounded: an explicit ROUND can land on a
            # half-tie where engines' double rounding diverges; the
            # gate's 9-significant-digit canonicalization absorbs ULPs
            F.avg("value").alias("day_avg_value"),
        ],
        "day_avg_value",
    )
    return dense.select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "day_avg_value",
        "day_avg_value_locf",
    ).orderBy("event_type", "day")


@_spec(
    "dedup_incremental_batch",
    f"""
    WITH tagged AS (
      SELECT source, doc_id, md5(text) AS fp,
             {hash_bucket_sql("doc_id")} < 80 AS in_corpus
      FROM documents
    ),
    corpus_fp AS (
      SELECT DISTINCT fp FROM tagged WHERE in_corpus
    ),
    batch AS (
      SELECT t.source, t.doc_id, t.fp,
             c.fp IS NOT NULL AS hits_corpus,
             MIN(t.doc_id) OVER (PARTITION BY t.fp) AS first_id
      FROM tagged t LEFT JOIN corpus_fp c ON t.fp = c.fp
      WHERE NOT t.in_corpus
    )
    SELECT source,
           CASE WHEN hits_corpus THEN 'dup_of_corpus'
                WHEN doc_id = first_id THEN 'kept'
                ELSE 'dup_within_batch' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM batch GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "training-data op — INCREMENTAL dedup: a new batch (the 20% "
    "hash-bucket slice; same stable-membership discipline as "
    "train_test_split) deduped against the standing corpus by content "
    "fingerprint, then within itself (min-doc_id winner). The "
    "continuous-ingestion shape of dedup_exact: only 32-hex "
    "fingerprints shuffle — document bodies never leave their scan — "
    "and corpus membership is a fingerprint-only left join",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        "doc_id",
        F.md5("text").alias("fp"),
        (hash_bucket("doc_id") < 80).alias("in_corpus"),
    )
    corpus_fp = (
        tagged.filter("in_corpus").select("fp").distinct()
        .withColumn("hits_corpus", F.lit(True))
    )
    batch = (
        tagged.filter(~F.col("in_corpus"))
        .join(corpus_fp, "fp", "left")
        .withColumn(
            "hits_corpus", F.coalesce("hits_corpus", F.lit(False))
        )
        .withColumn(
            "first_id", F.min("doc_id").over(Window.partitionBy("fp"))
        )
    )
    status = (
        F.when(F.col("hits_corpus"), "dup_of_corpus")
        .when(F.col("doc_id") == F.col("first_id"), "kept")
        .otherwise("dup_within_batch")
    )
    return (
        batch.select("source", status.alias("status"))
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "status")
    )


@_spec(
    "ntile_price_deciles",
    """
    WITH d AS (
      SELECT o_totalprice,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                  AS INTEGER) AS decile
      FROM orders
    )
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 4) AS mean
    FROM d GROUP BY 1 ORDER BY 1
    """,
    "extension — equal-frequency decile profile with NTILE(10) "
    "semantics, computed by the two-phase distributed rank "
    "(operators/ranking.py): range-shuffle on the sort key, "
    "per-partition row_number windows, tiny broadcast offset table, "
    "closed-form ntile from (rn, n). A naive ntile() OVER (ORDER BY) "
    "window would collapse the table into ONE task — this stays "
    "parallel at any scale. Unique-key tiebreak (o_orderkey) makes "
    "bucket edges deterministic",
)
def ntile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    bucketed = _rank.with_ntile(
        orders, ["o_totalprice", "o_orderkey"], 10, out_col="decile"
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("mean"),
        )
        .orderBy("decile")
    )


# ──────────────────────────────────────────────────────────────────────────
# wave19
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "chi_square_source_lang",
    """
    WITH obs AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    row_tot AS (SELECT source, SUM(o) AS r FROM obs GROUP BY 1),
    col_tot AS (SELECT lang, SUM(o) AS c FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    grid AS (
      SELECT rt.source, ct.lang, COALESCE(obs.o, 0) AS o,
             CAST(rt.r AS DOUBLE) * ct.c / t.n AS e
      FROM row_tot rt CROSS JOIN col_tot ct CROSS JOIN tot t
      LEFT JOIN obs ON obs.source = rt.source AND obs.lang = ct.lang
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           SUM((o - e) * (o - e) / e) AS chi2,
           CAST((SELECT COUNT(*) FROM row_tot) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM col_tot) - 1 AS BIGINT) AS dof
    FROM grid
    """,
    "extension — Pearson chi-square independence test over the "
    "source x lang contingency table: is language mix independent of "
    "crawl source (if not, per-source language rebalancing is needed "
    "before mixing). The contingency table is ONE aggregation over "
    "the corpus; marginals and expecteds derive from that tiny table; "
    "the full grid (incl. zero cells, which a naive join would drop) "
    "comes from the marginal cross join. Complements welch_ttest "
    "(means) with the categorical-association test",
)
def chi_square_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize the tiny contingency table: marginals/totals/grid all
    # reuse it, and without the checkpoint each re-scans the corpus
    obs = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    row_tot = obs.groupBy("source").agg(F.sum("o").alias("r"))
    col_tot = obs.groupBy("lang").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["source", "lang"], "left")
        .select(
            "source",
            "lang",
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("e"),
        )
    )
    n_rows = row_tot.agg(F.count(F.lit(1)).alias("nr"))
    n_cols = col_tot.agg(F.count(F.lit(1)).alias("nc"))
    return (
        grid.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(
                (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
            ).alias("chi2"),
        )
        .crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(n_cols))
        .select(
            "n_cells",
            "chi2",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        )
    )


@_spec(
    "top_tokens_per_source",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    counts AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    )
    SELECT source, term, cnt,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY cnt DESC, term) AS rnk
      FROM counts
    ) WHERE rnk <= 3
    """,
    "extension — per-GROUP heavy hitters: top-3 tokens per source via "
    "rank-limited window over the AGGREGATED (source, term) counts. "
    "Spark plans the rn<=3 filter as WindowGroupLimit, so each "
    "partition keeps a 3-row heap instead of sorting its whole vocab "
    "slice — the grouped analogue of zipf_token_ranks (global) and "
    "heavy_hitters_users (sketch-verified). One explode shuffle with "
    "map-side combine; the window runs over vocab-sized data",
)
def top_tokens_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("source", "term", "cnt", "rnk")
    )


@_spec(
    "null_safe_join_semantics",
    """
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 5 END AS k
      FROM orders
    ),
    r AS (
      SELECT CASE WHEN v = 9 THEN NULL ELSE v END AS k,
             CASE WHEN v = 9 THEN 'null-bucket' ELSE 'mod-' || v END AS label
      FROM (SELECT unnest([0, 1, 2, 3, 4, 9]) AS v)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1
    """,
    "extension — null-safe equi-join (Spark's <=> / eqNullSafe, SQL's "
    "IS NOT DISTINCT FROM): NULL keys MATCH each other instead of "
    "vanishing, the semantics CDC/entity pipelines need when NULL is "
    "a real category (unknown region, missing parent). Catalyst "
    "plans <=> as a hash join on a null-tolerant key — still an "
    "equi-join, no nested loop; a plain = join would silently drop "
    "every seventh row here, which is exactly the bug class this "
    "operator removes",
)
def null_safe_join_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    left = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderkey") % 5
        ).alias("k"),
    )
    right = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (4,), (9,)], "v long"
    ).select(
        F.when(F.col("v") == 9, F.lit(None)).otherwise(F.col("v")).alias("k"),
        F.when(F.col("v") == 9, F.lit("null-bucket"))
        .otherwise(F.concat(F.lit("mod-"), F.col("v").cast("string")))
        .alias("label"),
    )
    joined = left.join(F.broadcast(right), left["k"].eqNullSafe(right["k"]))
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave28
# ──────────────────────────────────────────────────────────────────────────
_SRC_A = "src0"
_SRC_B = "src1"


@_spec(
    "ks_test_sources",
    f"""
    WITH vals AS (
      SELECT source, n_chars AS v FROM documents
      WHERE source IN ('{_SRC_A}', '{_SRC_B}')
    ),
    per_v AS (
      SELECT v,
             SUM(CASE WHEN source = '{_SRC_A}' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN source = '{_SRC_B}' THEN 1 ELSE 0 END) AS cb
      FROM vals GROUP BY v
    ),
    tot AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v
    ),
    cdf AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cca,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ccb
      FROM per_v
    ),
    diffs AS (
      SELECT c.v,
             ABS(CAST(c.cca AS DOUBLE) / t.na
                 - CAST(c.ccb AS DOUBLE) / t.nb) AS d
      FROM cdf c CROSS JOIN tot t
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           (SELECT MAX(d) FROM diffs) AS ks_stat,
           (SELECT MIN(v) FROM diffs
             WHERE d = (SELECT MAX(d) FROM diffs)) AS ks_at_value
    FROM tot t
    """,
    "extension — two-sample Kolmogorov-Smirnov test: the "
    "distribution-equality check between two corpus sources (max "
    "absolute CDF gap over the pooled support), completing the "
    "statistical family (Welch t = means, chi-square = categorical "
    "association, PSI = binned drift; KS is the binning-free "
    "continuous test). CDFs are cumulative windows over the "
    "AGGREGATED per-value counts — the window runs over distinct "
    "values, never rows — and every count is exact, so the statistic "
    "is one division away from integers",
)
def ks_test_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.filter(F.col("source").isin(_SRC_A, _SRC_B)).select(
        "source", F.col("n_chars").alias("v")
    )
    # materialize the tiny per-value count table and the diff table:
    # cdf/tot/argmax all reuse them, and without the checkpoint each
    # consumer re-scans the corpus through the lineage
    per_v = (
        vals.groupBy("v")
        .agg(
            F.sum((F.col("source") == _SRC_A).cast("long")).alias("ca"),
            F.sum((F.col("source") == _SRC_B).cast("long")).alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = per_v.select(
        "v",
        F.sum("ca").over(w).alias("cca"),
        F.sum("cb").over(w).alias("ccb"),
    )
    tot = per_v.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    diffs = cdf.crossJoin(F.broadcast(tot)).select(
        "v",
        "na",
        "nb",
        F.abs(
            F.col("cca").cast("double") / F.col("na")
            - F.col("ccb").cast("double") / F.col("nb")
        ).alias("d"),
    ).localCheckpoint(eager=False)
    mx = diffs.agg(F.max("d").alias("ks"))
    at = (
        diffs.join(F.broadcast(mx), diffs["d"] == mx["ks"])
        .agg(F.min("v").alias("ks_at_value"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.col("ks").alias("ks_stat"),
            "ks_at_value",
        )
    )


# ──────────────────────────────────────────────────────────────────────────
# wave29
# ──────────────────────────────────────────────────────────────────────────
_REPL = 16


@_spec(
    "poisson_bootstrap_median_ci",
    f"""
    WITH fanned AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS v, t.r,
             CAST({_weight_cases(_uniform_sql('doc_id', 'r'))} AS BIGINT) AS w
      FROM documents, unnest(range(0, {_REPL})) AS t(r)
    ),
    nz AS (SELECT * FROM fanned WHERE w > 0),
    cum AS (
      SELECT r, v, w,
             SUM(w) OVER (PARTITION BY r ORDER BY v, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY r) AS tw
      FROM nz
    ),
    med AS (
      SELECT CAST(r AS INTEGER) AS replica, MIN(v) AS med
      FROM cum WHERE 2 * cw >= tw GROUP BY r
    )
    SELECT replica, CAST(med AS BIGINT) AS median_est FROM med
    """,
    "extension — Poisson-bootstrap MEDIAN: uncertainty for the robust "
    "statistic (operators/bootstrap.py weights + per-replica weighted "
    "median = first value whose cumulative weight crosses half). The "
    "mean CI (poisson_bootstrap_ci) needs only additive sums; the "
    "median needs an order statistic, so each replica runs a "
    "cumulative window — over rows that carried a nonzero weight "
    "only. At 100 TB swap the exact window for the mergeable KLL "
    "sketch per replica (operators/sketches.py) — same fan-out, "
    "bounded memory. The replica spread of median_est IS the CI",
)
def poisson_bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = _uniform_expr("doc_id", "__r")
    fanned = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(_REPL - 1))).alias("__r"),
    ).withColumn("w", F.expr(_weight_cases(u)).cast("long"))
    nz = fanned.filter(F.col("w") > 0)
    w_cum = (
        Window.partitionBy("__r")
        .orderBy("v", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("__r")
    cum = nz.select(
        "__r",
        "v",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("__r").cast("int").alias("replica"))
        .agg(F.min("v").alias("median_est"))
    )


_C_THRESH_BUCKETS = 10


@_spec(
    "containment_profile",
    f"""
    WITH sample AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 5 = 0 AND doc_id < 1000 AND length(text) >= 3
    ),
    sh AS (SELECT doc_id, {dedup.char_ngrams_sql("text")} AS shingles FROM sample),
    pairs AS (
      SELECT a.doc_id,
             CAST({dedup.shingle_overlap_sql("a.shingles", "b.shingles")} AS DOUBLE)
               / len(a.shingles) AS containment
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    ),
    per_doc AS (
      SELECT doc_id, MAX(containment) AS maxc FROM pairs GROUP BY 1
    )
    SELECT CAST(LEAST(FLOOR(maxc * {_C_THRESH_BUCKETS}),
                      {_C_THRESH_BUCKETS - 1}) AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
    FROM per_doc GROUP BY 1
    """,
    "training-data op — containment profile: per sampled document, the "
    "maximum DIRECTIONAL containment |A∩B|/|A| of its shingle set in "
    "any other document, bucketed into a histogram. Containment is the "
    "asymmetric cousin of Jaccard that catches quote-inclusion (a "
    "small doc embedded in a large one scores ~1.0 containment but "
    "low Jaccard — LSH-on-Jaccard misses it; Lee et al. dedup cares). "
    "All-pairs runs only on the fixed bounded sample (same cap as "
    "lsh_quality_report); the production path would LSH on the "
    "SMALLER set's signature",
)
def containment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sample = docs.filter(
        (F.col("doc_id") % 5 == 0)
        & (F.col("doc_id") < 1000)
        & (F.length("text") >= 3)
    )
    sh = sample.select(
        "doc_id", dedup.char_ngrams("text", 3).alias("sh")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("doc_id") != F.col("b_id"))
        .select(
            "doc_id",
            (
                dedup.shingle_overlap("a_sh", "b_sh").cast("double")
                / F.size("a_sh")
            ).alias("containment"),
        )
    )
    per_doc = pairs.groupBy("doc_id").agg(F.max("containment").alias("maxc"))
    bucket = F.least(
        F.floor(F.col("maxc") * _C_THRESH_BUCKETS),
        F.lit(_C_THRESH_BUCKETS - 1),
    ).cast("int")
    return per_doc.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_ids"),
    )


_GAP_US = 1800 * 1_000_000


@_spec(
    "session_entry_exit_matrix",
    f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR t_us - prev_us > {_GAP_US}
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sess AS (
      SELECT *, CAST(SUM(new_session) OVER
                       (PARTITION BY user_id ORDER BY t_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM flagged
    ),
    ends AS (
      SELECT user_id, sid,
             MIN_BY(event_type, lpad(CAST(t_us AS VARCHAR), 20, '0') || ':'
                    || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS entry_type,
             MAX_BY(event_type, lpad(CAST(t_us AS VARCHAR), 20, '0') || ':'
                    || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS exit_type,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT entry_type, exit_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM ends GROUP BY 1, 2
    """,
    "extension — session entry/exit matrix (the bounce/landing "
    "analysis): which event type opens and which closes each "
    "session, aggregated to a type x type matrix. min_by/max_by over "
    "a zero-padded sortable (time:id) key picks the endpoints "
    "WITHOUT a second window pass (engines disagree on composite "
    "min_by keys, lexicographic padding is the portable spelling); "
    "sessionize + endpoints + matrix share one user_id shuffle",
)
def session_entry_exit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("t_us") - F.col("prev_us") > _GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("sid", F.sum("new_session").over(wrun))
    key = F.concat(
        F.lpad(F.col("t_us").cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    ends = sess.groupBy("user_id", "sid").agg(
        F.min_by("event_type", key).alias("entry_type"),
        F.max_by("event_type", key).alias("exit_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return ends.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave33
# ──────────────────────────────────────────────────────────────────────────
_ITERS = 4


@_spec(
    "ipf_raking_weights",
    f"""
    WITH cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS w
      FROM documents GROUP BY 1, 2
    ),
    {ipf_fit_uniform_sql('cells', 'source', 'lang', _ITERS)}
    """,
    "extension — iterative proportional fitting / raking "
    "(operators/raking.py, Deming-Stephan): adjust the source x lang "
    "cell weights until BOTH margins are uniform — the "
    "survey-weighting primitive, and the principled way to balance a "
    "training mixture on two attributes at once (temperature_sample "
    "balances one). Fixed 4-round unrolled fixpoint (the k-means/"
    "PageRank determinism discipline); margins are tiny broadcast "
    "aggregations, cells aggregate from the corpus ONCE. Oracle = "
    "the same rounds unrolled as CTEs",
)
def ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("w"))
    return ipf_fit_uniform(cells, "source", "lang", "w", _ITERS)


# ──────────────────────────────────────────────────────────────────────────
# wave40
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "benford_price_digits",
    benford.benford_audit_sql("orders", "o_totalprice"),
    "data-quality op — Benford first-digit conformance of order "
    "totals (corruption/unit-mixing tripwire): string-on-integer "
    "digit extraction (explicit floor — Spark's double->bigint cast "
    "truncates, DuckDB's rounds), one 9-row groupBy with map-side "
    "combine, per-digit chi-square terms.",
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return benford.benford_audit(orders, "o_totalprice")


@_spec(
    "twap_user_daily_value",
    timeseries.time_weighted_avg_sql(),
    "time-series op — per-user-day time-weighted average value "
    "(TWAP): each observation weighted by its exact integer-micros "
    "holding interval to the next event, deterministic (ts, event_id) "
    "tiebreak so simultaneous events weight identically in both "
    "engines; one window shuffle, the aggregation rides the same "
    "partitioning.",
)
def twap_user_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.time_weighted_avg(events)


@_spec(
    "neyman_stratified_docs",
    sampling.neyman_allocation_sql(
        "documents", "source", "n_chars", "doc_id", budget=120
    ),
    "sampling op — Neyman-optimal stratified allocation over document "
    "sources (budget where the variance is) with a hash-deterministic "
    "take: exact integer moments for sigma, DECIMAL cross-stratum "
    "total so no double-sum ulp can flip the floor() at an integer "
    "boundary, md5-ordered row_number take per stratum.",
)
def neyman_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.neyman_allocation(docs, "source", "n_chars", "doc_id", budget=120)


@_spec(
    "weighted_price_quantiles",
    aggregates.weighted_quantiles_sql(
        "lineitem", "l_returnflag", "l_extendedprice", "l_quantity"
    ),
    "aggregate op — quantity-weighted price quartiles per returnflag "
    "(lower weighted-CDF inverse): one window shuffle on the group "
    "key, conditional-MIN picks share the aggregation; integer-valued "
    "weights keep every prefix sum and threshold exact, so the "
    "comparisons are engine-deterministic.",
)
def weighted_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return aggregates.weighted_quantiles(li, "l_returnflag", "l_extendedprice", "l_quantity")


@_spec(
    "markov_stationary_mix",
    markov.stationary_mix_sql(rounds=3),
    "behavioral op — Markov steady-state event mix: 3 unrolled power "
    "iterations of pi <- pi.P over the per-user transition counts, "
    "compared against the empirical mix (momentum detector). The only "
    "corpus-sized work is the lead-window transition count; the "
    "iteration runs on the k x k broadcastable matrix.",
)
def markov_stationary_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return markov.stationary_mix(markov.transition_counts(events), rounds=3)


# ──────────────────────────────────────────────────────────────────────────
# wave41
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "kaplan_meier_retention",
    survival.kaplan_meier_sql(),
    "survival op — Kaplan-Meier product-limit retention over user "
    "lifetimes with 7-day right-censoring: integer-day lifetimes and "
    "exact risk-set counts; the only float work is the exp-sum-log "
    "cumulative product over the tiny distinct-lifetime table.",
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return survival.kaplan_meier(events)


@_spec(
    "rfm_customer_segments",
    segmentation.rfm_segments_sql(),
    "segmentation op — RFM quintile scoring of customers from orders "
    "(recency/frequency/monetary, 5 = best) via the distributed "
    "two-phase NTILE (no single-task global window), unique tiebreak "
    "on the customer key, decimal-exact monetary sums; 125-group "
    "rollup output.",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return segmentation.rfm_segments(orders)


@_spec(
    "anova_f_priority_price",
    evaluation.anova_f_sql("orders", "o_orderpriority", "o_totalprice"),
    "stats op — one-way ANOVA F of order totals across the 5 order "
    "priorities: per-group moments as exact decimal sums (order-free "
    "in both engines), k-row reduction, SSB/SSW/F in double on "
    "bit-identical inputs, rounded like the other test statistics.",
)
def anova_f_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.anova_f(orders, "o_orderpriority", "o_totalprice")


@_spec(
    "spearman_qty_price",
    evaluation.spearman_corr_sql(
        "lineitem", "l_returnflag", "l_quantity", "l_extendedprice"
    ),
    "stats op — per-returnflag Spearman rank correlation of quantity "
    "vs price, tie-correct average-rank form: DOUBLED average ranks "
    "are integers, so every moment accumulates exactly in "
    "DECIMAL(38,0) and the final rho needs no rounding at all; two "
    "rank windows share one shuffle on the group key.",
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return evaluation.spearman_corr(li, "l_returnflag", "l_quantity", "l_extendedprice")


@_spec(
    "seasonal_naive_backtest",
    timeseries.seasonal_naive_backtest_sql(),
    "forecast op — seasonal-naive (lag-7) backtest over per-type "
    "daily event counts with exact integer error moments: WAPE, bias "
    "and RMSE from bigint sums (no order-dependent float averaging), "
    "scored via a days-sized self-join of the daily rollup.",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.seasonal_naive_backtest(events)


# ──────────────────────────────────────────────────────────────────────────
# wave47
# ──────────────────────────────────────────────────────────────────────────
#: same synthetic shape fixture as geo_reproject_validity
#: (plans/ml_geo_media.py): 1 km squares per nation, every 7th a
#: zero-area ring, every 11th a self-intersecting bowtie.
_SHAPES_CTE = """
    shapes AS (
      SELECT n_nationkey,
             CASE
               WHEN n_nationkey % 7 = 0 THEN
                 printf('POLYGON ((%d %d, %d %d, %d %d, %d %d))',
                        x0, y0, x0, y0, x0, y0, x0, y0)
               WHEN n_nationkey % 11 = 0 THEN
                 printf('POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))',
                        x0, y0, x0 + 1000, y0 + 1000, x0 + 1000, y0,
                        x0, y0 + 1000, x0, y0)
               ELSE
                 printf('POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))',
                        x0, y0, x0 + 1000, y0, x0 + 1000, y0 + 1000,
                        x0, y0 + 1000, x0, y0)
             END AS wkt
      FROM (SELECT n_nationkey,
                   n_nationkey * 5000 + 200000 AS x0,
                   n_nationkey * 4000 + 750000 AS y0
            FROM nation)
    )"""


@_spec(
    "shoelace_area_centroid",
    spatial.shoelace_area_centroid_sql(_SHAPES_CTE),
    "geo op — polygon doubled-signed-area and centroid via the "
    "shoelace formula as pure higher-order array expressions over "
    "integer WKT coordinates (exact bigint cross terms, centroid one "
    "division of exact ints; degenerate/bowtie rings yield area2 = 0 "
    "and NULL centroid); zero shuffle, whole-stage codegen.",
)
def shoelace_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    x0 = F.col("n_nationkey") * 5000 + 200000
    y0 = F.col("n_nationkey") * 4000 + 750000
    valid_wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        x0, y0, x0 + 1000, y0, x0 + 1000, y0 + 1000, x0, y0 + 1000, x0, y0,
    )
    degenerate_wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d))", x0, y0, x0, y0, x0, y0, x0, y0
    )
    bowtie_wkt = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        x0, y0, x0 + 1000, y0 + 1000, x0 + 1000, y0, x0, y0 + 1000, x0, y0,
    )
    shapes = nation.select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 7 == 0, degenerate_wkt)
        .when(F.col("n_nationkey") % 11 == 0, bowtie_wkt)
        .otherwise(valid_wkt)
        .alias("wkt"),
    )
    return spatial.shoelace_area_centroid(shapes, "wkt")


@_spec(
    "user_burstiness_histogram",
    timeseries.user_burstiness_histogram_sql(),
    "behavioral op — Goh-Barabasi burstiness B = (sigma-mu)/(sigma+mu) "
    "per user from exact integer-micros gap moments (B is one IEEE "
    "expression on identical inputs; the 10-bucket floor cannot "
    "flip), bot-vs-human activity fingerprint; one user-keyed "
    "shuffle + 10-row rollup.",
)
def user_burstiness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.user_burstiness_histogram(events)


@_spec(
    "interarrival_profile",
    timeseries.interarrival_profile_sql(),
    "capacity op — per-event-type arrival profile: exact-bigint mean "
    "gap and an explicit element-pick lower median (row_number "
    "rank = (n+1) div 2, never an interpolating percentile that "
    "rounds differently across engines); two group-keyed shuffles.",
)
def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.interarrival_profile(events)


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
    "copurchase_assortativity",
    graph_metrics.degree_assortativity_sql(_EDGES_CTE),
    "graph op — Newman degree assortativity of the co-purchase "
    "graph: endpoint-degree Pearson over the symmetric edge list "
    "with all five moments in exact DECIMAL(38,0) (order-free), one "
    "IEEE final expression, no rounding; one degree aggregation + "
    "two node-id equi-joins.",
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_specs import copurchase_edges

    return graph_metrics.degree_assortativity(copurchase_edges(spark, sf_dir))


@_spec(
    "quantile_normalize_doclen",
    encoding.quantile_normalize_sql("documents", "source", "n_chars", "doc_id"),
    "preprocessing op — quantile normalization of document lengths "
    "across sources (batch-effect correction): within-group rank -> "
    "pooled position via EXACT integer index math (1 + (r-1)(N-1) "
    "div (n_g-1), no float quantile boundary), pooled map built with "
    "the distributed two-phase global rank.",
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return encoding.quantile_normalize(docs, "source", "n_chars", "doc_id")


# ──────────────────────────────────────────────────────────────────────────
# wave56
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "logrank_retention_test",
    survival.logrank_test_sql(),
    "survival op — Mantel-Cox log-rank test between the retention "
    "curves of an md5 2-arm user split: same censored integer-day "
    "lifetimes as kaplan_meier_retention, exact risk sets via suffix "
    "sums over the distinct-lifetime table, per-time hypergeometric "
    "terms summed with 9dp rounding, 1-df 5% flag.",
)
def logrank_retention_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return survival.logrank_test(events)


@_spec(
    "powerlaw_alpha_doclen",
    concentration.hill_powerlaw_alpha_sql("documents", "source", "n_chars"),
    "stats op — Hill estimator of the document-length tail exponent "
    "per source (xmin=100): exact bigint tail counts, rounded ln "
    "sum, one fixed alpha expression; the scale-free-or-not summary "
    "behind the zipf rank plots.",
)
def powerlaw_alpha_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return concentration.hill_powerlaw_alpha(docs, "source", "n_chars")


@_spec(
    "monthly_growth_accounting",
    segmentation.monthly_growth_accounting_sql(),
    "growth op — Social-Capital growth accounting per month: active "
    "= new + retained + resurrected (identity holds per row), "
    "churned = prev active - retained; exact integer month indices "
    "and user-month grain joins.",
)
def monthly_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return segmentation.monthly_growth_accounting(events)


@_spec(
    "abc_xyz_matrix",
    concentration.abc_xyz_matrix_sql(
        "lineitem", "l_partkey", "l_extendedprice", "l_quantity", "l_shipdate"
    ),
    "ops op — ABC x XYZ part classification: DECIMAL-exact revenue "
    "prefix thresholds (no float boundary can flip a class) x weekly-"
    "demand coefficient of variation from exact bigint power sums; "
    "the joint stock-planning matrix.",
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return concentration.abc_xyz_matrix(
        li, "l_partkey", "l_extendedprice", "l_quantity", "l_shipdate"
    )


_GLAT = "((c_custkey * 37) % 120) / 2.0 - 30"
_GLON = "((c_custkey * 73) % 720) / 2.0 - 180"


@_spec(
    "grid_density_hotspots",
    spatial.grid_density_hotspots_sql(
        f"SELECT {_GLAT} AS lat, {_GLON} AS lon FROM customer"
    ),
    "spatial op — 5-degree grid density hotspots over the synthetic "
    "customer coordinates: exact floor-division cells and counts, "
    "count-desc rank with cell tie-break, top 10; the bounded "
    "pre-clustering step for density work at scale.",
)
def grid_density_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.expr(_GLAT).alias("lat"), F.expr(_GLON).alias("lon")
    )
    return spatial.grid_density_hotspots(pts)


# ──────────────────────────────────────────────────────────────────────────
# wave57
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "did_aa_estimator",
    evaluation.did_estimator_sql(),
    "causal op — difference-in-differences over an md5 2-arm user "
    "split x corpus time halves (the AA/placebo harness): per-unit "
    "event-count deltas, exact bigint moments end to end, unit-level "
    "SE, zero rounding.",
)
def did_aa_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return evaluation.did_estimator(events)


@_spec(
    "cuped_adjusted_lift",
    evaluation.cuped_adjusted_lift_sql(),
    "causal op — CUPED variance reduction (theta = cov/var from "
    "pooled exact bigint moments; adjusted post metric per unit; "
    "variance-ratio from the CUPED identity) on the same AA split; "
    "the CI-shrinking standard of experimentation platforms.",
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return evaluation.cuped_adjusted_lift(events)


@_spec(
    "rolling_click_purchase_corr",
    timeseries.rolling_correlation_sql(),
    "timeseries op — 14-day rolling Pearson correlation between "
    "click and purchase daily counts: all five windowed moments are "
    "exact bigint rolling sums, one fixed IEEE r per day, zero "
    "rounding; the time-local complement to lagged_cross_correlation.",
)
def rolling_click_purchase_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.rolling_correlation(events)


@_spec(
    "tier_migration_matrix",
    segmentation.tier_migration_matrix_sql(
        "SELECT o_custkey, o_orderdate, o_totalprice FROM orders",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
    ),
    "BI op — customer spend-quintile migration between corpus time "
    "halves (tier 0 = inactive): DECIMAL-exact half spends, "
    "distributed two-phase NTILE with (spend desc, unit) tie order, "
    "exact transition counts.",
)
def tier_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select("o_custkey", "o_orderdate", "o_totalprice")
    return segmentation.tier_migration_matrix(
        src, "o_custkey", "o_orderdate", "o_totalprice"
    )


@_spec(
    "mcnemar_gates",
    evaluation.mcnemar_gates_sql(
        "documents",
        "n_chars >= 300",
        "len(regexp_extract_all(text, '\\S+')) >= 55",
    ),
    "eval op — McNemar paired test between the same two document "
    "gates cohens_kappa_gates scores for agreement: discordant-cell "
    "chi-square + Edwards continuity correction, exact bigint cells, "
    "fixed IEEE statistics.",
)
def mcnemar_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.mcnemar_gates(
        docs,
        F.col("n_chars") >= 300,
        F.regexp_count(F.col("text"), F.lit(r"\S+")) >= 55,
    )


# ──────────────────────────────────────────────────────────────────────────
# wave58
# ──────────────────────────────────────────────────────────────────────────
_BT_PAIRS_SQL = """
SELECT a.l_suppkey AS i, b.l_suppkey AS j,
       CAST(SUM(CASE WHEN a.l_shipdate < b.l_shipdate THEN 1 ELSE 0 END)
            AS BIGINT) AS wins_i,
       CAST(SUM(CASE WHEN b.l_shipdate < a.l_shipdate THEN 1 ELSE 0 END)
            AS BIGINT) AS wins_j
FROM lineitem a
JOIN lineitem b ON b.l_orderkey = a.l_orderkey
               AND a.l_suppkey < b.l_suppkey
WHERE a.l_shipdate <> b.l_shipdate
GROUP BY 1, 2
"""


@_spec(
    "bradley_terry_suppliers",
    pairwise.bradley_terry_ratings_sql(_BT_PAIRS_SQL),
    "ranking op — Bradley-Terry supplier speed ratings from head-to-"
    "head ship-date outcomes within shared orders (ties excluded): "
    "exact bigint pair aggregates, 6 unrolled MM rounds with mean-1 "
    "normalization (same fixed-iteration discipline as IPF/Markov), "
    "final ratings rounded 6dp.",
)
def bradley_terry_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # in-array pair expansion: ONE shuffle on the order key, then the
    # O(k^2) games expand inside each order's tiny line array — no
    # sorted self-join of the fact table (k = lines/order ~ 4..7)
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_suppkey").alias("s"), F.col("l_shipdate").alias("d"))
        ).alias("items")
    )
    games = per_order.select(
        F.explode(
            F.expr(
                """
                filter(
                  flatten(transform(items,
                    x -> transform(items, y -> struct(x AS a, y AS b)))),
                  p -> p.a.s < p.b.s AND p.a.d != p.b.d)
                """
            )
        ).alias("g")
    )
    pairs = (
        games.select(
            F.col("g.a.s").alias("i"),
            F.col("g.b.s").alias("j"),
            (F.col("g.a.d") < F.col("g.b.d")).cast("long").alias("w"),
        )
        .groupBy("i", "j")
        .agg(
            F.sum("w").cast("bigint").alias("wins_i"),
            (F.count(F.lit(1)) - F.sum("w")).cast("bigint").alias("wins_j"),
        )
    )
    return pairwise.bradley_terry_ratings(pairs)


@_spec(
    "position_based_attribution",
    attribution.position_based_attribution_sql(),
    "marketing op — U-shaped 40/20/40 multi-touch attribution over "
    "click/view touches within a 72h lookback of each purchase: "
    "(ts, event_id)-deterministic position ranks, fixed IEEE credit "
    "fractions, per-type credit sums rounded 6dp; extends "
    "last_touch_attribution.",
)
def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return attribution.position_based_attribution(events)


@_spec(
    "paths_to_purchase",
    markov.paths_to_conversion_sql(),
    "journey op — top depth-3 event paths immediately preceding each "
    "purchase ('a>b>c' strings, (ts, event_id)-deterministic, "
    "concat_ws NULL-skipping identical in both engines), counts >= "
    "5; the sequence complement to the transition matrix.",
)
def paths_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return markov.paths_to_conversion(events)


@_spec(
    "synthetic_control_effect",
    timeseries.synthetic_control_effect_sql(),
    "causal op — scaled-control counterfactual between corpus time "
    "halves (purchase vs signup volumes): exact bigint half totals, "
    "single IEEE ratio/effect expressions, zero rounding; the "
    "placebo expectation on unperturbed data is effect ~ 0.",
)
def synthetic_control_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return timeseries.synthetic_control_effect(events)


@_spec(
    "price_index_halves",
    econ.price_index_halves_sql(
        "lineitem", "l_partkey", "l_extendedprice", "l_quantity", "l_shipdate"
    ),
    "econ op — Laspeyres/Paasche/Fisher price indices between corpus "
    "time halves over parts sold in both: DECIMAL-exact spends and "
    "bigint quantities, exact-input unit prices, basket sums rounded "
    "6dp before the index ratios.",
)
def price_index_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return econ.price_index_halves(
        li, "l_partkey", "l_extendedprice", "l_quantity", "l_shipdate"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave62
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "cdc_chunk_dedup",
    f"""
    WITH chunks AS ({chunking.cdc_chunks_sql("documents")}),
    keyed AS (
      SELECT d.source, md5(c.chunk_text) AS fp
      FROM chunks c JOIN documents d ON d.doc_id = c.doc_id
    ),
    counted AS (
      SELECT source, COUNT(*) OVER (PARTITION BY fp) AS occ FROM keyed
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           ROUND(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM counted GROUP BY source
    """,
    "LLM-corpus dedup — content-defined chunking (LBFS rolling-"
    "boundary scheme, operators/chunking.py cdc_chunks): boundary "
    "tokens are content-addressed (md5 prefix), so edits shift no "
    "downstream chunk boundaries; per-source duplicated-chunk mass. "
    "The chunker is a narrow scan-stage projection; the only shuffle "
    "carries (source, 32-hex fp) rows, never chunk text.",
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunking.cdc_chunks(docs, "doc_id", "text")
    keyed = chunks.join(
        docs.select("doc_id", "source"), "doc_id"
    ).select("source", F.md5("chunk_text").alias("fp"))
    counted = keyed.select(
        "source", F.count(F.lit(1)).over(Window.partitionBy("fp")).alias("occ")
    )
    return counted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum((F.col("occ") >= 2).cast("int")).cast("long").alias("n_dup_chunks"),
        F.round(
            F.sum((F.col("occ") >= 2).cast("int"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_frac"),
    )


# Closed-form 2-regressor OLS via centered normal equations (Cramer).
# Daily purchase count regressed on ITS OWN lag-1 and the lag-1 click
# count — the Granger-causality screen's unrestricted regression. All
# moments are exact-integer sums in double (daily counts ~1e4, 30-3000
# days: far inside 2^53), so both engines see bit-identical inputs to
# the final IEEE expressions.
_GRANGER_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS p,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT d2.p AS y, d1.p AS x1, d1.c AS x2
      FROM daily d1 JOIN daily d2 ON d2.day = d1.day + INTERVAL 1 DAY
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
             SUM(x1 * x2) AS s12, SUM(x1 * y) AS s1y,
             SUM(x2 * y) AS s2y, SUM(y * y) AS syy
      FROM pairs
    ),
    cen AS (
      SELECT n, s1, s2, sy,
             s11 - s1 * s1 / n AS m11,
             s22 - s2 * s2 / n AS m22,
             s12 - s1 * s2 / n AS m12,
             s1y - s1 * sy / n AS v1,
             s2y - s2 * sy / n AS v2,
             syy - sy * sy / n AS tss
      FROM m
    ),
    fit AS (
      SELECT n, s1, s2, sy, tss, v1, v2,
             (v1 * m22 - v2 * m12) / (m11 * m22 - m12 * m12) AS b1,
             (m11 * v2 - m12 * v1) / (m11 * m22 - m12 * m12) AS b2
      FROM cen
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((sy - b1 * s1 - b2 * s2) / n, 6) AS b0,
           ROUND(b1, 6) AS b1,
           ROUND(b2, 6) AS b2,
           ROUND((b1 * v1 + b2 * v2) / tss, 6) AS r2
    FROM fit
    """


@_spec(
    "granger_lag_regression",
    _GRANGER_SQL,
    "regression op — two-regressor closed-form OLS (centered normal "
    "equations, Cramer solve): daily purchases on lag-1 purchases + "
    "lag-1 clicks, the Granger screen's unrestricted model. One day "
    "groupBy reduces events, one calendar self-join builds lag pairs "
    "(no density assumption), one aggregate carries all ten exact "
    "moments; the solve is a 1-row projection.",
)
def granger_lag_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("p"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("double")
        .alias("c"),
    )
    d1 = daily.select(
        F.date_add("day", 1).alias("day"),
        F.col("p").alias("x1"),
        F.col("c").alias("x2"),
    )
    pairs = daily.select("day", F.col("p").alias("y")).join(d1, "day")
    m = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cen = m.select(
        "n",
        "s1",
        "s2",
        "sy",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("m11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("m22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("m12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("v1"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("v2"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("tss"),
    )
    det = F.col("m11") * F.col("m22") - F.col("m12") * F.col("m12")
    fit = cen.select(
        "n",
        "s1",
        "s2",
        "sy",
        "tss",
        "v1",
        "v2",
        ((F.col("v1") * F.col("m22") - F.col("v2") * F.col("m12")) / det).alias("b1"),
        ((F.col("m11") * F.col("v2") - F.col("m12") * F.col("v1")) / det).alias("b2"),
    )
    return fit.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("sy") - F.col("b1") * F.col("s1") - F.col("b2") * F.col("s2"))
            / F.col("n"),
            6,
        ).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round((F.col("b1") * F.col("v1") + F.col("b2") * F.col("v2")) / F.col("tss"), 6).alias(
            "r2"
        ),
    )


_BRIER_TRAIN_SQL = f"""
    SELECT n_chars // 100 AS len_bin, lang = 'en' AS is_en
    FROM documents WHERE {hash_bucket_sql("doc_id", 2)} = 0
"""
_BRIER_TEST_SQL = f"""
    SELECT n_chars // 100 AS len_bin, lang = 'en' AS is_en
    FROM documents WHERE {hash_bucket_sql("doc_id", 2)} = 1
"""


@_spec(
    "brier_decomposition_langid",
    evaluation.brier_decomposition_sql(
        _BRIER_TRAIN_SQL, _BRIER_TEST_SQL, "len_bin", "is_en"
    ),
    "eval op — Brier score + exact Murphy decomposition "
    "(reliability - resolution + uncertainty) of the histogram "
    "calibrator 'P(en | length bin) from the train split' on the "
    "held-out split (operators/evaluation.py brier_decomposition): "
    "per-bin integer counts, one broadcast of the tiny bin table; "
    "the hash split reuses the no-RNG sampling discipline.",
)
def brier_decomposition_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / 100).cast("long").alias("len_bin"),
        (F.col("lang") == "en").alias("is_en"),
        hash_bucket("doc_id", 2).alias("__fold"),
    )
    train = docs.filter(F.col("__fold") == 0)
    test = docs.filter(F.col("__fold") == 1)
    return evaluation.brier_decomposition(train, test, "len_bin", "is_en")


@_spec(
    "rsi_cutler_daily",
    timeseries.rsi_cutler_sql("events", "ts", "value"),
    "time-series op — RSI (Cutler SMA form) over the daily total "
    "event value: trailing 14-delta gain/loss averages, conventional "
    "0/100 limits at all-loss/all-gain windows, full windows only; "
    "runs over the bounded daily series.",
)
def rsi_cutler_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return timeseries.rsi_cutler(ev, "ts", "value")


@_spec(
    "conformal_interval_coverage",
    f"""
    WITH folded AS (
      SELECT o_orderpriority AS prio, o_totalprice AS price,
             o_orderkey, {hash_bucket_sql("o_orderkey", 3)} AS fold
      FROM orders
    ),
    model AS (
      SELECT prio,
             CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS mu
      FROM folded WHERE fold = 0 GROUP BY prio
    ),
    calib AS (
      SELECT ABS(f.price - m.mu) AS r, f.o_orderkey
      FROM folded f JOIN model m ON m.prio = f.prio
      WHERE f.fold = 1
    ),
    nk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_calib,
             (9 * (COUNT(*) + 1) + 9) // 10 AS k
      FROM calib
    ),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_orderkey) AS rnk FROM calib
    ),
    q AS (SELECT ranked.r AS q FROM ranked, nk WHERE ranked.rnk = nk.k),
    test AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(f.price - m.mu) <= q.q
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM folded f JOIN model m ON m.prio = f.prio CROSS JOIN q
      WHERE f.fold = 2
    )
    SELECT nk.n_calib, CAST(nk.k AS BIGINT) AS k_rank,
           ROUND(q.q, 4) AS q_hat,
           test.n_test,
           ROUND(test.n_covered / CAST(test.n_test AS DOUBLE), 6) AS coverage
    FROM nk, q, test
    """,
    "eval op — split-conformal prediction intervals (Vovk; Lei et "
    "al. 2018) around the per-priority mean-price model: exact "
    "ceil(0.9(n+1))-th order statistic of calibration residuals via "
    "integer-only rank math and the two-phase distributed row number "
    "(no single-task sort); held-out coverage then is one broadcast "
    "scalar + one aggregate. The DECIMAL-exact model means make "
    "residuals bit-identical across engines, so the order statistic "
    "is engine-stable.",
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    folded = orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
        hash_bucket("o_orderkey", 3).alias("fold"),
    )
    model = (
        folded.filter(F.col("fold") == 0)
        .groupBy("prio")
        .agg(
            (
                F.sum(F.col("price").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu")
        )
    )
    calib = (
        folded.filter(F.col("fold") == 1)
        .join(F.broadcast(model), "prio")
        .select(F.abs(F.col("price") - F.col("mu")).alias("r"), "o_orderkey")
    )
    nk = calib.agg(
        F.count(F.lit(1)).cast("long").alias("n_calib"),
        F.expr("(9 * (count(1) + 1) + 9) div 10").cast("long").alias("k"),
    )
    ranked = with_global_row_number(calib, [F.col("r"), F.col("o_orderkey")], "rnk")
    q = (
        ranked.crossJoin(F.broadcast(nk))
        .filter(F.col("rnk") == F.col("k"))
        .select(F.col("r").alias("q"))
    )
    test = (
        folded.filter(F.col("fold") == 2)
        .join(F.broadcast(model), "prio")
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (F.abs(F.col("price") - F.col("mu")) <= F.col("q")).cast("int")
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        nk.crossJoin(q)
        .crossJoin(test)
        .select(
            "n_calib",
            F.col("k").alias("k_rank"),
            F.round("q", 4).alias("q_hat"),
            "n_test",
            F.round(F.col("n_covered") / F.col("n_test").cast("double"), 6).alias(
                "coverage"
            ),
        )
    )


# ──────────────────────────────────────────────────────────────────────────
# wave66
# ──────────────────────────────────────────────────────────────────────────
from ..operators import causal


@_spec(
    "levene_priority_price_spread",
    evaluation.levene_brown_forsythe_sql(
        "orders", "o_orderpriority", "o_totalprice"
    ),
    "stats op — Brown-Forsythe Levene test: does order-price SPREAD "
    "differ across the 5 priorities? (anova_f_priority_price asks the "
    "same of the MEAN.) Medians are never float-interpolated — the "
    "doubled-median order statistics keep every deviation an exact "
    "2-decimal DECIMAL, and the scale-invariant F(2z)=F(z) identity "
    "makes the cross-engine contract exact until the final ratio. "
    "One ranked window per group + broadcast median join + the "
    "map-side-combined moment aggregate.",
)
def levene_priority_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.levene_brown_forsythe(
        orders, "o_orderpriority", "o_totalprice"
    )


@_spec(
    "mann_whitney_click_purchase",
    evaluation.mann_whitney_u_sql(
        "events", "event_type", "value", "click", "purchase"
    ),
    "stats op — Mann-Whitney U (Wilcoxon rank-sum) on click vs "
    "purchase event values, tie-corrected normal z: the "
    "distribution-free complement to welch_ttest_click_purchase. "
    "Doubled average ranks are exact INTEGERS computed on the "
    "aggregated value->count table (distinct 2-decimal values, never "
    "per-row), so the rank shuffle is bounded by value cardinality; "
    "2*U_a and the tie term stay integer to the final z ratio.",
)
def mann_whitney_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return evaluation.mann_whitney_u(
        events, "event_type", "value", "click", "purchase"
    )


_CEM_UNITS_SQL = """
      SELECT c.c_custkey,
             c.c_mktsegment = 'BUILDING' AS treated,
             r.r_name AS region,
             n.n_name AS nation,
             CAST(LEAST(GREATEST(FLOOR((c.c_acctbal + 1000.0) / 2200.0),
                                 0), 4) AS INTEGER) AS bal_bin,
             COALESCE(o.spend, CAST(0 AS DECIMAL(18,2))) AS spend
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      LEFT JOIN (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY o_custkey
      ) o ON o.o_custkey = c.c_custkey
"""


@_spec(
    "cem_att_building_segment",
    causal.cem_att_sql(
        _CEM_UNITS_SQL,
        "treated",
        "spend",
        ["region", "nation", "bal_bin"],
        ["region"],
    ),
    "causal op — Coarsened Exact Matching ATT of the BUILDING market "
    "segment on customer lifetime spend, matched within (nation x "
    "acctbal-quintile-bin) strata and reported per region: the "
    "design-based complement to the reference's weighted GLM "
    "(run_analysis.Rmd:80-99). No pairwise matching anywhere — CEM's "
    "strata turn 1:NN matching into two hash aggregates (O(strata) "
    "shuffle rows, outcome sums exact DECIMAL), which is why this is "
    "the matching estimator that survives 100 TB. Dimension joins "
    "broadcast; the orders rollup is the only corpus-sized shuffle.",
)
def cem_att_building_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    units = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            (F.col("c_mktsegment") == "BUILDING").alias("treated"),
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.least(
                F.greatest(
                    F.floor((F.col("c_acctbal") + 1000.0) / 2200.0), F.lit(0)
                ),
                F.lit(4),
            )
            .cast("int")
            .alias("bal_bin"),
            F.coalesce(
                F.col("spend"), F.lit(0).cast("decimal(18,2)")
            ).alias("spend"),
        )
    )
    return causal.cem_att(
        units, "treated", "spend", ["region", "nation", "bal_bin"], ["region"]
    )


_PAIRED_DAILY_SQL = """
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT)
             - CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
"""


@_spec(
    "wilcoxon_signed_rank_daily",
    evaluation.wilcoxon_signed_rank_sql(_PAIRED_DAILY_SQL.strip()),
    "stats op — Wilcoxon signed-rank on the per-day (click - "
    "purchase) count difference: the PAIRED complement to "
    "mann_whitney_click_purchase (days are natural blocks, so the "
    "paired test removes day-level volume variance). Differences are "
    "exact integers; doubled average ranks computed on the "
    "|d|->count aggregate keep 2*W+ and the tie term integer to the "
    "final z.",
)
def wilcoxon_signed_rank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    paired = (
        events.filter(F.col("event_type").isin(["click", "purchase"]))
        .groupBy(
            F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day")
        )
        .agg(
            (
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                ).cast("bigint")
                - F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                ).cast("bigint")
            ).alias("d")
        )
    )
    return evaluation.wilcoxon_signed_rank(paired)


_BLOCKS_DAILY_SQL = """
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""


@_spec(
    "friedman_event_type_ranks",
    evaluation.friedman_test_sql(
        _BLOCKS_DAILY_SQL.strip(), "day", "event_type", "c"
    ),
    "stats op — Friedman rank test: do the 5 event types keep the "
    "same volume ordering across days? (The nonparametric repeated-"
    "measures ANOVA; blocks = days.) Within-block doubled average "
    "ranks are exact integers from the day-partitioned RANK window "
    "plus tie counts — thousands of tiny windows, fully parallel; "
    "rank sums shuffle k rows.",
)
def friedman_event_type_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return evaluation.friedman_test(daily, "day", "event_type", "c")


# ──────────────────────────────────────────────────────────────────────────
# wave68
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "mahalanobis_outliers_2d",
    evaluation.mahalanobis_outliers_2d_sql(
        "lineitem", "l_quantity", "l_extendedprice"
    ),
    "stats op — bivariate Mahalanobis outlier audit over (quantity, "
    "extendedprice): the multivariate step up from the per-column "
    "robust family — the correlation term flags points unremarkable "
    "on each margin but far from the joint. All six moments are "
    "EXACT decimals, so per-row d^2 is bit-identical across engines "
    "and the chi2(2)-threshold outlier count is exact. Two scans, "
    "1-row moment broadcast.",
)
def mahalanobis_outliers_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return evaluation.mahalanobis_outliers_2d(
        li, "l_quantity", "l_extendedprice"
    )


@_spec(
    "partial_correlation_qty_price",
    evaluation.partial_correlation_sql(
        "lineitem", "l_quantity", "l_extendedprice", "l_discount"
    ),
    "stats op — first-order partial correlation r(quantity, price | "
    "discount): how much of the marginal association survives "
    "controlling for the discount confounder — the inference step "
    "correlation_matrix stops short of. Nine exact-decimal moments "
    "in ONE map-side-combined aggregate; one corpus scan total.",
)
def partial_correlation_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return evaluation.partial_correlation(
        li, "l_quantity", "l_extendedprice", "l_discount"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave69
# ──────────────────────────────────────────────────────────────────────────
from ..operators import stump as _stump


@_spec(
    "nelson_aalen_hazard",
    survival.nelson_aalen_sql(),
    "survival op — Nelson-Aalen cumulative hazard + Fleming-"
    "Harrington survival over the same censored-lifetime "
    "construction as kaplan_meier_retention: the small-risk-set-"
    "robust estimator and the standard Cox baseline input. Corpus "
    "reduces once to per-user lifetimes; all statistics live on the "
    "tiny distinct-lifetime table.",
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return survival.nelson_aalen(events)


@_spec(
    "decision_stump_totalprice",
    _stump.decision_stump_sql(
        "orders", "o_totalprice", "o_orderstatus = 'F'", 0.0, 600000.0
    ),
    "ML primitive — depth-1 CART split of o_totalprice for "
    "predicting order status 'F', found the way distributed GBDTs "
    "do it: 256 equi-width histogram bins in ONE corpus pass "
    "(map-side combined), prefix sums over the bin table, then every "
    "candidate boundary's weighted Gini from integer counts — no "
    "per-threshold rescan, no sort.",
)
def decision_stump_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return _stump.decision_stump(
        orders, "o_totalprice", "o_orderstatus = 'F'", 0.0, 600000.0
    )


@_spec(
    "trimmed_mean_price",
    """
    WITH v AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    r AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, l_orderkey, l_linenumber)
               AS rn
      FROM v
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
    SELECT t.n,
           t.n // 10 AS k_trim,
           ROUND(CAST(SUM(r.v) AS DOUBLE)
                 / (t.n - 2 * (t.n // 10)), 6) AS trimmed_mean
    FROM r CROSS JOIN t
    WHERE r.rn > t.n // 10 AND r.rn <= t.n - t.n // 10
    GROUP BY t.n
    """,
    "robust op — 10%-per-side trimmed mean of l_extendedprice: the "
    "robust-location complement to winsorized_price_stats (drop the "
    "tails instead of clamping them). Global positions come from the "
    "scale-out two-pass row_number (partition-local ranks + "
    "broadcast offsets, no single-task window); trimmed sums stay "
    "exact DECIMAL. Boundary ties are value-identical either side of "
    "the cut, so the trimmed sum is order-tie invariant.",
)
def trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    val = li.select(
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_global_row_number(
        val, ["v", "l_orderkey", "l_linenumber"], "rn"
    )
    tot = val.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    klo = F.floor(F.col("n") / F.lit(10)).cast("bigint")
    trimmed = ranked.crossJoin(F.broadcast(tot)).filter(
        (F.col("rn") > klo) & (F.col("rn") <= F.col("n") - klo)
    )
    return trimmed.groupBy("n").agg(
        F.floor(F.col("n") / F.lit(10)).cast("bigint").alias("k_trim"),
        F.round(
            F.sum("v").cast("double")
            / (
                F.col("n") - 2 * F.floor(F.col("n") / F.lit(10))
            ).cast("double"),
            6,
        ).alias("trimmed_mean"),
    ).select("n", "k_trim", "trimmed_mean")


@_spec(
    "effect_sizes_click_purchase",
    evaluation.effect_sizes_sql(
        "events", "event_type", "value", "click", "purchase"
    ),
    "stats op — Cohen's d / Hedges' g / Glass's delta for the click "
    "vs purchase value difference: the standardized-magnitude report "
    "the significance tests (welch_ttest, mann_whitney) deliberately "
    "do not give. Exact-decimal moments in one map-side-combined "
    "aggregate; ratios in double on bit-identical inputs.",
)
def effect_sizes_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return evaluation.effect_sizes(
        events, "event_type", "value", "click", "purchase"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave70
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "cramers_v_source_lang",
    evaluation.cramers_v_sql("documents", "source", "lang"),
    "stats op — Cramér's V with Bergsma bias correction over the "
    "source x lang contingency: the EFFECT-SIZE companion to "
    "chi_square_source_lang (chi2 says whether, V says how much, on "
    "[0,1]). One corpus aggregation; marginals, expecteds and the "
    "zero-cell-complete grid derive from the tiny contingency table.",
)
def cramers_v_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.cramers_v(docs, "source", "lang")


@_spec(
    "theils_u_source_lang",
    evaluation.theils_u_sql("documents", "source", "lang"),
    "stats op — Theil's uncertainty coefficient U(source|lang) and "
    "U(lang|source): the ASYMMETRIC association measure Cramér's V "
    "cannot give (one-directional dependence). Entropies and mutual "
    "information all from the one contingency aggregation.",
)
def theils_u_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.theils_u(docs, "source", "lang")


@_spec(
    "hellinger_click_purchase",
    evaluation.hellinger_binned_sql(
        "events", "event_type", "value", "click", "purchase", 0.0, 600.0
    ),
    "stats op — Hellinger distance between click and purchase value "
    "distributions over a 24-bin fixed histogram: the bounded-metric "
    "complement to psi_source_drift (PSI explodes on near-empty "
    "bins; Hellinger stays in [0,1]). Bin counts exact integers from "
    "ONE corpus aggregation.",
)
def hellinger_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return evaluation.hellinger_binned(
        events, "event_type", "value", "click", "purchase", 0.0, 600.0
    )


@_spec(
    "anderson_darling_doclen",
    evaluation.anderson_darling_2s_sql(
        "documents", "source", "LENGTH(text)", "src0", "src1"
    ),
    "stats op — two-sample Anderson-Darling (tie-adjusted midrank "
    "A2_akN) on document lengths of src0 vs src1: the tail-"
    "sensitive upgrade to ks_test_sources. Doubled midrank counts "
    "and the x4-scaled term numerators/denominators keep EVERY "
    "intermediate an exact bigint; one scan to the value->count "
    "table, prefix sums over distinct values.",
)
def anderson_darling_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.length("text").alias("doclen")
    )
    return evaluation.anderson_darling_2s(
        docs, "source", "doclen", "src0", "src1"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave73
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "cochrans_q_events",
    evaluation.cochrans_q_sql(
        "(SELECT user_id, event_type FROM events "
        "GROUP BY user_id, event_type HAVING COUNT(*) >= 3)",
        "user_id",
        "event_type",
    ),
    "stats op — Cochran's Q over the user x event-type presence "
    "matrix: the k-treatment generalization of McNemar for matched "
    "binary outcomes (did each user produce >= 3 of each event type "
    "— the ever-produced matrix is saturated on this data, which "
    "degenerates Q to 0/0). "
    "Expanded to the all-integer form (k-1)(k*sum C^2 - T^2)/"
    "(k*T - sum R^2), so only the final ratio is double. One scan "
    "to the distinct pair table, two tiny rollups.",
)
def cochrans_q_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    marked = (
        events.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 3)
        .select("user_id", "event_type")
    )
    return evaluation.cochrans_q(marked, "user_id", "event_type")


@_spec(
    "somers_d_qty_discount",
    evaluation.somers_d_sql(
        "lineitem",
        "CAST(l_quantity AS BIGINT)",
        "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)",
    ),
    "stats op — Goodman-Kruskal gamma and Somers' D between quantity "
    "and discount percent: ordinal-by-ordinal association that "
    "respects category ORDER (Cramér's V cannot). Concordant/"
    "discordant pair sums come from the tiny contingency grid "
    "cross-join — exact bigints; discount enters via an exact "
    "DECIMAL scale, never double*100 truncation.",
)
def somers_d_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("bigint")
        .alias("disc_pct"),
    )
    return evaluation.somers_d(li, "qty", "disc_pct")


_CR_MARK_A = "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) % 2 = 0"
_CR_MARK_B = "CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) % 2 = 1"
_CR_MARK_A_SPARK = (
    "cast(floor(unix_micros(ts) / 86400000000) as bigint) % 2 = 0"
)
_CR_MARK_B_SPARK = (
    "cast(floor(unix_micros(ts) / 86400000000) as bigint) % 2 = 1"
)


@_spec(
    "capture_recapture_users",
    "    WITH t AS (SELECT user_id, "
    + _CR_MARK_A
    + " AS ma, "
    + _CR_MARK_B
    + " AS mb FROM events)\n"
    + """
    , marks AS (
      SELECT user_id AS k,
             MAX(CAST(ma AS INTEGER)) AS a,
             MAX(CAST(mb AS INTEGER)) AS b
      FROM t GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(b) AS BIGINT) AS n2,
             CAST(SUM(a * b) AS BIGINT) AS m_both
      FROM marks
    )
    SELECT n1, n2, m_both,
           ROUND((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
                 / (CAST(m_both AS DOUBLE) + 1.0) - 1.0, 2) AS n_hat,
           ROUND(SQRT((CAST(n1 AS DOUBLE) + 1.0)
                      * (CAST(n2 AS DOUBLE) + 1.0)
                      * (CAST(n1 AS DOUBLE) - m_both)
                      * (CAST(n2 AS DOUBLE) - m_both)
                      / ((CAST(m_both AS DOUBLE) + 1.0)
                         * (CAST(m_both AS DOUBLE) + 1.0)
                         * (CAST(m_both AS DOUBLE) + 2.0))), 2) AS se
    FROM agg
    """,
    "estimation op — Chapman capture-recapture estimate of the "
    "distinct-user universe from two interleaved observation windows "
    "(even vs odd days): the ecology estimator reused to size a "
    "partially-observed population — with full overlap the estimate "
    "collapses to the true distinct count, the built-in sanity "
    "check. One scan to per-key marks; exact integers into two "
    "final ratios.",
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import capture_recapture

    events = load_table(spark, sf_dir, "events")
    return capture_recapture(
        events, "user_id", _CR_MARK_A_SPARK, _CR_MARK_B_SPARK
    )


@_spec(
    "chao1_vocab_estimate",
    """
    WITH toks AS (
      SELECT t AS k FROM (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
      ) WHERE t <> ''
    ),
    counts AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
    ),
    fof AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM counts
    )
    SELECT s_obs, f1, f2,
           ROUND(CAST(s_obs AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                   / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 2) AS chao1
    FROM fof
    """,
    "estimation op — Chao1 richness estimate of the corpus "
    "vocabulary: singleton/doubleton mass names the asymptote of "
    "vocab_growth_curve (how many types the corpus would reveal at "
    "infinite sampling), sharing its frequency-of-frequencies input "
    "with good_turing_smoothing. Bias-corrected form; exact "
    "integers into the final ratio.",
)
def chao1_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import chao1_richness

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return chao1_richness(toks, "tok")


# ──────────────────────────────────────────────────────────────────────────
# wave74
# ──────────────────────────────────────────────────────────────────────────
_KW_BLOCKS_SQL = """
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""


@_spec(
    "kendalls_w_event_types",
    evaluation.kendalls_w_sql(
        _KW_BLOCKS_SQL.strip(), "day", "event_type", "c"
    ),
    "stats op — Kendall's coefficient of concordance W (tie-"
    "corrected) across days ranking the 5 event types: the [0,1] "
    "EFFECT SIZE whose significance test is friedman_event_type_"
    "ranks. Doubled within-block ranks keep rank sums and tie terms "
    "exact bigints; the x4-scaled identity reduces the whole "
    "statistic to one integer ratio.",
)
def kendalls_w_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return evaluation.kendalls_w(daily, "day", "event_type", "c")


@_spec(
    "median_test_priority_price",
    evaluation.median_test_sql("orders", "o_orderpriority", "o_totalprice"),
    "stats op — Brown-Mood median test across the 5 order "
    "priorities: each order classified above/below the GRAND median "
    "(doubled-median order statistics, ties at the median dropped), "
    "k x 2 chi-square on exact counts. The assumption-free "
    "complement to kruskal_wallis (one bit per row instead of full "
    "ranks).",
)
def median_test_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.median_test(orders, "o_orderpriority", "o_totalprice")


# ──────────────────────────────────────────────────────────────────────────
# wave75
# ──────────────────────────────────────────────────────────────────────────
from ..operators import regression as _reg75


@_spec(
    "deming_regression_qty_price",
    _reg75.deming_regression_sql("lineitem", "l_quantity", "l_extendedprice"),
    "stats op — Deming (orthogonal / total-least-squares) regression "
    "of price on quantity: the errors-in-both-variables line OLS "
    "attenuates away, closed-form from five exact-decimal moments in "
    "one map-side-combined aggregate; reports the OLS slope and the "
    "attenuation ratio alongside. One corpus scan.",
)
def deming_regression_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _reg75.deming_regression(li, "l_quantity", "l_extendedprice")


# ──────────────────────────────────────────────────────────────────────────
# wave76
# ──────────────────────────────────────────────────────────────────────────
_CA_BLOCKS_SQL = """
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""


@_spec(
    "cronbachs_alpha_event_types",
    evaluation.cronbachs_alpha_sql(
        _CA_BLOCKS_SQL.strip(), "day", "event_type", "c"
    ),
    "stats op — Cronbach's alpha over days x event-type daily "
    "volumes: do the per-type series move together enough that "
    "total daily volume is a reliable single scale? Integer counts "
    "make every variance numerator an exact bigint (n*sum x^2 - "
    "(sum x)^2 form); complete blocks only, identical filter both "
    "engines.",
)
def cronbachs_alpha_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return evaluation.cronbachs_alpha(daily, "day", "event_type", "c")


# ──────────────────────────────────────────────────────────────────────────
# wave77: moment-based normality + ordered trend
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "jarque_bera_doclen",
    evaluation.jarque_bera_sql("documents", "LENGTH(text)"),
    "stats op — Jarque-Bera normality test on document lengths from "
    "four exact-bigint power sums (one map-side-combined aggregate): "
    "the moment-based gate beside the shape family "
    "(anderson_darling_doclen, qq_doclen_sources). Skewness/kurtosis "
    "expansion order spelled out identically in both engines.",
)
def jarque_bera_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.length("text").alias("doclen")
    )
    return evaluation.jarque_bera(docs, "doclen")


@_spec(
    "jonckheere_price_trend",
    evaluation.jonckheere_terpstra_sql(
        "orders",
        "CAST(substring(o_orderpriority, 1, 1) AS BIGINT)",
        "o_totalprice",
    ),
    "stats op — Jonckheere-Terpstra ordered-alternative trend test: "
    "does order price RISE with the priority code (1-URGENT .. "
    "5-LOW)? The directional upgrade to kruskal_wallis. Doubled "
    "Mann-Whitney counts over the tiny (group, value) contingency "
    "grid keep 2*JT an exact bigint; no-tie null moments documented "
    "identically in both engines.",
)
def jonckheere_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
        F.col("o_totalprice"),
    )
    return evaluation.jonckheere_terpstra(orders, "prio", "o_totalprice")


# ──────────────────────────────────────────────────────────────────────────
# wave81: finite-sample normality + variance battery + circular uniformity
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "dagostino_k2_doclen",
    evaluation.dagostino_k2_sql("documents", "LENGTH(text)"),
    "stats op — D'Agostino-Pearson K² omnibus normality on document "
    "lengths: the finite-sample-calibrated upgrade to "
    "jarque_bera_doclen (Johnson SU skew transform + Anscombe-Glynn "
    "cube-root kurtosis transform, every constant an exact integer "
    "polynomial in n). Same four exact-bigint power sums, one shared "
    "ln/sqrt/cbrt operation order.",
)
def dagostino_k2_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.length("text").alias("doclen")
    )
    return evaluation.dagostino_k2(docs, "doclen")


@_spec(
    "bartlett_priority_price",
    evaluation.bartlett_test_sql(
        "orders", "o_orderpriority", "o_totalprice"
    ),
    "stats op — Bartlett's likelihood-ratio homogeneity-of-variance "
    "test of order price across the five priorities: the normal-"
    "theory member of the variance battery beside "
    "levene_priority_price_spread's robust one. Exact DECIMAL group "
    "moments, k-row ln reduction.",
)
def bartlett_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return evaluation.bartlett_test(orders, "o_orderpriority", "o_totalprice")


@_spec(
    "kuiper_dow_events",
    evaluation.kuiper_uniformity_sql(
        """SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) % 7 AS INTEGER)
                  AS dow FROM events""",
        "dow",
        7,
    ),
    "stats op — Kuiper's V uniformity test on the event day-of-week "
    "cycle: the rotation-invariant circular complement to the KS "
    "family (a weekend bulge that straddles the week cut is "
    "invisible to D, visible to V = D+ + D-). Exact bigint cell "
    "counts; the cumulative pass runs over the 7-row rollup.",
)
def kuiper_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dow = events.select(
        (F.floor(F.unix_micros("ts") / F.lit(86400000000)) % 7)
        .cast("int")
        .alias("dow")
    )
    return evaluation.kuiper_uniformity(dow, "dow", 7)


# ──────────────────────────────────────────────────────────────────────────
# wave83: OLS influence diagnostics — Cook's distance, closed-form LOO
# (PRESS), VIF, ridge path (operators/regression.py wave-83 block)
# ──────────────────────────────────────────────────────────────────────────
from ..operators import regression as _reg83

_W83_KEYS = ("l_orderkey", "l_linenumber")


@_spec(
    "cooks_distance_influence",
    _reg83.cooks_influence_sql(
        "lineitem", "l_quantity", "l_extendedprice", _W83_KEYS
    ),
    "stats op — per-row OLS influence diagnostics (leverage, "
    "studentized residual, Cook's D) for extendedprice ~ quantity, "
    "top-20 by Cook's D: WHICH line items drive the fitted price "
    "curve, the influence.measures() companion to the reference's "
    "single GLM (SURVEY §2.12 M1). One sufficient-statistics "
    "aggregate broadcast back onto the scan + TakeOrdered — no hat "
    "matrix, no per-row refits, the fact table never shuffles.",
)
def cooks_distance_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _reg83.cooks_influence(
        li, "l_quantity", "l_extendedprice", _W83_KEYS
    )


@_spec(
    "press_loocv_r2",
    _reg83.press_loocv_sql("lineitem", "l_quantity", "l_extendedprice"),
    "stats op — leave-one-out cross-validation of the price~quantity "
    "OLS WITHOUT refitting: PRESS = sum (e_i/(1-h_i))^2 is an "
    "algebraic identity, so the honest predicted-R² costs two scans "
    "instead of n regressions — the difference between feasible and "
    "absurd at 100 TB. Output: n, in-sample r2, press_rmse, "
    "predicted_r2 — all INTENSIVE contracts (raw PRESS ~ n·y² was a "
    "sub-ULP ROUND target, the wave-118 rounding-magnitude hazard).",
)
def press_loocv_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _reg83.press_loocv(li, "l_quantity", "l_extendedprice")


_W83_VIF_COLS = ("l_discount", "l_extendedprice", "l_quantity")


@_spec(
    "vif_multicollinearity",
    _reg83.vif_three_sql("lineitem", _W83_VIF_COLS),
    "stats op — variance inflation factors for three lineitem "
    "covariates in closed form from the pairwise correlations "
    "(p=3 auxiliary-regression identity): multicollinearity "
    "screening as ONE nine-moment aggregate, not three fits. The "
    "car::vif companion a modeler runs before trusting coefficient "
    "signs.",
)
def vif_multicollinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _reg83.vif_three(li, _W83_VIF_COLS)


@_spec(
    "ridge_price_model",
    _reg83.ridge_two_feature_sql(
        "lineitem", "l_quantity", "l_discount", "l_extendedprice"
    ),
    "stats op — closed-form ridge path of extendedprice on "
    "(quantity, discount): (X'X + λI)β = X'y by 2×2 Cramer over "
    "centered sufficient statistics, the whole λ grid priced into "
    "ONE hash aggregate (the grid multiplies literals, not scans). "
    "λ=0 reproduces OLS exactly; coef_norm exposes the shrinkage "
    "path.",
)
def ridge_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _reg83.ridge_two_feature(
        li, "l_quantity", "l_discount", "l_extendedprice"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave84: engine-portable normal kernels — Bayesian A/B, power analysis,
# Gaussian rank correlation (operators/probability.py: Zelen-Severo Φ and
# Acklam Φ⁻¹ spelled identically in both engines)
# ──────────────────────────────────────────────────────────────────────────
from ..operators import probability as _prob84


@_spec(
    "bayes_ab_conversion",
    _prob84.bayes_ab_conversion_sql("purchase"),
    "experimentation op — Bayesian A/B conversion read-out on the "
    "deterministic even/odd user split: Beta(1,1) prior, "
    "moment-matched normal posterior, P(p_B > p_A) = Φ(Δμ/σ) via the "
    "Zelen-Severo polynomial CDF (|err| < 7.5e-8) inlined identically "
    "in both engines — the first p-value-grade probability in the "
    "suite without a sampling loop. One users-sized rollup; scan math "
    "after that.",
)
def bayes_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return _prob84.bayes_ab_conversion(events)


@_spec(
    "ab_power_analysis",
    _prob84.ab_power_analysis_sql("purchase"),
    "experimentation op — two-proportion sample-size planning off the "
    "OBSERVED baseline conversion: required users per arm at "
    "alpha=0.05/power=0.80 for an absolute-MDE grid, z quantiles as "
    "literals so no engine computes an inverse CDF. The whole grid "
    "prices off one per-user aggregate.",
)
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return _prob84.ab_power_analysis(events)


@_spec(
    "gaussian_rank_corr_daily",
    _prob84.gaussian_rank_correlation_sql(
        """SELECT CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue,
                  CAST(COUNT(*) AS DOUBLE) AS n_orders
           FROM orders GROUP BY 1""",
        "revenue",
        "n_orders",
    ),
    "stats op — Gaussian rank (normal-scores) correlation between "
    "daily revenue and daily order count: ranks -> Acklam Φ⁻¹ -> "
    "Pearson, the Gaussian-copula-consistent robust correlation "
    "Spearman isn't. Runs on the bounded daily rollup (the global "
    "rank window is days-sized, same discipline as newey_west_trend); "
    "daily revenue sums in exact DECIMAL so ranks cannot flip on "
    "summation order.",
)
def gaussian_rank_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        aggregates.money_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return _prob84.gaussian_rank_correlation(daily, "revenue", "n_orders")


# ──────────────────────────────────────────────────────────────────────────
# wave87: IPW / doubly-robust AIPW scoring pass (operators/causal.py)
# ──────────────────────────────────────────────────────────────────────────
from ..operators import causal as _causal87

#: frozen model artifacts for the scoring pass — in production these
#: come out of a fitting job (ml/glm.py IRLS); pinned as literals here
#: so the estimator is pure closed-form scan math in both engines
_IPW_LOGIT = (
    "-0.6 + 0.3 * (CAST(MONTH(o_orderdate) AS DOUBLE) / 6.0 - 1.0)"
    " + 0.2 * (CAST(o_custkey % 5 AS DOUBLE) / 2.0 - 1.0)"
)
_IPW_MU1 = "160000.0 + 2000.0 * CAST(o_custkey % 5 AS DOUBLE)"
_IPW_MU0 = "150000.0 + 1800.0 * CAST(o_custkey % 5 AS DOUBLE)"
_IPW_TREAT = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"


@_spec(
    "ipw_ate_order_priority",
    _causal87.ipw_ate_scored_sql(
        "SELECT o_custkey, o_orderdate, o_orderpriority, o_totalprice FROM orders",
        _IPW_TREAT,
        "o_totalprice",
        _IPW_LOGIT,
        _IPW_MU1,
        _IPW_MU0,
    ),
    "causal op — Hajek IPW and doubly-robust AIPW estimates of the "
    "urgent-priority effect on order value, across a propensity-trim "
    "grid, with the propensity logit and outcome means PINNED as "
    "frozen model artifacts (the production scoring pass; fitting "
    "lives in ml/glm.py). Closed-form scan math: one aggregate "
    "serves naive, IPW, AIPW, and Kish effective-sample-size columns "
    "for every trim level — the trim grid re-clips the same scan, "
    "never re-scans.",
)
def ipw_ate_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    treat = F.expr(_IPW_TREAT)
    logit = F.expr(_IPW_LOGIT)
    return _causal87.ipw_ate_scored(
        orders.select(
            treat.alias("__treat"),
            F.col("o_totalprice"),
            logit.alias("__logit_v"),
            F.expr(_IPW_MU1).alias("__mu1_v"),
            F.expr(_IPW_MU0).alias("__mu0_v"),
        ),
        "__treat",
        "o_totalprice",
        F.col("__logit_v"),
        F.col("__mu1_v"),
        F.col("__mu0_v"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave90: Wasserstein-1 drift + generalized-Pareto tail fit
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "wasserstein_doclen_drift",
    evaluation.wasserstein_1d_sql(
        "documents", "source", "n_chars", "src0", "src1"
    ),
    "stats op — Wasserstein-1 (earth mover) distance between the "
    "src0 and src1 document-length distributions, exact CDF-integral "
    "form on the merged integer support: one distinct-value rollup, "
    "one running-sum window, sum of |F_a - F_b| x support gaps. The "
    "drift number PSI/Hellinger can't give — it reads in the value's "
    "own units (characters of average shift) and needs no binning; "
    "the global window runs over DISTINCT lengths (bounded support), "
    "never rows.",
)
def wasserstein_doclen_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.wasserstein_1d(
        docs, "source", "n_chars", "src0", "src1"
    )


@_spec(
    "gpd_tail_fit_prices",
    _ts.gpd_tail_fit_sql("lineitem", "l_extendedprice", 95000.0),
    "stats op — peaks-over-threshold tail model: extendedprice "
    "exceedances over the pinned u=95000 threshold fitted to a "
    "Generalized Pareto by method of moments (Hosking-Wallis), plus "
    "the implied conditional tail expectation at 2u. The EVT "
    "complement to extreme_value_return_levels: POT uses every tail "
    "observation instead of one per block. One scan-stage aggregate; "
    "at scale the threshold comes off a KLL sketch first.",
)
def gpd_tail_fit_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _ts.gpd_tail_fit(li, "l_extendedprice", 95000.0)


# ──────────────────────────────────────────────────────────────────────────
# wave92: LMG relative importance (exact Shapley R² decomposition)
# ──────────────────────────────────────────────────────────────────────────
_W92_XS = ("l_discount", "l_quantity", "l_tax")


@_spec(
    "lmg_importance_price",
    _reg83.lmg_importance_sql("lineitem", _W92_XS, "l_extendedprice"),
    "stats op — exact LMG relative importance (relaimpo::lmg): each "
    "predictor's Shapley share of the full-model R² for "
    "extendedprice ~ (discount, quantity, tax), averaged over all 3! "
    "orderings — the collinearity-proof answer to 'which covariate "
    "matters most'. For p=3 every subset R² is closed-form in the "
    "pairwise correlations (Cramer on the 3x3 correlation matrix for "
    "the full model), so the whole decomposition is literal algebra "
    "over ONE 14-moment aggregate: no fits, no ordering enumeration, "
    "no second scan. Shares sum exactly to the full R² (pinned in "
    "tests).",
)
def lmg_importance_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _reg83.lmg_importance(li, _W92_XS, "l_extendedprice")


# ──────────────────────────────────────────────────────────────────────────
# wave93: RMST + Qini uplift deciles
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "rmst_retention",
    survival.rmst_sql(tau=14),
    "survival op — restricted mean survival time to tau=14 days: the "
    "area under the Kaplan-Meier retention curve, 'expected retained "
    "days in the first two weeks' — the censoring-proof single-number "
    "summary the plain mean lifetime isn't (Royston-Parmar). Step "
    "integration is a lag window over the days-sized KM table "
    "(bounded kernel); rides the same lifetimes rollup as "
    "kaplan_meier_retention.",
)
def rmst_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return survival.rmst(events, tau=14)


_QINI_UNITS_SQL = """
      SELECT user_id AS unit_id,
             CAST(user_id % 2 AS INTEGER) AS t,
             MAX(CASE WHEN event_type = 'purchase' AND value >= 200.0
                      THEN 1 ELSE 0 END) AS y,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS score
      FROM events GROUP BY user_id
"""


@_spec(
    "qini_uplift_deciles",
    evaluation.qini_uplift_deciles_sql(_QINI_UNITS_SQL),
    "experimentation op — Qini/uplift decile table: users ranked by "
    "an engagement score (click count — the candidate targeting "
    "signal), split into 10 NTILE buckets over a (score DESC, "
    "user_id) total order, cumulative treated/control conversions "
    "per bucket and the two standard curves (rate-gap uplift_at_k, "
    "absolute-scale qini_at_k). The read-out behind every uplift "
    "model: if the score targets well, early deciles carry the "
    "incremental conversions. Treatment is the deterministic "
    "even/odd split shared with bayes_ab_conversion; one users-sized "
    "rollup, then two 10-row windows.",
)
def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    units = events.groupBy(F.col("user_id").alias("unit_id")).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 200.0),
                1,
            ).otherwise(0)
        ).alias("y"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("score"),
    ).select(
        "unit_id",
        (F.col("unit_id") % 2).cast("int").alias("t"),
        "y",
        "score",
    )
    return evaluation.qini_uplift_deciles(units)


# ──────────────────────────────────────────────────────────────────────────
# wave94: Siegel repeated medians + Goodman-Kruskal lambda
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "siegel_repeated_medians_daily",
    _reg83.siegel_repeated_medians_sql(
        """SELECT CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS y
           FROM orders GROUP BY 1"""
    ),
    "stats op — Siegel repeated-medians trend of daily revenue: slope "
    "= median over days of (median of pairwise slopes through that "
    "day), intercept = median of residual offsets. Breakdown point "
    "50% — twice Theil-Sen's, the strongest simple robust line: half "
    "the days can be corrupt and the trend stands. The pair stage is "
    "the bounded daily-rollup self-join (n = days, never rows); both "
    "median passes are exact interpolated percentiles.",
)
def siegel_repeated_medians_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return _reg83.siegel_repeated_medians(daily, "day", "y")


@_spec(
    "gk_lambda_source_lang",
    evaluation.gk_lambda_sql("documents", "source", "lang"),
    "stats op — Goodman-Kruskal lambda on the source x lang "
    "contingency: the proportional-reduction-in-error association "
    "measure (how much knowing source shrinks the error of guessing "
    "lang's mode, both directions + the symmetric form). The PRE "
    "complement to chi2/Cramers-V/Theils-U already in the suite: "
    "exactly 0 when the feature never changes the modal guess — the "
    "baseline-beating question a modeler actually asks. Exact "
    "integer cell counts, three tiny rollups.",
)
def gk_lambda_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return evaluation.gk_lambda(docs, "source", "lang")


# ──────────────────────────────────────────────────────────────────────────
# wave95: Chatterjee's ξ + distance correlation
# ──────────────────────────────────────────────────────────────────────────

_DAILY_REV_SQL_W95 = """SELECT CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue
           FROM orders GROUP BY 1"""

_WEEKLY_NORM_SQL_W95 = """WITH weekly AS (
      SELECT CAST(FLOOR(date_diff('day', DATE '1990-01-01',
                                  CAST(o_orderdate AS DATE)) / 7)
                  AS BIGINT) AS week,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    )
    SELECT CAST(rev_d AS DOUBLE) * CAST(COUNT(*) OVER () AS DOUBLE)
             / CAST(SUM(rev_d) OVER () AS DOUBLE) AS rev_n,
           CAST(cnt AS DOUBLE) * CAST(COUNT(*) OVER () AS DOUBLE)
             / CAST(SUM(cnt) OVER () AS DOUBLE) AS cnt_n
    FROM weekly"""


@_spec(
    "chatterjee_xi_daily",
    _prob84.chatterjee_xi_sql(_DAILY_REV_SQL_W95, "day", "revenue"),
    "stats op — Chatterjee's ξ (JASA 2020) of daily revenue as a "
    "function of the day index: the rank coefficient that is 0 iff "
    "independent and 1 iff y is a measurable function of x, monotone "
    "or NOT — the feature-screen question Pearson/Spearman/Kendall/"
    "Gaussian-rank (all already in the suite) cannot answer on a "
    "non-monotone signal. Ties-robust RANK() form, no RANGE frames; "
    "the global rank windows run on the bounded daily rollup, same "
    "discipline as gaussian_rank_corr_daily; daily revenue sums in "
    "exact DECIMAL so ranks cannot flip on summation order.",
)
def chatterjee_xi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return _prob84.chatterjee_xi(daily, "day", "revenue")


@_spec(
    "distance_corr_weekly",
    _prob84.distance_correlation_sql(
        _WEEKLY_NORM_SQL_W95, "rev_n", "cnt_n"
    ),
    "stats op — Székely-Rizzo distance correlation between weekly "
    "revenue and weekly order count: dCor = 0 iff INDEPENDENT (a "
    "strictly stronger null than Pearson's), sensitive to any "
    "dependence shape, via the V-statistic identity dCov² = S1 + S2 "
    "− 2·S3 over pair distances. The pair stage is the bounded "
    "weekly-rollup self-join (n = weeks, never rows — ~360² pairs); "
    "both series are mean-normalized with DECIMAL-exact totals so "
    "every pair term is O(1) and the n² float sums sit well inside "
    "the round-to-6 cross-engine contract.",
)
def distance_corr_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.floor(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1990-01-01").cast("date"),
            )
            / 7
        )
        .cast("bigint")
        .alias("week")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    w_all = Window.partitionBy()
    n_weeks = F.count(F.lit(1)).over(w_all).cast("double")
    norm = weekly.select(
        (
            F.col("rev_d").cast("double")
            * n_weeks
            / F.sum("rev_d").over(w_all).cast("double")
        ).alias("rev_n"),
        (
            F.col("cnt").cast("double")
            * n_weeks
            / F.sum("cnt").over(w_all).cast("double")
        ).alias("cnt_n"),
    )
    return _prob84.distance_correlation(norm, "rev_n", "cnt_n")


# ──────────────────────────────────────────────────────────────────────────
# wave96: multi-rater agreement — Fleiss' κ + Krippendorff's α
# ──────────────────────────────────────────────────────────────────────────

_G1_SQL_W96 = (
    "CASE WHEN COALESCE(n_chars, 0) >= 300 THEN 'pass' ELSE 'fail' END"
)
_G2_SQL_W96 = (
    "CASE WHEN len(regexp_extract_all(COALESCE(text, ''), '\\S+')) >= 55 "
    "THEN 'pass' ELSE 'fail' END"
)
_G3_COND_W96 = (
    "LENGTH(COALESCE(text, '')) "
    "- LENGTH(REPLACE(COALESCE(text, ''), '.', '')) >= 3"
)
_G3_SQL_W96 = f"CASE WHEN {_G3_COND_W96} THEN 'pass' ELSE 'fail' END"
_G3_MISS_SQL_W96 = (
    f"CASE WHEN doc_id % 7 = 0 THEN NULL "
    f"WHEN {_G3_COND_W96} THEN 'pass' ELSE 'fail' END"
)


def _w96_gates():
    text = F.coalesce(F.col("text"), F.lit(""))
    g1 = F.when(
        F.coalesce(F.col("n_chars"), F.lit(0)) >= 300, F.lit("pass")
    ).otherwise(F.lit("fail"))
    g2 = F.when(
        F.regexp_count(text, F.lit(r"\S+")) >= 55, F.lit("pass")
    ).otherwise(F.lit("fail"))
    g3_cond = (
        F.length(text) - F.length(F.replace(text, F.lit("."), F.lit("")))
        >= 3
    )
    g3 = F.when(g3_cond, F.lit("pass")).otherwise(F.lit("fail"))
    g3_miss = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("string"))
        .when(g3_cond, F.lit("pass"))
        .otherwise(F.lit("fail"))
    )
    return g1, g2, g3, g3_miss


@_spec(
    "fleiss_kappa_gates",
    evaluation.fleiss_kappa_sql(
        "documents",
        "doc_id",
        [_G1_SQL_W96, _G2_SQL_W96, _G3_SQL_W96],
    ),
    "eval op — Fleiss' kappa among THREE document quality gates "
    "(char-length >= 300, word-count >= 55, sentence-count >= 3 via "
    "period count): the multi-rater generalization of the suite's "
    "two-rater cohens_kappa_gates. Melt -> exact integer n_ij "
    "rollups; P_i = (sum n_ij^2 - m)/(m(m-1)); one double division "
    "at the end, everything before it order-proof integers.",
)
def fleiss_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g1, g2, g3, _ = _w96_gates()
    return evaluation.fleiss_kappa(docs, "doc_id", [g1, g2, g3])


@_spec(
    "krippendorff_alpha_gates",
    evaluation.krippendorff_alpha_nominal_sql(
        "documents",
        "doc_id",
        [_G1_SQL_W96, _G2_SQL_W96, _G3_MISS_SQL_W96],
    ),
    "eval op — Krippendorff's alpha (nominal) over the same three "
    "gates with the third rater ABSTAINING on every doc_id % 7 == 0 "
    "document: the agreement coefficient built for missing ratings, "
    "which Fleiss' kappa cannot absorb. Per-item m_i from the "
    "NULL-dropped melt, disagreeing-pair mass (m_i^2 - sum n_ic^2)/"
    "(m_i - 1) — exact small rationals, so the cross-engine double "
    "sum is exact — and one closing division.",
)
def krippendorff_alpha_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g1, g2, _, g3_miss = _w96_gates()
    return evaluation.krippendorff_alpha_nominal(
        docs, "doc_id", [g1, g2, g3_miss]
    )


# ──────────────────────────────────────────────────────────────────────────
# wave97: misspecification battery — White test + Ramsey RESET
# ──────────────────────────────────────────────────────────────────────────
from ..operators import regression as _reg97

_DAILY_Y_SQL_W97 = """SELECT CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS y
           FROM orders GROUP BY 1"""


@_spec(
    "white_test_daily",
    _reg97.white_test_sql(_DAILY_Y_SQL_W97),
    "stats op — White's general heteroskedasticity test on the "
    "daily-revenue trend fit: auxiliary regression of squared "
    "residuals on (u, u^2), LM = n*R^2 ~ chi2(2). The strictly "
    "stronger sibling of breusch_pagan_daily: BP's linear auxiliary "
    "misses variance that swells at BOTH ends of the sample; the "
    "quadratic term catches it, assumption-free. Regressor scaled to "
    "[-1,1] with an integer numerator and y mean-normalized, so the "
    "closed-form 2x2 normal equations stay conditioned and every "
    "moment is O(days) and cross-engine stable.",
)
def white_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return _reg97.white_test(daily)


@_spec(
    "ramsey_reset_daily",
    _reg97.ramsey_reset_sql(_DAILY_Y_SQL_W97),
    "stats op — Ramsey RESET on the daily-revenue trend: the joint "
    "F-test that adding powers of the fitted values improves the "
    "linear fit more than chance — THE standard functional-form "
    "misspecification check (is a straight line even the right "
    "model?), absent from the trend battery until now. With one "
    "regressor span(1,u,yhat^2,yhat^3) = span(1,u,u^2,u^3), so the "
    "test runs in the conditioned polynomial basis on u in [-1,1]; "
    "explicit symmetric 3x3 inverse, one O(days) aggregate pass.",
)
def ramsey_reset_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return _reg97.ramsey_reset(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave99: spatial autocorrelation — Moran's I + Getis-Ord Gi*
# ──────────────────────────────────────────────────────────────────────────

#: the COMPLETE 12x72 5-degree lattice over the synthetic customer
#: coordinate domain, zero-filled — absent cells would silently change
#: the contiguity weight structure of both statistics
_CELLS_SQL_W99 = """SELECT l.range AS ci, m.range AS cj,
           COALESCE(c.x, 0) AS x
    FROM range(0, 12) l
    CROSS JOIN range(0, 72) m
    LEFT JOIN (
      SELECT CAST(FLOOR(((c_custkey * 37) % 120) / 10.0) AS BIGINT) AS ci,
             CAST(FLOOR(((c_custkey * 73) % 720) / 10.0) AS BIGINT) AS cj,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM customer GROUP BY 1, 2
    ) c ON c.ci = l.range AND c.cj = m.range"""


def _w99_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy(
        F.floor(((F.col("c_custkey") * 37) % 120) / 10.0)
        .cast("bigint")
        .alias("ci"),
        F.floor(((F.col("c_custkey") * 73) % 720) / 10.0)
        .cast("bigint")
        .alias("cj"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    lattice = (
        spark.range(12)
        .select(F.col("id").alias("ci"))
        .crossJoin(spark.range(72).select(F.col("id").alias("cj")))
    )
    return lattice.join(counts, ["ci", "cj"], "left").select(
        "ci", "cj", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )


@_spec(
    "moran_i_customer_grid",
    spatial.moran_i_queen_sql(_CELLS_SQL_W99),
    "spatial op — global Moran's I of customer counts over the "
    "complete 5-degree cell lattice (queen contiguity, binary "
    "weights): the spatial-autocorrelation read-out grid_density_"
    "hotspots cannot give — are dense cells NEXT TO each other "
    "(clustered), random, or checkerboard-dispersed? Exact integer "
    "pair sums via the offset-explode equi-join (no nested-loop "
    "non-equi join), plus E[I] and the z-score under normality "
    "(S1 = 2W, S2 = 4*sum deg^2). Grid-rollup-first: O(cells), "
    "never O(points^2), at any corpus size.",
)
def moran_i_customer_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.moran_i_queen(_w99_cells(spark, sf_dir))


@_spec(
    "getis_ord_hotspots",
    spatial.getis_ord_gstar_sql(_CELLS_SQL_W99),
    "spatial op — Getis-Ord Gi* hot-spot z-scores on the same "
    "lattice: WHERE the clustering is, the local complement to "
    "moran_i_customer_grid's single global number. Standardized "
    "3x3-block neighborhood sums (self included, edge cells keep "
    "smaller blocks), exact integer sums, top-10 hottest cells with "
    "deterministic gi-desc/cell tie-break ordering.",
)
def getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.getis_ord_gstar(_w99_cells(spark, sf_dir))


# ──────────────────────────────────────────────────────────────────────────
# wave102: survey estimation — jackknife + Horvitz-Thompson
# ──────────────────────────────────────────────────────────────────────────
from ..operators import survey as _survey102


@_spec(
    "jackknife_aov_se",
    _survey102.jackknife_ratio_variance_sql(
        """SELECT CAST(FLOOR(date_diff('day', DATE '1990-01-01',
                                      CAST(o_orderdate AS DATE)) / 30.0)
                      AS BIGINT) AS grp,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS num,
                  1 AS den
           FROM orders""",
        "grp",
        "num",
        "den",
    ),
    "survey op — delete-one-month jackknife standard error for "
    "average order value (a RATIO statistic, Σprice/Σorders, whose "
    "per-row variance formula doesn't exist): each replicate is the "
    "totals-minus-group ratio of DECIMAL/bigint sums, so every "
    "θ_(-g) is the identical double in both engines; se² = "
    "(G-1)/G · Σ(θ_(-g) - θ̄)² plus the jackknife bias estimate. One "
    "rollup + a broadcast of the ~80-row replicate table — the "
    "grouped-jackknife pattern prices ANY nonlinear statistic's SE "
    "at one extra tiny aggregate.",
)
def jackknife_aov_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.floor(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1990-01-01").cast("date"),
            )
            / 30.0
        )
        .cast("bigint")
        .alias("grp"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("num"),
        F.lit(1).alias("den"),
    )
    return _survey102.jackknife_ratio_variance(base, "grp", "num", "den")


@_spec(
    "horvitz_thompson_revenue",
    _survey102.horvitz_thompson_total_sql(
        "orders",
        "o_orderkey",
        "o_totalprice",
        "CAST(o_totalprice AS DECIMAL(18,2)) >= 200000",
    ),
    "survey op — Horvitz-Thompson revenue total under deterministic "
    "two-stratum Poisson sampling (π = 0.5 for orders ≥ 200k, 0.1 "
    "below — size-biased, the design that keeps a ~15% sample "
    "unbiased for the population total). Inclusion is the portable "
    "md5 uniform, so both engines draw the identical sample; with "
    "π ∈ {0.1, 0.5}, y/π and y²(1-π)/π² are exact DECIMAL multiples "
    "(×10/×2, ×90/×2) — the whole estimator aggregates exactly and "
    "casts to double once. Reports the realized relative error and "
    "the Poisson design SE.",
)
def horvitz_thompson_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return _survey102.horvitz_thompson_total(
        orders,
        "o_orderkey",
        "o_totalprice",
        F.col("o_totalprice").cast("decimal(18,2)") >= 200000,
    )


# ──────────────────────────────────────────────────────────────────────────
# wave103: Hoeffding's D + Blomqvist's β
# ──────────────────────────────────────────────────────────────────────────

_DAILY_REV_CNT_SQL_W103 = """SELECT CAST(date_diff('day', DATE '1990-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue,
                  CAST(COUNT(*) AS DOUBLE) AS n_orders
           FROM orders GROUP BY 1"""


def _w103_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )


@_spec(
    "hoeffding_d_daily",
    _prob84.hoeffding_d_sql(
        _DAILY_REV_CNT_SQL_W103, "revenue", "n_orders"
    ),
    "stats op — Hoeffding's D between daily revenue and daily order "
    "count: the classical rank test of independence against ANY "
    "alternative — distance correlation's power with pure-rank "
    "robustness (monotone-invariant, outlier-proof) and classical "
    "half-credit tie handling (order counts tie heavily). The whole "
    "statistic is exact integer arithmetic — doubled mid-ranks, "
    "quadrupled quadrant credits, bigint D1/D2/D3 in sixteenths — "
    "until one closing division; the pair stage is the bounded "
    "daily-rollup self-join.",
)
def hoeffding_d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prob84.hoeffding_d(
        _w103_daily(spark, sf_dir), "revenue", "n_orders"
    )


@_spec(
    "blomqvist_beta_daily",
    _prob84.blomqvist_beta_sql(
        _DAILY_REV_CNT_SQL_W103, "revenue", "n_orders"
    ),
    "stats op — Blomqvist's β (medial correlation) between daily "
    "revenue and order count: quadrant agreement around the two "
    "medians, the coarsest outlier-proof dependence sign. Medians "
    "are the shared exact interpolated percentile (Spark percentile "
    "= DuckDB quantile_cont) so both engines cut the plane at "
    "identical doubles; on-median points excluded per the classical "
    "convention; exact integer quadrant counts, one division.",
)
def blomqvist_beta_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _prob84.blomqvist_beta(
        _w103_daily(spark, sf_dir), "revenue", "n_orders"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave104: diversity estimation — ACE richness + Chao-Shen entropy
# ──────────────────────────────────────────────────────────────────────────
from ..operators.sketches import (
    ace_richness,
    ace_richness_sql,
    chao_shen_entropy,
    chao_shen_entropy_sql,
)

#: the UNIGRAM vocabulary of the synthetic corpus is a closed ~31-word
#: pool with no rare tail (every estimator degenerates: n_rare = 0), so
#: the "species" here are token BIGRAMS — ~900 types with a genuine
#: singleton/rare tail at every SF
_TOKS_SQL_W104 = """(SELECT a.w || ' ' || b.w AS k
     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents) a
     JOIN (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents) b
       ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
     WHERE a.w <> '' AND b.w <> '')"""


def _w104_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    a = t.select(
        F.col("doc_id").alias("da"),
        F.col("pos").alias("pa"),
        F.col("w").alias("wa"),
    )
    b = t.select(
        F.col("doc_id").alias("db"),
        F.col("pos").alias("pb"),
        F.col("w").alias("wb"),
    )
    return (
        a.join(
            b,
            (F.col("db") == F.col("da")) & (F.col("pb") == F.col("pa") + 1),
        )
        .filter((F.col("wa") != "") & (F.col("wb") != ""))
        .select(
            F.concat(F.col("wa"), F.lit(" "), F.col("wb")).alias("tok")
        )
    )


@_spec(
    "ace_vocab_estimate",
    ace_richness_sql(_TOKS_SQL_W104, "k"),
    "estimation op — ACE (abundance-based coverage estimator) of the "
    "corpus BIGRAM vocabulary (the unigram pool is closed, ~31 words, "
    "no rare tail — bigrams carry a genuine singleton tail): where "
    "chao1_vocab_estimate prices the unseen "
    "mass from singletons/doubletons alone, ACE uses the WHOLE rare "
    "tail (freq <= 10) with a Good-Turing coverage correction and a "
    "CV adjustment for heterogeneous type abundances — the estimator "
    "of record when doubleton counts are noisy. Exact integer "
    "frequency-of-frequency sums; three closing divisions.",
)
def ace_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ace_richness(_w104_toks(spark, sf_dir), "tok")


@_spec(
    "chao_shen_entropy_vocab",
    chao_shen_entropy_sql(_TOKS_SQL_W104, "k"),
    "estimation op — Chao-Shen coverage-adjusted Shannon entropy of "
    "the token distribution: the plug-in entropy is biased LOW "
    "exactly when the tail is unseen; Chao-Shen shrinks each "
    "probability by Good-Turing coverage and Horvitz-Thompson-"
    "weights each term by its detection probability 1-(1-Cp)^n. "
    "Reports plug-in and adjusted side by side — the gap IS the "
    "unseen-tail correction. One frequency rollup, one vocabulary-"
    "sized sum; the power term is exp(n*ln(1-Cp)) spelled "
    "identically in both engines.",
)
def chao_shen_entropy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chao_shen_entropy(_w104_toks(spark, sf_dir), "tok")


# ──────────────────────────────────────────────────────────────────────────
# wave106: Brunner-Munzel + Fligner-Killeen
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "brunner_munzel_click_purchase",
    evaluation.brunner_munzel_sql(
        "events", "event_type", "value", "click", "purchase"
    ),
    "stats op — Brunner-Munzel generalized Wilcoxon test on click vs "
    "purchase event values: tests P(X<Y) + 0.5*P(X=Y) = 0.5 WITHOUT "
    "Mann-Whitney's hidden equal-rank-variance assumption — the "
    "Behrens-Fisher problem in rank space, the right default when "
    "spreads differ. Same doubled-mid-rank exactness discipline as "
    "mann_whitney_click_purchase: per-observation rank deviations "
    "are integer constants per distinct value, rank variances come "
    "from exact bigint power sums, ranks computed on the value-count "
    "rollup, never per row.",
)
def brunner_munzel_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return evaluation.brunner_munzel(
        events, "event_type", "value", "click", "purchase"
    )


@_spec(
    "fligner_killeen_priority_price",
    evaluation.fligner_killeen_sql("orders", "o_orderpriority", "o_totalprice"),
    "stats op — Fligner-Killeen scale-homogeneity test of order "
    "totals across the five priorities: ranks of |x - group median| "
    "mapped through the shared Acklam normal scores, FK ~ chi2(k-1) "
    "— the most outlier-resistant member of the variance-equality "
    "family next to levene_priority_price_spread (median-centered "
    "raw deviations) and bartlett_priority_price (normal-theory). "
    "Group medians are the shared exact interpolated percentile; "
    "doubled mid-ranks are integers off the distinct-|dev| rollup.",
)
def fligner_killeen_priority_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.fligner_killeen(orders, "o_orderpriority", "o_totalprice")


# ──────────────────────────────────────────────────────────────────────────
# wave109: Fisher LDA + inclusion-dependency discovery
# ──────────────────────────────────────────────────────────────────────────
from ..ml.lda import lda_two_feature, lda_two_feature_sql
from ..operators.profiling import (
    inclusion_dependency_report,
    inclusion_dependency_report_sql,
)

_IND_PAIRS_W109 = [
    ("cust.nation_in_nation", "customer", "c_nationkey", "nation",
     "n_nationkey"),
    ("custkey_in_orders_rev", "customer", "c_custkey", "orders",
     "o_custkey"),
    ("events.user_in_customer", "events", "user_id", "customer",
     "c_custkey"),
    ("li.order_in_orders", "lineitem", "l_orderkey", "orders",
     "o_orderkey"),
    ("li.part_in_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("li.supp_in_supplier", "lineitem", "l_suppkey", "supplier",
     "s_suppkey"),
    ("orders.cust_in_customer", "orders", "o_custkey", "customer",
     "c_custkey"),
]


@_spec(
    "lda_returnflag_axis",
    lda_two_feature_sql(
        "lineitem",
        "l_returnflag = 'R'",
        "CAST(l_quantity AS DECIMAL(18,2))",
        "CAST(l_discount AS DECIMAL(18,2))",
    ),
    "ml op — closed-form Fisher LDA on (quantity, discount) "
    "predicting returned lineitems: pooled within-class scatter from "
    "exact per-class moments, axis w = Sw^-1 * dmu via the explicit "
    "2x2 inverse, midpoint threshold, Fisher criterion J, and exact "
    "comparison-counted training accuracy. The missing classical "
    "member between nbayes (independence), the decision stump "
    "(single split) and the IRLS GLM (iterative) — Bayes-optimal "
    "under shared-covariance Gaussians and fully closed form: one "
    "moments pass + one scoring scan, no iteration at any scale.",
)
def lda_returnflag_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both features are 2-decimal measures: as DECIMAL their moments are
    # exact, order-free sums (aggregates.MONEY)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast(aggregates.MONEY).alias("l_quantity"),
        F.col("l_discount").cast(aggregates.MONEY).alias("l_discount"),
    )
    return lda_two_feature(
        li, F.col("l_returnflag") == "R", "l_quantity", "l_discount"
    )


@_spec(
    "inclusion_dependency_sweep",
    inclusion_dependency_report_sql(_IND_PAIRS_W109),
    "profiling op — inclusion-dependency discovery over a 7-pair "
    "candidate battery (the TPC-H FK lattice + the reverse direction "
    "+ the cross-dataset events.user_id -> customer probe): distinct "
    "projections, LEFT ANTI violations, exact coverage. Completes "
    "the classical profiling trio next to key_candidate_orders "
    "(UCCs) and functional_dependency_parts (FDs) — the joinability "
    "map a schema-less lake needs before trusting any join; value "
    "SETS shuffle, never fact rows.",
)
def inclusion_dependency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        name: load_table(spark, sf_dir, name)
        for name in (
            "customer", "nation", "orders", "events", "lineitem",
            "part", "supplier",
        )
    }
    pairs = [
        (label, tables[ta], ca, tables[tb], cb)
        for label, ta, ca, tb, cb in _IND_PAIRS_W109
    ]
    return inclusion_dependency_report(pairs)


# ──────────────────────────────────────────────────────────────────────────
# wave111: two-sample battery — Cramér-von Mises + BWS
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "cvm_two_sample_priority",
    evaluation.cramer_von_mises_2s_sql(
        "orders", "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    ),
    "stats op — two-sample Cramér-von Mises test of urgent vs low "
    "priority order totals: integrates the SQUARED gap between the "
    "empirical CDFs where ks_test takes only the largest single gap "
    "— CvM sees distributed small differences KS misses. U is an "
    "exact bigint from (combined rank - within rank)^2 sums; ranks "
    "come from the deduplicated value-block rollup with an exploded "
    "tie expansion, so duplicate money values cannot scramble the "
    "rank pairing across engines.",
)
def cvm_two_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.cramer_von_mises_2s(
        orders, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


@_spec(
    "bws_two_sample_priority",
    evaluation.bws_test_sql(
        "orders", "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    ),
    "stats op — Baumgartner-Weiss-Schindler test on the same pair: "
    "the CDF-gap integral weighted by its inverse null variance, so "
    "the TAILS — where KS and CvM are least sensitive — count most; "
    "the B statistic's null distribution is nearly sample-size-free "
    "(5% near 2.49). Every term is a rational of exact integer "
    "ranks off the shared deterministic tie-expanded rollup.",
)
def bws_two_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.bws_test(
        orders, "o_orderpriority", "o_totalprice", "1-URGENT", "5-LOW"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave112: KM Greenwood confidence bands
# ──────────────────────────────────────────────────────────────────────────
from ..operators.survival import km_greenwood_ci, km_greenwood_ci_sql


@_spec(
    "km_greenwood_bands",
    km_greenwood_ci_sql(),
    "survival op — Kaplan-Meier retention with Greenwood variance "
    "and the log(-log) 95% band: the uncertainty "
    "kaplan_meier_retention's point curve doesn't carry, in the "
    "transform every survival package defaults to because it "
    "respects [0,1] (a plain +-z*se band crosses 1 near the origin). "
    "Same lifetimes/risk-set rollup as KM; the z quantile is a "
    "literal (probability.py rule); S in {0,1} yields NULL bands, "
    "the standard convention.",
)
def km_greenwood_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return km_greenwood_ci(events)


# ──────────────────────────────────────────────────────────────────────────
# wave113: Shapiro-Francia W' + Grubbs outlier test
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "shapiro_francia_daily",
    _prob84.shapiro_francia_sql(_DAILY_Y_SQL_W97, "y"),
    "stats op — Shapiro-Francia W' normality test of daily revenue: "
    "squared correlation between the order statistics and their Blom "
    "normal scores through the shared Acklam inverse CDF — the "
    "correlation-based normality family member that IS computable "
    "distributed (Shapiro-Wilk's exact coefficients need the full "
    "covariance matrix; W' needs one rank window). The "
    "Q-Q-straightness complement to the moment-based Jarque-Bera/"
    "D'Agostino and EDF-based Anderson-Darling specs.",
)
def shapiro_francia_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return _prob84.shapiro_francia(daily, "y")


@_spec(
    "grubbs_daily_outlier",
    _prob84.grubbs_test_sql(_DAILY_Y_SQL_W97, "day", "y"),
    "stats op — Grubbs' maximum-normed-residual test on daily "
    "revenue: G = max|y - mean|/s with the (n-1) denominator, plus "
    "the flagged day — the FORMAL single-outlier test behind the "
    "z-score/IQR screens (anomaly_days_zscore, robust_outliers_iqr) "
    "that have no sampling distribution. Exact moment sums, one "
    "scan + a tiny argmax window, smallest-day tie-break.",
)
def grubbs_daily_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return _prob84.grubbs_test(daily, "day", "y")


# ──────────────────────────────────────────────────────────────────────────
# wave114: Kendall tau-b + Stuart tau-c
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "ordinal_tau_qty_discount",
    evaluation.ordinal_tau_sql(
        "lineitem",
        "CAST(l_quantity AS BIGINT)",
        "CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)",
    ),
    "stats op — Kendall's tau-b and Stuart's tau-c between quantity "
    "and discount percent: the two ordinal-association members "
    "somers_d_qty_discount's (gamma, D_yx) doesn't carry — tau-b "
    "corrects by BOTH margins' ties (symmetric, cannot reach +-1 on "
    "off-square tables), tau-c rescales by the table shape so a "
    "perfect monotone relation scores +-1 on any r x c grid. Same "
    "tiny contingency cross-join, exact bigints, one closing "
    "expression each.",
)
def ordinal_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_discount").cast("decimal(4,2)") * 100)
        .cast("bigint")
        .alias("disc_pct"),
    )
    return evaluation.ordinal_tau(li, "qty", "disc_pct")


# ──────────────────────────────────────────────────────────────────────────
# wave115: Welch ANOVA + Qn robust scale
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "welch_anova_priority_price",
    evaluation.welch_anova_sql("orders", "o_orderpriority", "o_totalprice"),
    "stats op — Welch's heteroskedastic one-way ANOVA plus the "
    "Brown-Forsythe F* on order totals across priorities: the mean-"
    "equality tests that stay valid when variances differ — "
    "anova_f_priority_price assumes they don't, and bartlett/levene/"
    "fligner exist precisely to detect when that fails; this is the "
    "test to run when they fire. Closed-form arithmetic over "
    "per-group DECIMAL/bigint moments; one rollup + a k-row combine "
    "+ a broadcast for Welch's Lambda.",
)
def welch_anova_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return evaluation.welch_anova(orders, "o_orderpriority", "o_totalprice")


@_spec(
    "qn_scale_daily",
    timeseries.qn_scale_sql(_DAILY_Y_SQL_W97),
    "stats op — Rousseeuw-Croux Qn scale of daily revenue: the k-th "
    "order statistic of pairwise distances (k = C(h,2), h = n/2+1) "
    "times 2.2219 — 50% breakdown WITH 82% Gaussian efficiency and "
    "no symmetry assumption, reported beside 1.4826*MAD and the "
    "classical SD so the three scales' disagreement IS the outlier/"
    "asymmetry read-out. The pair stage is the bounded daily-rollup "
    "self-join; an order STATISTIC is a value, so tie order cannot "
    "change it.",
)
def qn_scale_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1990-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("y")
    )
    return timeseries.qn_scale(daily)


# ──────────────────────────────────────────────────────────────────────────
# wave116: second-digit Benford
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "benford_second_digit_prices",
    benford.benford_second_digit_sql("orders", "o_totalprice"),
    "data-quality op — SECOND-digit Benford conformance of order "
    "totals: the forensic standard for detecting rounding and "
    "threshold manipulation first-digit Benford is blind to (padding "
    "to 4,9xx or x,000 leaves first digits intact and warps the "
    "second). P(d2) = sum_k log10(1 + 1/(10k+d)); values need two "
    "integer digits; same exact-count + literal-expectation shape as "
    "benford_price_digits, one 10-row groupBy.",
)
def benford_second_digit_prices(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return benford.benford_second_digit(orders, "o_totalprice")


# ──────────────────────────────────────────────────────────────────────────
# wave 129: Cochran-Mantel-Haenszel stratified association
# ──────────────────────────────────────────────────────────────────────────
from ..operators.probability import mantel_haenszel, mantel_haenszel_sql


@_spec(
    "mantel_haenszel_segment_status",
    mantel_haenszel_sql(
        """SELECT o.o_orderpriority AS prio,
                  c.c_mktsegment = 'BUILDING' AS exposed,
                  o.o_orderstatus = 'F' AS outcome
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey""",
        "prio",
        "exposed",
        "outcome",
    ),
    "stats op — Cochran-Mantel-Haenszel stratified 2x2 analysis: "
    "pooled odds ratio OR_MH and the CMH chi-square for BUILDING-"
    "segment customers vs fulfilled order status, stratified by order "
    "priority — the confounder-adjusted association test, reported "
    "beside the crude pooled OR to expose any Simpson's-paradox gap. "
    "Per-stratum cells are exact integers from ONE groupBy after a "
    "broadcastable dim join; the across-strata reduction folds ~5 "
    "rationals in a FIXED sorted order (no unordered double sums — "
    "wave-118 discipline); everything past the first aggregate is "
    "driver-sized.",
)
def mantel_haenszel_segment_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("o_orderpriority").alias("prio"),
        (F.col("c_mktsegment") == "BUILDING").alias("exposed"),
        (F.col("o_orderstatus") == "F").alias("outcome"),
    )
    return mantel_haenszel(j, "prio", "exposed", "outcome")


# ──────────────────────────────────────────────────────────────────────────
# wave 137: Page's L ordered-trend test
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import page_trend_test, page_trend_test_sql


@_spec(
    "page_trend_priority_revenue",
    page_trend_test_sql(
        """SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m')
                       AS BIGINT) AS blk,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS v
           FROM orders""",
        "blk",
        "prio",
        "v",
    ),
    "stats op — Page's L ordered-alternatives test: does monthly "
    "revenue trend MONOTONICALLY across the five priority classes "
    "(blocks = order months, treatments = priority digit 1..5, ranks "
    "within month)? The directional upgrade over "
    "friedman_event_type_ranks, which only asks 'any difference'. "
    "Ranks are exact integers with a total tie order, L an exact "
    "bigint; one sqrt in z. One (month x priority) rollup, one rank "
    "window, k-row reduction.",
)
def page_trend_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyyMM")
        .cast("bigint")
        .alias("blk"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    return page_trend_test(src, "blk", "prio", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 140: Lepage location-scale two-sample test
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import lepage_test, lepage_test_sql


@_spec(
    "lepage_price_returnflag",
    lepage_test_sql(
        """SELECT l_returnflag = 'R' AS grp,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem WHERE l_returnflag IN ('R', 'N')""",
        "grp",
        "v",
    ),
    "stats op — Lepage combined location-scale rank test of extended "
    "price between returned (R) and normal (N) lines: D = z_W^2 + "
    "z_AB^2 ~ chi2(2), Wilcoxon for the SHIFT plus Ansari-Bradley "
    "folded ranks for the SPREAD — a spread change at equal medians "
    "sails straight through mann_whitney_click_purchase, and this is "
    "the standard rank test that catches both. Ranks over a total "
    "(value, group) order; W/AB exact bigints; two closed-form z's "
    "with one sqrt each. One rank window, one conditional aggregate.",
)
def lepage_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        (F.col("l_returnflag") == "R").alias("grp"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    )
    return lepage_test(src, "grp", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 146: Cucconi location-scale two-sample test
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import cucconi_test, cucconi_test_sql


@_spec(
    "cucconi_price_returnflag",
    cucconi_test_sql(
        """SELECT l_returnflag = 'R' AS grp,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem WHERE l_returnflag IN ('R', 'N')""",
        "grp",
        "v",
    ),
    "stats op — Cucconi squared-ranks location-scale test of extended "
    "price between returned (R) and normal (N) lines, the classical "
    "sibling of lepage_price_returnflag run on the SAME two samples: "
    "U/V standardize squared ranks from both ends, C combines them "
    "with their exact negative correlation. Deliberate cross-check "
    "pairing — two different rank statistics agreeing (or not) on one "
    "comparison is itself diagnostic. Mid-rank exactness ledger in "
    "the operator docstring: U4 exact bigint, V4 from the expansion "
    "4(N+1)^2 n_x - 4(N+1) W2 + U4 — no second rank pass.",
)
def cucconi_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        (F.col("l_returnflag") == "R").alias("grp"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    )
    return cucconi_test(src, "grp", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 147: Mood squared-rank scale test
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import mood_scale_test, mood_scale_test_sql


@_spec(
    "mood_scale_price_returnflag",
    mood_scale_test_sql(
        """SELECT l_returnflag = 'R' AS grp,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem WHERE l_returnflag IN ('R', 'N')""",
        "grp",
        "v",
    ),
    "stats op — Mood squared-rank SCALE test of extended price "
    "between returned (R) and normal (N) lines: completes the "
    "two-sample rank family on one comparison — mann_whitney (pure "
    "location), mood_scale (pure dispersion), lepage + cucconi "
    "(combined). Scores (r-(N+1)/2)^2 via exact doubled centered "
    "mid-ranks; T4/SS4 accumulate as DECIMAL(38,0) (bigint would "
    "wrap at ~4N^3 past N~1.3e6 rows — the 100x-scale hazard), and "
    "the general tie-exact linear-rank moments standardize T.",
)
def mood_scale_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    src = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        (F.col("l_returnflag") == "R").alias("grp"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
    )
    return mood_scale_test(src, "grp", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 151: Hodges-Lehmann two-sample shift estimator
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import (
    hodges_lehmann_shift,
    hodges_lehmann_shift_sql,
)


@_spec(
    "hl_shift_supplier_acctbal",
    hodges_lehmann_shift_sql(
        """SELECT s_nationkey < 12 AS grp,
                  CAST(s_acctbal AS DECIMAL(18,2)) AS v
           FROM supplier""",
        "grp",
        "v",
    ),
    "stats op — Hodges-Lehmann shift estimate (median of all m*n "
    "pairwise differences) of supplier account balance between the "
    "two nation hemispheres: the MAGNITUDE companion to the rank-test "
    "family's significance answers. HISTOGRAM-space pairwise: both "
    "sides reduce to (distinct 2-dp value, count) histograms, the "
    "cross product is O(d_x*d_y) in DISTINCT values (domain-bounded, "
    "row-count-free — the acctbal domain caps d at ~1.1e6 cents "
    "values no matter how many rows feed it; a wide-domain measure "
    "like extendedprice, ~2e5 distinct at sf0.1 alone, would need a "
    "coarsen-first pass and is deliberately NOT this spec), and the "
    "weighted-median ranks read one cumulative pass — no row-pair "
    "join at any scale.",
)
def hl_shift_supplier_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    src = sup.select(
        (F.col("s_nationkey") < 12).alias("grp"),
        F.col("s_acctbal").cast("decimal(18,2)").alias("v"),
    )
    return hodges_lehmann_shift(src, "grp", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 152: Quade range-weighted block rank test
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import quade_test, quade_test_sql


@_spec(
    "quade_priority_revenue",
    quade_test_sql(
        """SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m')
                       AS BIGINT) AS blk,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS v
           FROM orders""",
        "blk",
        "prio",
        "v",
    ),
    "stats op — Quade range-weighted block rank test on the SAME "
    "(month-block x priority) design as page_trend_priority_revenue "
    "and friedman_event_type_ranks' family: blocks whose priorities "
    "differ by a wide revenue RANGE carry proportionally more weight "
    "(Friedman discards that via pure within-block ranks; Page adds "
    "only monotone direction). Doubled mid-ranks keep S4 = 4*S "
    "exact; quadratic accumulators run DECIMAL(38,0); A = B (perfect "
    "separation) yields NULL quade_f by contract in both engines.",
)
def quade_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyyMM")
        .cast("bigint")
        .alias("blk"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    return quade_test(src, "blk", "prio", "v")


# ──────────────────────────────────────────────────────────────────────────
# wave 167: Aalen-Johansen competing-risks cumulative incidence
# ──────────────────────────────────────────────────────────────────────────
from ..operators.survival import aalen_johansen_cif, aalen_johansen_cif_sql


@_spec(
    "aalen_johansen_purchase_error",
    aalen_johansen_cif_sql(),
    "survival op — Aalen-Johansen cumulative incidence of the two "
    "COMPETING first-outcomes per user (first purchase vs first "
    "error after signup): the estimator kaplan_meier_retention users "
    "reach for next and get wrong first — '1 - KM of purchases with "
    "errors censored' overstates purchase incidence because users "
    "claimed by errors are no longer at risk. CIF_k = sum "
    "S(t-)*d_k/n partitions the hazard correctly, and the identity "
    "CIF_a + CIF_b + S = 1 (pinned in the wave test) ties the three "
    "curves to unity. The KM scale shape: distinct-event-time "
    "rollup, suffix risk window, lagged exp/log product, prefix CIF "
    "sums.",
)
def aalen_johansen_purchase_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return aalen_johansen_cif(events)


# ──────────────────────────────────────────────────────────────────────────
# wave 173: Stuart-Maxwell marginal-homogeneity test
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import (
    stuart_maxwell_test,
    stuart_maxwell_test_sql,
)

_SM_CATS = ("click", "view", "purchase")

_SM_PAIRS_SQL = """
    SELECT u, MAX(CASE WHEN rn_f = 1 THEN e END) AS first_e,
           MAX(CASE WHEN rn_l = 1 THEN e END) AS last_e
    FROM (
      SELECT user_id AS u, event_type AS e,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_type ASC)
               AS rn_f,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_type DESC)
               AS rn_l
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase')
    )
    GROUP BY u
"""


@_spec(
    "stuart_maxwell_entry_exit",
    stuart_maxwell_test_sql(
        _SM_PAIRS_SQL.strip(), "first_e", "last_e", _SM_CATS
    ),
    "stats op — Stuart-Maxwell marginal-homogeneity test of each "
    "user's FIRST vs LAST engagement event (click/view/purchase): "
    "the k-ary generalization of mcnemar_gates' paired 2x2 — 'do "
    "users exit doing different things than they entered doing?' "
    "asked distribution-wide with the paired structure respected "
    "(a plain chi-square on the two marginals would ignore that the "
    "same users appear in both). Nine exact integer cells, one "
    "closed-form 2x2 inverse, NULL on degenerate symmetry. "
    "First/last picked under a (ts, event) total order.",
)
def stuart_maxwell_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*_SM_CATS)
    )
    wf = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_type").asc()
    )
    wl = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_type").desc()
    )
    pairs = (
        events.select(
            F.col("user_id").alias("u"),
            F.col("event_type").alias("e"),
            F.row_number().over(wf).alias("rn_f"),
            F.row_number().over(wl).alias("rn_l"),
        )
        .groupBy("u")
        .agg(
            F.max(F.when(F.col("rn_f") == 1, F.col("e"))).alias(
                "first_e"
            ),
            F.max(F.when(F.col("rn_l") == 1, F.col("e"))).alias(
                "last_e"
            ),
        )
    )
    return stuart_maxwell_test(pairs, "u", "first_e", "last_e", _SM_CATS)


# ──────────────────────────────────────────────────────────────────────────
# wave 174: DeLong confidence interval for AUC
# ──────────────────────────────────────────────────────────────────────────
from ..operators.evaluation import auc_delong_ci, auc_delong_ci_sql


@_spec(
    "auc_delong_ci_quality",
    auc_delong_ci_sql("documents", "n_chars", "lang = 'en'"),
    "eval op — DeLong 1988 standard error and 95% CI on the SAME "
    "length-predicts-English AUC as auc_quality_score: the error bar "
    "the point estimate needs (bootstrap costs hundreds of "
    "resamples; DeLong is closed-form). Placement values live on the "
    "DISTINCT-SCORE rollup — every positive at a tied score shares "
    "v10 = (#neg below + half #neg at)/n0 — so S10/S01 are weighted "
    "variances over score cardinality with one cumulative window, "
    "never a row-level sort. Bounded at any data scale.",
)
def auc_delong_ci_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return auc_delong_ci(docs, F.col("n_chars"), F.col("lang") == "en")
