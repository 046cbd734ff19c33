"""Exact set-similarity join via prefix filtering (PPJoin-style
candidate pruning).

The MinHash/LSH family (operators/dedup.py) trades recall for speed —
fine for corpus dedup, wrong when the contract is "EVERY pair with
Jaccard >= t" (compliance scans, benchmark-contamination audits,
entity-resolution ground truth). The exact-but-scalable construction
is the prefix filter (Chaudhuri et al., ICDE'06; Xiao et al.'s PPJoin
— public algorithms): order every token set by one GLOBAL token order
(rarest-first), and two sets with Jaccard >= t MUST share a token
within each other's first ``m - ceil(t*m) + 1`` tokens. Joining only
on prefix tokens prunes the candidate space from all-pairs to
near-linear on real corpora while keeping recall exactly 1 — which is
why the differential oracle can be the NAIVE all-pairs join: equal
output proves the pruning sound.

Scale shape: tokenize + rank is an explode + one vocab-sized window;
candidate generation shuffles (prefix_rank, doc_id) int pairs — the
prefix is the RAREST tokens, so hot tokens (stopwords) sit at the END
of the order and never become join keys, the built-in skew guard of
rarest-first ordering. Verification joins the bounded candidate list
back to the rank-array table and intersects int arrays JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w): distinct non-empty whitespace tokens per document."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.filter(F.split(text_col, " "), lambda t: t != "")
        ).alias("w"),
    ).filter(F.size("w") > 0)


def prefix_filter_jaccard_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """All pairs (a_id < b_id) with exact Jaccard >= ``threshold``.

    Returns (a_id, b_id, n_inter, n_union, jaccard) — the counts are
    exact ints and jaccard is their single IEEE division, so results
    are bit-identical on any engine.
    """
    sets = token_sets(docs, id_col, text_col)
    # global rarest-first token order; the window runs over DISTINCT
    # tokens (vocab cardinality, not corpus size)
    df_tok = sets.select(F.explode("w").alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    rank = df_tok.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.col("df").asc(), F.col("token")))
        .alias("r"),
    )
    ranked = (
        sets.select("id", F.explode("w").alias("token"))
        .join(rank, "token")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("r")).alias("rs"))
        .withColumn("m", F.size("rs"))
        .withColumn(
            "plen", F.col("m") - F.ceil(F.lit(threshold) * F.col("m")) + 1
        )
        # consumed by the prefix explode and BOTH verify legs, which
        # may broadcast it: eager, so no broadcast thread materializes it
        .localCheckpoint(eager=True)
    )
    prefixes = ranked.select(
        "id", F.explode(F.slice("rs", 1, F.col("plen"))).alias("pr")
    )
    cands = (
        prefixes.alias("pa")
        .join(
            prefixes.alias("pb"),
            (F.col("pa.pr") == F.col("pb.pr"))
            & (F.col("pa.id") < F.col("pb.id")),
        )
        .select(F.col("pa.id").alias("a_id"), F.col("pb.id").alias("b_id"))
        .distinct()
    )
    a = ranked.select(F.col("id").alias("a_id"), F.col("rs").alias("ra"))
    b = ranked.select(F.col("id").alias("b_id"), F.col("rs").alias("rb"))
    inter = F.size(F.array_intersect("ra", "rb"))
    verified = (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            inter.cast("long").alias("n_inter"),
            (F.size("ra") + F.size("rb") - inter).cast("long").alias("n_union"),
        )
        .withColumn(
            "jaccard", F.col("n_inter") / F.col("n_union").cast("double")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def naive_jaccard_join_sql(
    table_expr: str, id_col: str, text_col: str, threshold: float
) -> str:
    """DuckDB twin: the NAIVE all-pairs join — prefix filtering is
    exact, so equality with this proves the pruning lost nothing."""
    return f"""
    WITH s AS (
      SELECT {id_col} AS id,
             list_distinct(list_filter(string_split({text_col}, ' '),
                                       t -> t <> '')) AS w
      FROM {table_expr}
    ),
    ne AS (SELECT * FROM s WHERE len(w) > 0)
    SELECT a_id, b_id,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union,
           n_inter / CAST(n_union AS DOUBLE) AS jaccard
    FROM (
      SELECT a.id AS a_id, b.id AS b_id,
             len(list_intersect(a.w, b.w)) AS n_inter,
             len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS n_union
      FROM ne a JOIN ne b ON a.id < b.id
    )
    WHERE n_inter / CAST(n_union AS DOUBLE) >= {threshold}
    """
