"""SemDeDup-style semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" — public arXiv:2303.09540).

The reference pipeline has no embedding dedup; this is part of the
training-data extension surface (brief: "embedding-cosine near-dup" as
a first-class op). The scale recipe is the paper's: cluster the
embedding space with k-means first, then compare pairs ONLY within a
cluster — all-pairs cost collapses from O(n²) to O(Σ|cluster|²), and k
is chosen so clusters are ~constant-sized (k ∝ n), making the total
work linear in practice.

Everything is built on the deterministic Q20 integer k-means in
`kmeans.py` and the exact-integer cosine in `similarity.py`, so the
keep/drop decisions are bit-reproducible across engines and
partitionings — which is what makes this operator fully
oracle-checkable (rare for a clustering-based dedup).

Physical shape: one codebook train (see kmeans.py — per-iteration cost
is a broadcast + one k*dim-bounded shuffle), then a self-join on
``cid``. With production k (thousands+) the join key is well-spread;
AQE skew-split handles hot clusters. Embedding arrays DO cross this
shuffle — at 100 TB you'd first project to the quantized vectors only
(done here: `kmeans_assign` carries (vid, v, cid), nothing else).

Keep rule: within a near-dup pair, the LOWER vec_id survives — the
same deterministic keep-first convention as `dedup.py`'s exact dedup,
so downstream joins see a stable representative set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import kmeans_assign, kmeans_assign_ctes
from .similarity import sqnorm_expr, sqnorm_sql


def semdedup_keep(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector semantic-dedup verdicts: ``(vec_id, cid, keep)``.

    ``keep`` is false iff some same-cluster vector with a smaller id
    has cosine similarity >= ``threshold``. For trained-encoder
    embeddings the paper's operating range is tau in [0.9, 0.95]; the
    synthetic testdata is near-orthogonal, so its spec runs a lower tau
    purely to exercise the pruning path.
    """
    asg = kmeans_assign(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    # The assignment feeds three plan branches (both self-join sides +
    # the verdict join, broadcast at small sizes) — checkpoint it
    # eagerly so the codebook train and the final assign run once, not
    # three times, outside any broadcast thread. Squared norms are
    # precomputed per VECTOR here: computing them per PAIR inside the
    # cosine (as cosine_expr does for one-shot use) would triple the
    # array arithmetic on the O(Σ|cluster|²) hot path. Same integers,
    # same double quotient — bit-identical verdicts.
    asg = (
        asg.select("vid", "v", "cid")
        .withColumn("nsq", sqnorm_expr("v"))
        .localCheckpoint(eager=True)
    )
    a, b = asg.alias("a"), asg.alias("b")
    pair_cos = F.expr(
        "(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, v) -> acc + v)) / "
        "sqrt(cast(a.nsq as double) * cast(b.nsq as double))"
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .filter(pair_cos >= threshold)
        .select(F.col("b.vid").alias("vid"))
        .distinct()
    )
    return (
        asg.join(dropped.withColumn("__dup", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cid",
            F.col("__dup").isNull().alias("keep"),
        )
        .orderBy(id_col)
    )


def semdedup_keep_sql(
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`semdedup_keep`, reusing the unrolled
    k-means CTE chain."""
    with_clause, final_assign = kmeans_assign_ctes(
        k=k, iters=iters, id_col=id_col, vec_col=vec_col, table=table
    )
    dot = "list_sum([x[1] * x[2] for x in list_zip(a.v, b.v)])"
    cos = f"({dot}) / sqrt(CAST(a.nsq AS DOUBLE) * CAST(b.nsq AS DOUBLE))"
    return f"""{with_clause},
    asg AS (SELECT vid, v, cid, {sqnorm_sql('v')} AS nsq
            FROM ({final_assign})),
    dropped AS (
      SELECT DISTINCT b.vid
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vid < b.vid
      WHERE {cos} >= {threshold}
    )
    SELECT asg.vid AS {id_col}, asg.cid,
           (dropped.vid IS NULL) AS keep
    FROM asg LEFT JOIN dropped ON asg.vid = dropped.vid
    ORDER BY asg.vid"""
