"""Benchmark decontamination: flag training documents that overlap an
evaluation/benchmark set by word n-grams.

The standard pretraining hygiene step (GPT-3 appendix C, PaLM §6,
Llama 2 §A.6): any training document sharing too many word n-grams with
a held-out benchmark is dropped so eval scores measure generalization,
not memorization. Canonical n is 8-13 words; the operator takes n as a
parameter (tests here use 3 because the synthetic docs are ~56 words).

Scale design (the 100 TB story):
  * The benchmark side is SMALL (eval suites are a few MB) — its
    distinct n-gram hash set broadcast-joins against the corpus, so
    the corpus is never shuffled: flagging is a map-side semi-join
    inside the scan stage, followed by one narrow per-doc aggregate
    over (doc_id) — and that aggregate rides the doc_id partitioning.
  * N-grams travel as 30-bit md5 hashes (the same portable hash family
    as operators/dedup), never as strings: the exploded stream is
    (doc_id, int) pairs.

Reference parity: no decontamination exists in the reference (its data
is administrative, not a training corpus); beyond-parity op per the
engine charter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _SHINGLE30


def word_ngrams(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams of a space-tokenized text column, as one
    narrow expression (guarded so short docs yield [] — Spark's
    sequence(1, 0) would count DOWN, not produce an empty range).

    The tokenization is bound to a lambda variable via the
    single-element ``transform(array(split(..)), ts -> ..)`` wrapper so
    the split runs ONCE per row — referencing ``split(text)`` inside
    the per-ngram lambda would re-split O(len) times per document."""
    return F.expr(
        f"element_at(transform(array(split({text_col}, ' ')), ts -> "
        f"CASE WHEN size(ts) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(ts) - {n - 1}), "
        f"i -> concat_ws(' ', slice(ts, i, {n})))) "
        f"ELSE array() END), 1)"
    )


def word_ngrams_sql(text_col: str, n: int = 3) -> str:
    """DuckDB twin of :func:`word_ngrams` (1-based inclusive slices)."""
    toks = f"string_split({text_col}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct([array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 2}, 1))]) "
        f"ELSE [] END"
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-corpus-document benchmark-overlap report.

    Returns (id_col, n_ngrams, n_matched, overlap_frac, contaminated):
    ``n_matched`` counts the document's distinct n-grams that appear
    ANYWHERE in the benchmark set; ``contaminated`` flags docs at or
    above ``threshold`` overlap. Documents with fewer than ``n`` words
    carry zero n-grams and are never flagged.
    """
    hash_expr = _SHINGLE30.format(s="g")
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(text_col, n)).alias("g"))
        .select(F.expr(hash_expr).alias("gh"))
        .distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col),
        F.explode_outer(word_ngrams(text_col, n)).alias("g"),
    ).select(id_col, F.expr(hash_expr).alias("gh"))
    matched = doc_grams.join(
        F.broadcast(bench_grams).withColumn("__hit", F.lit(1)), "gh", "left"
    )
    agg = matched.groupBy(id_col).agg(
        F.count("gh").alias("n_ngrams"),
        F.count("__hit").alias("n_matched"),
    )
    frac = F.when(
        F.col("n_ngrams") > 0, F.col("n_matched") / F.col("n_ngrams")
    ).otherwise(F.lit(0.0))
    return agg.select(
        id_col,
        "n_ngrams",
        "n_matched",
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )
