"""Training-data pipeline queries: dedup, text analysis, similarity
search — the beyond-parity operator set over documents/embeddings.

Oracle discipline matches plans/relational.py. Hash-dependent ops use
md5 (reproducible in any engine) rather than engine-native hashes;
cosine similarity uses Q20 fixed-point integer arithmetic so values are
bit-identical across engines (see operators/similarity.py docstring).
The pyspark.ml MinHash variant (minhash_neardup) has a non-portable
seeded hash family, so its oracle checks the accuracy CONTRACT
(candidates verify + recall bound) rather than the candidate set; the
portable-family variant (minhash_lsh_portable) is fully hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..sources.io import spill
from ..operators import (
    chunking,
    clustering,
    decontaminate,
    dedup,
    packing,
    sampling,
    similarity,
    text,
)
from ..operators import expectations as _X
from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


_NORM = "md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))"
_STOP_IN = "('" + "', '".join(text.STOPWORDS) + "')"


@_spec(
    "dedup_exact",
    f"""
    WITH fp AS (SELECT *, {_NORM} AS fp FROM documents),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp)
    SELECT f.doc_id, f.lang, f.source, f.n_chars
    FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id
    """,
    "training-data op: exact dedup (hash-groupBy keep-first)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs).select("doc_id", "lang", "source", "n_chars")


@_spec(
    "doc_fingerprint_clusters",
    f"""
    SELECT {_NORM} AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM documents GROUP BY 1
    """,
    "training-data op: document fingerprinting (md5 of normalized text) "
    "+ duplicate-cluster sizing",
)
def doc_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(text.fingerprint("text").alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


@_spec(
    "text_quality_stats",
    f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) / len(toks) AS distinct_ratio,
           len(list_filter(toks, w -> w IN {_STOP_IN})) / len(toks) AS stopword_ratio,
           (length(text) - (len(toks) - 1)) / len(toks) AS avg_token_len
    FROM t
    """,
    "training-data op: quality scoring (length/stopword/distinct ratios)",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.with_token_stats(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "distinct_ratio",
        "stopword_ratio",
        "avg_token_len",
    )


@_spec(
    "language_id_heuristic",
    f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, lang,
           len(list_filter(toks, w -> w IN {_STOP_IN})) / len(toks) AS stopword_frac,
           CASE WHEN len(list_filter(toks, w -> w IN {_STOP_IN})) / len(toks) >= 0.04
                THEN 'en' ELSE 'und' END AS predicted_lang
    FROM t
    """,
    "training-data op: language-ID heuristic (stopword-profile score)",
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.with_language_id(docs).select(
        "doc_id", "lang", "stopword_frac", "predicted_lang"
    )


@_spec(
    "simhash_fingerprint",
    f"""
    SELECT doc_id, {dedup.simhash_sql('text', 16)} AS simhash
    FROM documents
    """,
    "training-data op: SimHash document fingerprint (16-bit, md5 token "
    "hashes — engine-portable)",
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", dedup.simhash_expr("text", 16).alias("simhash"))


@_spec(
    "ngram_jaccard_neardup",
    f"""
    WITH s AS (
      SELECT doc_id, {dedup.char_ngrams_sql('text')} AS sh
      FROM documents WHERE doc_id % 29 = 0
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           {dedup.jaccard_sql('a.sh', 'b.sh')} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    ORDER BY jaccard DESC, a_id, b_id
    LIMIT 20
    """,
    "training-data op: n-gram Jaccard near-dup (exact verification "
    "kernel on a deterministic sample)",
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 == 0)
    pairs = dedup.ngram_jaccard_pairs(docs)
    return pairs.orderBy(
        F.col("jaccard").desc(), F.col("a_id"), F.col("b_id")
    ).limit(20)


@_spec(
    "minhash_neardup",
    f"""
    WITH s AS (
      SELECT doc_id, {dedup.char_ngrams_sql('text')} AS sh
      FROM documents WHERE len(text) >= 3 AND doc_id % 3 = 0 AND doc_id < 500
    ),
    true_pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE {dedup.jaccard_sql('a.sh', 'b.sh')} >= 0.7
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS candidates_subset_of_true,
           TRUE AS recall_at_least_80pct
    FROM true_pairs
    """,
    "training-data op: MinHash+LSH near-dup candidates via pyspark.ml "
    "MinHashLSH (the O(n) scale path). The seeded hash family is not "
    "portable to SQL, so the oracle checks the ACCURACY CONTRACT "
    "instead (the HLL-spec pattern): DuckDB recomputes the exact "
    "Jaccard>=0.7 pair set from the same char-3-gram shingles, and the "
    "Spark side must report (a) every LSH candidate verifies as a true "
    "near-dup (approxSimilarityJoin's exact distance filter) and (b) "
    "recall >= 80% of the true pairs (8 OR-amplified tables give "
    "P(candidate) = 1-(1-s)^8 > 0.9999 at s=0.7). The all-pairs exact "
    "kernel forces the contract onto a deterministic doc_id%3, id<500 sample (ABSOLUTE cap: the kernel's cost is constant at any sf, not a corpus fraction) "
    "(the capped-verification-kernel discipline, cf. "
    "ngram_jaccard_neardup's %29 cap) — and so does the ml LSH join "
    "itself here, because its OR-amplified single-hash tables cannot "
    "AND-suppress this corpus's pathological vocabulary overlap the "
    "way the portable banded variant does: approxSimilarityJoin "
    "carries full sparse vectors through its explode-join, so "
    "near-all-pairs collisions shuffle O(pairs x vector) bytes. At "
    "100 TB the portable banded LSH runs on everything and THIS "
    "parity contract runs on the sample",
)
def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 500)
    )
    # distance 0.3 == Jaccard >= 0.7: actual near-dups, not vocabulary
    # overlap (the synthetic docs share a tiny vocabulary, so looser
    # thresholds degenerate to all-pairs)
    cand = dedup.minhash_neardup_pairs(docs, max_distance=0.3).select(
        "a_id", "b_id", F.lit(1).alias("__is_cand")
    )
    true_pairs = (
        dedup.ngram_jaccard_pairs(docs.filter(F.length("text") >= 3))
        .filter(F.col("jaccard") >= 0.7)
        .select("a_id", "b_id", F.lit(1).alias("__is_true"))
    )
    merged = cand.join(true_pairs, ["a_id", "b_id"], "full_outer")
    # coalesce the aggregates too: an empty pair table must read as
    # (0 pairs, contract holds), not a NULL-vs-TRUE hash mismatch
    n_true = F.coalesce(F.sum(F.coalesce("__is_true", F.lit(0))), F.lit(0))
    n_cand = F.coalesce(F.sum(F.coalesce("__is_cand", F.lit(0))), F.lit(0))
    n_both = F.coalesce(
        F.sum(F.coalesce("__is_cand", F.lit(0)) * F.coalesce("__is_true", F.lit(0))),
        F.lit(0),
    )
    return merged.agg(
        n_true.cast("bigint").alias("n_true_pairs"),
        (n_cand == n_both).alias("candidates_subset_of_true"),
        (n_both.cast("double") >= 0.8 * n_true).alias("recall_at_least_80pct"),
    )


@_spec(
    "minhash_neardup_full",
    f"""
    WITH s AS (
      SELECT doc_id, {dedup.char_ngrams_sql('text')} AS sh
      FROM documents WHERE len(text) >= 3
    ),
    truth99 AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE {dedup.jaccard_sql('a.sh', 'b.sh')} >= 0.99
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup99_pairs,
           CAST(COALESCE(SUM(CAST(a_id AS BIGINT) * 1000003 + b_id), 0)
                AS BIGINT) AS neardup99_pair_checksum,
           TRUE AS jaccard_bound_holds
    FROM truth99
    """,
    "training-data op: pyspark.ml MinHash family over the FULL "
    "documents table (added round 4 per ADVICE: the sampled contract "
    "spec minhash_neardup verifies accuracy on a constant-size kernel; "
    "THIS spec keeps the unsampled scale path measured). Uses "
    "dedup.minhash_ml_banded_pairs — explicit AND-amplified banding "
    "over MinHashLSH's seeded hashes with the degenerate-bucket guard "
    "— because approxSimilarityJoin's OR-amplified tables degenerate "
    "to near-all-pairs on this low-vocabulary corpus (measured 1210 s "
    "at sf0.1 vs ~seconds banded; see the operator docstring). "
    "PARTIAL ORACLE (round 6, VERDICT r5 #3): the seeded hash family "
    "is not SQL-portable, but the emitted pairs' exact Jaccards are — "
    "DuckDB recomputes ground truth from the same char-3-gram "
    "shingles and the spec asserts the two judge invariants: (a) "
    "every emitted pair verifies >= 0.7 (jaccard_bound_holds — the "
    "verify stage computes exact shingle Jaccard, so a violation is "
    "an engine bug, not LSH noise) and (b) the known-dup stratum "
    "(exact Jaccard >= 0.99) is recalled EXACTLY: count plus an "
    "order-free integer pair checksum equal set equality on the "
    "stratum, since emitted-pair Jaccards are exact and hence the "
    "emitted >= 0.99 subset cannot contain false positives. The 0.99 "
    "cut is the structural one: identical/near-identical docs "
    "collide in every band, so misses can come only from the "
    "MH_MAX_BUCKET degenerate guard (measured: the guard's one high-J "
    "casualty at sf0.01 sits at J=0.978; the >= 0.99 stratum is "
    "fully recalled at both gate SFs, deterministically — seeded "
    "hashes over fixed data). Looser strata stay covered by "
    "minhash_neardup's 80%-recall contract on its capped kernel.",
)
def minhash_neardup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_ml_banded_pairs(docs, min_jaccard=0.7)
    in99 = F.col("jaccard") >= 0.99
    return cand.agg(
        F.coalesce(F.sum(F.when(in99, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_neardup99_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    in99,
                    F.col("a_id").cast("bigint") * F.lit(1000003)
                    + F.col("b_id"),
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("neardup99_pair_checksum"),
        (F.coalesce(F.min("jaccard"), F.lit(1.0)) >= 0.7).alias(
            "jaccard_bound_holds"
        ),
    )


_Q_EMB = similarity.quantize_sql("embedding")


@_spec(
    "ann_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, label, {_Q_EMB} AS qv FROM embeddings),
    q AS (SELECT qv AS query_v FROM e WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           {similarity.cosine_sql('e.qv', 'q.query_v')} AS cosine
    FROM e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    "training-data op: brute-force cosine top-k ANN baseline "
    "(Q20 fixed-point — bit-reproducible)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, query_vec_id=0, k=10)


@_spec(
    "ann_lsh_bucketed",
    f"""
    WITH e AS (
      SELECT vec_id, label, {_Q_EMB} AS qv,
             {similarity.sign_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT qv AS query_v, bucket AS qbucket FROM e WHERE vec_id = 0)
    SELECT e.vec_id, e.label, e.bucket,
           {similarity.cosine_sql('e.qv', 'q.query_v')} AS cosine
    FROM e, q
    WHERE e.vec_id <> 0 AND e.bucket = q.qbucket
    ORDER BY cosine DESC, e.vec_id
    LIMIT 5
    """,
    "training-data op: LSH-bucketed ANN (sign-hyperplane bucket prune — "
    "the IVF-style scale path)",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_topk(emb, query_vec_id=0, k=5)


@_spec(
    "embedding_neardup_topn",
    f"""
    WITH e AS (
      SELECT vec_id, {_Q_EMB} AS qv FROM embeddings WHERE vec_id % 5 = 0
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           {similarity.cosine_sql('a.qv', 'b.qv')} AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    ORDER BY cosine DESC, a_id, b_id
    LIMIT 20
    """,
    "training-data op: embedding-cosine near-dup pairs (all-pairs "
    "kernel on a deterministic sample)",
)
def embedding_neardup_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_topn(emb, sample_mod=5, top_n=20)


@_spec(
    "token_count_bpe",
    f"""
    SELECT doc_id, lang,
           length(string_split(text, ' ')) AS n_ws_tokens,
           {text.bpe_token_count_sql('text')} AS n_bpe_tokens
    FROM documents
    """,
    "training-data op: token counting — whitespace count + BPE-ish "
    "pre-tokenizer regex count (letter/digit/punct runs); narrow "
    "scan-stage projection",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        text.bpe_token_count("text").cast("bigint").alias("n_bpe_tokens"),
    )


@_spec(
    "rolling_hash_fingerprint",
    f"""
    WITH fp AS (
      SELECT source, {text.rolling_hash_sql('text')} AS roll_fp FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT roll_fp) AS n_distinct_fp
    FROM fp GROUP BY source
    """,
    "training-data op: document fingerprinting via polynomial rolling "
    "hash (order-sensitive, streaming-extendable) + per-source "
    "collision census",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", text.rolling_hash_expr("text").alias("roll_fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("roll_fp").alias("n_distinct_fp"),
        )
    )


@_spec(
    "ann_ivf_topk",
    similarity.ivf_topk_sql(query_vec_id=1, k=5, n_centroids=8),
    "training-data op: IVF ANN — coarse-quantize to nearest centroid "
    "(broadcast argmax, no shuffle), exact cosine inside the query's "
    "cell only (nprobe=1); the partition-pruning scale path",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, query_vec_id=1, k=5, n_centroids=8)


@_spec(
    "minhash_lsh_portable",
    dedup.verified_lsh_edges_sql(min_jaccard=None),
    "training-data op: MinHash + banded LSH near-dup with an EXPLICIT "
    "affine hash family ((a*x + b) % (2^31-1) over 30-bit md5 shingle "
    "hashes), so the full candidate generation is engine-portable and "
    "oracle-checked — unlike the pyspark.ml variant (minhash_neardup) "
    "whose seeded family is opaque. Candidates then pass through the "
    "exact-Jaccard verification kernel, i.e. the real two-stage scale "
    "pipeline end-to-end, including the MH_MAX_BUCKET=100 degenerate-"
    "bucket guard every production LSH dedup needs (uncapped, this "
    "corpus's hottest band bucket holds 63%% of all docs and the "
    "bucket-join goes quadratic)",
)
def minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.verified_lsh_edges(
        docs, id_col="doc_id", text_col="text", n=3, min_jaccard=None,
    )


@_spec(
    "quality_expectations_report",
    """
    SELECT 'min_rows_100' AS check,
           CAST(COUNT(*) AS DOUBLE) AS observed,
           COUNT(*) >= 100 AS passed
    FROM documents
    UNION ALL
    SELECT 'not_null_text', AVG(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END),
           AVG(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END) = 0.0
    FROM documents
    UNION ALL
    SELECT 'unique_doc_id', CAST(COUNT(DISTINCT doc_id) - COUNT(doc_id) AS DOUBLE),
           COUNT(DISTINCT doc_id) = COUNT(doc_id)
    FROM documents
    UNION ALL
    SELECT 'values_in_lang',
           AVG(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1.0 ELSE 0.0 END),
           AVG(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1.0 ELSE 0.0 END) = 0.0
    FROM documents
    UNION ALL
    SELECT 'range_n_chars',
           AVG(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1.0 ELSE 0.0 END),
           AVG(CASE WHEN n_chars < 1 OR n_chars > 100000 THEN 1.0 ELSE 0.0 END) = 0.0
    FROM documents
    """,
    "training-data op: declarative data-quality expectation suite "
    "(operators/expectations.py) — 5 checks batched into ONE "
    "distributed aggregate pass (the oracle spells them as 5 scans; "
    "Spark runs one), reporting (check, observed, passed)",
)
def quality_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import expectations as X

    docs = load_table(spark, sf_dir, "documents")
    return X.quality_report(
        docs,
        [
            X.expect_min_rows(100),
            X.expect_not_null("text"),
            X.expect_unique("doc_id"),
            X.expect_values_in("lang", ("en", "de", "fr", "es", "zh")),
            X.expect_range("n_chars", 1, 100000),
        ],
    )


@_spec(
    "train_test_split_counts",
    f"""
    WITH split AS (
      SELECT lang,
             CASE WHEN {sampling.hash_bucket_sql('doc_id')} < 20
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs
    FROM split GROUP BY split, lang
    """,
    "training-data op: deterministic hash-based train/test split "
    "(operators/sampling.py) — membership is md5(key) % 100, so the "
    "same row lands in the same split on any engine/partitioning "
    "(unlike seeded per-partition RNG); per-(split, lang) census",
)
def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.train_test_split(docs, key_col="doc_id", test_pct=20)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_spec(
    "balanced_sample_per_lang",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 40
    """,
    "training-data op: class-balanced downsample — first 40 docs per "
    "language (row_number per label, WindowGroupLimit keeps the "
    "per-partition buffer at 40 before the shuffle)",
)
def balanced_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling.balanced_sample(
        docs, label_col="lang", per_class=40, order_col="doc_id"
    ).select("doc_id", "lang")


@_spec(
    "corpus_prep_pipeline",
    f"""
    WITH t AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
    ), q AS (
      SELECT doc_id, lang, text, len(toks) AS n_tokens
      FROM t
      WHERE len(toks) >= 20
        AND len(list_distinct(toks)) / len(toks) >= 0.32
        AND len(list_filter(toks, w -> w IN {_STOP_IN})) / len(toks) <= 0.5
    ), fp AS (
      SELECT *, {_NORM} AS fp FROM q
    ), keep AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp
    ), deduped AS (
      SELECT f.doc_id, f.lang, f.n_tokens
      FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id
    )
    SELECT CASE WHEN {sampling.hash_bucket_sql('doc_id')} < 20
                THEN 'test' ELSE 'train' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM deduped
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    "training-data op: END-TO-END corpus preparation — quality filter "
    "(token count / distinct ratio / stopword ratio) -> exact dedup "
    "(md5 fingerprint keep-first) -> hash-membership train/test split "
    "-> per-(split, lang) accounting, as ONE DataFrame lineage. At "
    "scale this is the canonical pretraining-corpus job: the filters "
    "evaluate scan-side before any shuffle, the dedup shuffles only "
    "(fingerprint, doc_id, n_tokens) — never document bodies — and the "
    "split is a stateless per-row hash, so adding a shard never "
    "reassigns existing rows",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = text.with_token_stats(docs)
    filtered = stats.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("distinct_ratio") >= 0.32)
        & (F.col("stopword_ratio") <= 0.5)
    ).select("doc_id", "lang", "text", "n_tokens")
    deduped = dedup.dedup_exact(filtered).drop("text")
    split = sampling.train_test_split(deduped, "doc_id", test_pct=20)
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


def _neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) near-dup component labels, built once per
    session and sf_dir.

    The LSH+verify edge stage plus CC iteration is the shared 2/3 of
    BOTH CC-family specs (neardup_cluster_dedup here,
    dedup_keep_longest in wave21) — VERDICT r3 #5 says compute it once
    per session. Spilled to parquet (NOT persist/localCheckpoint)
    because cached blocks are evicted by session hygiene / executor
    loss, and the CC labels' lineage is a truncated checkpoint that
    cannot recompute; a (doc_id, cluster_id) parquet is tiny,
    deterministic, and exactly what a production pipeline does with a
    reused expensive intermediate.
    """

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        edges = dedup.verified_lsh_edges(
            docs, id_col="doc_id", text_col="text", n=3, min_jaccard=0.6,
        )
        return clustering.connected_components(
            edges, docs.select("doc_id"), id_col="doc_id", src="a_id",
            dst="b_id",
        )

    return spill(spark, build, key=("neardup_components", sf_dir))


@_spec(
    "neardup_cluster_dedup",
    f"""
    WITH RECURSIVE edges AS ({dedup.verified_lsh_edges_sql(min_jaccard=0.6)}),
    sym AS (SELECT a_id AS src, b_id AS dst FROM edges
            UNION ALL SELECT b_id, a_id FROM edges),
    nodes AS (SELECT doc_id FROM documents),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY node)
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           doc_id = cluster_id AS keep
    FROM comp
    """,
    "training-data op: near-dup CLUSTER resolution — LSH candidate "
    "pairs filtered to Jaccard >= 0.6 become an undirected graph, "
    "resolved to connected components by iterative min-label "
    "propagation (operators/clustering.py), then min-id-wins "
    "canonicalization. This is the stage every production corpus dedup "
    "(C4/RefinedWeb/Dolma) runs between 'candidate pairs' and 'deduped "
    "corpus', because near-dup similarity is not transitive. The "
    "oracle is a DuckDB recursive CTE computing min-reachable-id — an "
    "independent algorithm (BFS closure) agreeing with the Spark "
    "fixed-point iteration on every label. Scale: each round shuffles "
    "only (node, label) int pairs; rounds = component diameter "
    "(2-4 for LSH graphs); lineage cut per round via localCheckpoint",
)
def neardup_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering.canonicalize(
        _neardup_components(spark, sf_dir), id_col="doc_id"
    )


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in text.STOPWORDS) + "]"


@_spec(
    "gopher_quality_filters",
    text.gopher_quality_sql(_STOP_LIST),
    "training-data op: Gopher/C4-style quality gate (Rae et al. 2021 "
    "A1.1) — word count, mean word length, alphabetic-word fraction, "
    "distinct-stopword count, duplicate-line fraction, and top-word "
    "dominance, fused into one scan-stage projection with a "
    "conjunctive keep flag. The repetition metrics (dup lines, top-"
    "word share) are the filters that kill template/boilerplate text "
    "before it poisons a pretraining mix; everything is a narrow "
    "Column expression, so the gate costs nothing beyond the read",
)
def gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_quality_report(docs)


_NG3 = decontaminate.word_ngrams_sql("text", 3)
_GH = dedup._SHINGLE30_SQL.format(s="g")


@_spec(
    "decontaminate_ngram_overlap",
    f"""
    WITH bench AS (
      SELECT DISTINCT {_GH} AS gh FROM (
        SELECT unnest({_NG3}) AS g FROM documents WHERE doc_id % 31 = 0
      )
    ),
    hashed AS (
      SELECT doc_id, {_GH} AS gh FROM (
        SELECT doc_id, unnest({_NG3}) AS g
        FROM documents WHERE doc_id % 31 <> 0
      )
    ),
    counts AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             CAST(SUM(CASE WHEN gh IN (SELECT gh FROM bench)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      FROM hashed GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(c.n_ngrams, 0) AS n_ngrams,
           COALESCE(c.n_matched, 0) AS n_matched,
           CASE WHEN COALESCE(c.n_ngrams, 0) > 0
                THEN c.n_matched / c.n_ngrams ELSE 0.0 END AS overlap_frac,
           CASE WHEN COALESCE(c.n_ngrams, 0) > 0
                THEN c.n_matched / c.n_ngrams ELSE 0.0 END >= 0.5
             AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 31 <> 0) d
    LEFT JOIN counts c USING (doc_id)
    """,
    "training-data op: benchmark DECONTAMINATION (GPT-3 appendix C / "
    "Llama 2 A.6) — flag training docs sharing too many word n-grams "
    "with an eval set. The benchmark's distinct n-gram hash set "
    "(30-bit portable md5 family) broadcast-joins the corpus, so the "
    "corpus never shuffles: flagging is map-side, then one narrow "
    "per-doc aggregate. Benchmark here = the deterministic "
    "doc_id %% 31 == 0 slice standing in for a real eval suite",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 31 == 0)
    corpus = docs.filter(F.col("doc_id") % 31 != 0)
    return decontaminate.decontaminate(corpus, bench, n=3, threshold=0.5)


@_spec(
    "tfidf_top_terms",
    text.tfidf_top_terms_sql(3),
    "training-data op: per-document TF-IDF top-3 distinctive terms — "
    "the classic corpus-analysis primitive (topic labeling, keyword "
    "extraction, boilerplate diagnosis). Linear-idf scoring "
    "(tf * N / df) keeps the ranking of log-idf while staying bit-"
    "reproducible across engines (ln() is last-ulp engine-dependent); "
    "ties break on term so the top-k is fully deterministic",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3)


@_spec(
    "pii_redaction",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '{text.PII_EMAIL_RE}', '<PII>', 'g'),
               '{text.PII_PHONE_RE}', '<PII>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{text.PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{text.PII_PHONE_RE}')) AS BIGINT)
             AS n_phones
    FROM seeded
    """,
    "training-data op: PII REDACTION (C4-style corpus hygiene) — mask "
    "emails/phones with RE2-safe patterns (no lookarounds, so Java "
    "and RE2 dialects agree byte-for-byte) plus per-doc match counts "
    "for the removal audit. The corpus has no real PII, so each doc "
    "is seeded with a deterministic synthetic email+phone derived "
    "from doc_id — redaction then provably strips what was planted. "
    "Narrow regexp chain, scan-fused, no shuffle",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    n_emails, n_phones = text.pii_counts("text")
    return seeded.select(
        "doc_id",
        text.redact_pii("text").alias("redacted"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


@_spec(
    "corpus_prep_full",
    f"""
    WITH RECURSIVE gq AS ({text.gopher_quality_sql(_STOP_LIST)}),
    bench AS (
      SELECT DISTINCT {_GH} AS gh FROM (
        SELECT unnest({_NG3}) AS g FROM documents WHERE doc_id % 31 = 0
      )
    ),
    hashed AS (
      SELECT doc_id, {_GH} AS gh FROM (
        SELECT doc_id, unnest({_NG3}) AS g
        FROM documents WHERE doc_id % 31 <> 0
      )
    ),
    dec AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN gh IN (SELECT gh FROM bench)
                           THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS overlap_frac
      FROM hashed GROUP BY doc_id
    ),
    eligible AS (
      SELECT d.doc_id, d.text, d.lang
      FROM documents d
      JOIN gq ON gq.doc_id = d.doc_id AND gq.keep
      JOIN dec ON dec.doc_id = d.doc_id AND dec.overlap_frac < 0.5
    ),
    edges AS ({dedup.verified_lsh_edges_sql("eligible", min_jaccard=0.6)}),
    sym AS (SELECT a_id AS src, b_id AS dst FROM edges
            UNION ALL SELECT b_id, a_id FROM edges),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM eligible
      UNION
      SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY node),
    kept AS (
      SELECT e.doc_id, e.lang,
             CASE WHEN {sampling.hash_bucket_sql('e.doc_id')} < 20
                  THEN 'test' ELSE 'train' END AS split,
             gq.n_words
      FROM comp JOIN eligible e ON e.doc_id = comp.doc_id
      JOIN gq ON gq.doc_id = e.doc_id
      WHERE comp.doc_id = comp.cluster_id
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM kept
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    "training-data op: the FULL modern pretraining-corpus pipeline as "
    "one oracle-checked lineage — Gopher quality gate -> benchmark "
    "decontamination (n-gram overlap < 0.5, benchmark slice excluded) "
    "-> near-dup removal via LSH + connected components (canonical "
    "doc per cluster) -> stateless hash train/test split -> per-"
    "(split, lang) accounting. Composes gopher_quality_filters, "
    "decontaminate_ngram_overlap, neardup_cluster_dedup and "
    "train_test_split end-to-end; the gates run scan-side BEFORE the "
    "expensive pair graph, so the LSH/CC stages see only surviving "
    "docs — the ordering every production pipeline uses because "
    "filtering is O(scan) and dedup is the superlinear stage",
)
def corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gq = text.gopher_quality_report(docs).select("doc_id", "n_words", "keep")
    bench = docs.filter(F.col("doc_id") % 31 == 0)
    corpus = docs.filter(F.col("doc_id") % 31 != 0)
    dec = decontaminate.decontaminate(corpus, bench, n=3, threshold=0.5)
    # the gated corpus feeds FIVE downstream branches (LSH candidates,
    # both sides of the verify join, the CC node universe, the final
    # keep join); without materialization each branch re-runs the
    # gopher + decontamination chain. Materializing is exactly what a
    # production pipeline does between stages (write the filtered
    # corpus once, read it many times) — measured ~2x on this spec.
    # Eager, because the verify stage broadcasts shingles built from it.
    eligible = (
        docs.select("doc_id", "text", "lang")
        .join(gq.filter("keep").select("doc_id"), "doc_id", "leftsemi")
        .join(
            dec.filter(~F.col("contaminated")).select("doc_id"),
            "doc_id",
            "leftsemi",
        )
        .localCheckpoint(eager=True)
    )
    # the edge stage (spread scan -> banded LSH candidates -> exact
    # Jaccard verify) is dedup.verified_lsh_edges, which auto-selects
    # the broadcast verify form below a size threshold and the
    # shuffle-hash form above it — the 100-TB path (round 5); the
    # inline copy this replaces hard-coded the broadcast form
    edges = dedup.verified_lsh_edges(
        eligible.select("doc_id", "text"),
        id_col="doc_id",
        text_col="text",
        n=3,
        min_jaccard=0.6,
    )
    comp = clustering.connected_components(
        edges, eligible.select("doc_id"), id_col="doc_id"
    )
    kept = (
        comp.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(eligible.select("doc_id", "lang"), "doc_id")
        .join(gq.select("doc_id", "n_words"), "doc_id")
    )
    split = sampling.train_test_split(kept, "doc_id", test_pct=20)
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
        .orderBy("split", "lang")
    )


_PACK_SHARD, _PACK_BIN = packing.pack_next_fit_sql(
    "doc_id", "n_tokens", capacity=512, shards=8
)


@_spec(
    "sequence_packing_bins",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (SELECT doc_id, n_tokens, {_PACK_SHARD} AS shard FROM t),
    b AS (SELECT shard, doc_id, n_tokens, {_PACK_BIN} AS bin FROM s)
    SELECT shard, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM b GROUP BY shard, bin ORDER BY shard, bin
    """,
    "training-data op: sequence packing — shard-local next-fit assignment "
    "of docs to fixed token-budget context windows (operators/packing.py); "
    "deterministic hash shards make the packing engine-portable and "
    "cluster-width-independent",
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    packed = packing.pack_next_fit(
        docs, "doc_id", "n_tokens", capacity=512, shards=8
    )
    return packing.bin_fill_report(packed, "n_tokens").orderBy("shard", "bin")


_MIX_RATES = {"en": 100, "de": 50, "es": 25, "fr": 10, "zh": 75}


@_spec(
    "mixture_sample_counts",
    f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE {sampling.mixture_sample_sql('doc_id', 'lang', _MIX_RATES)}
    GROUP BY lang ORDER BY lang
    """,
    "training-data op: domain-mixture sampling "
    "(operators/sampling.py:mixture_sample) — deterministic per-domain "
    "hash-rate downsample for corpus mixture construction; monotone in "
    "the rate so raising a domain's share never reshuffles membership",
)
def mixture_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = sampling.mixture_sample(docs, "doc_id", "lang", _MIX_RATES)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


@_spec(
    "chunk_documents_rag",
    chunking.chunk_documents_sql(window=32, stride=24)
    + " ORDER BY doc_id, chunk_id",
    "training-data op: overlapping token-window chunking "
    "(operators/chunking.py) — the RAG/long-doc context construction "
    "primitive; pure scan-stage array expressions, zero shuffle",
)
def chunk_documents_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return chunking.chunk_documents(docs, window=32, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


@_spec(
    "duplicated_spans_report",
    dedup.duplicated_spans_sql(n=5) + " ORDER BY 1",
    "training-data op: span-level cross-doc duplication (Lee et al. "
    "exact n-gram span dedup, operators/dedup.py:duplicated_spans) — "
    "md5-hashed 5-gram spans, 2 shuffles over (id, pos, hash) triples, "
    "never text",
)
def duplicated_spans_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans(docs, n=5).orderBy("doc_id")


_BM25_TERMS = ("vector", "hash", "stream")


@_spec(
    "bm25_topk_retrieval",
    text.bm25_topk_sql(_BM25_TERMS, k=15),
    "training-data op: BM25 bag-of-words retrieval "
    "(operators/text.py:bm25_topk) — postings filtered to query terms "
    "at the scan, broadcast corpus stats, TakeOrdered top-k",
)
def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, _BM25_TERMS, k=15)


@_spec(
    "weighted_sample_docs",
    sampling.weighted_sample_topk_sql(
        "doc_id", "n_chars", k=25, table="documents",
        cols="doc_id, lang, n_chars",
    ),
    "training-data op: weighted sampling without replacement "
    "(Efraimidis-Spirakis exponential keys over a deterministic md5 "
    "uniform — operators/sampling.py:weighted_sample_topk). Length-"
    "weighted corpus draws with zero RNG state: reproducible on any "
    "engine and partitioning, one TakeOrdered, no shuffle",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return sampling.weighted_sample_topk(docs, "doc_id", "n_chars", k=25)


@_spec(
    "unigram_logprob_quality",
    text.unigram_logprob_quality_sql(),
    "training-data op: LM quality proxy — per-doc mean unigram "
    "negative log-prob under the corpus's empirical distribution "
    "(operators/text.py:unigram_logprob_quality), the CCNet-style "
    "perplexity-filter shape with the corpus standing in for KenLM. "
    "Vocabulary table broadcasts (Zipf-tiny); only (id, logp) pairs "
    "shuffle",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_logprob_quality(docs)


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@_spec(
    "profile_documents_table",
    _X.profile_columns_sql("documents", _PROFILE_COLS) + " ORDER BY 1",
    "data-quality extension: one-pass column profiling "
    "(operators/expectations.py:profile_columns) — per-column nulls / "
    "distincts / min / max in a single Aggregate over one scan; the "
    "first query run on any unknown 100 TB table",
)
def profile_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import expectations as X

    docs = load_table(spark, sf_dir, "documents")
    return X.profile_columns(docs, _PROFILE_COLS).orderBy("column")


@_spec(
    "zipf_token_ranks",
    text.zipf_token_ranks_sql(top_k=50),
    "text-analytics extension: corpus rank-frequency (Zipf) table — "
    "top-50 tokens by exact count (operators/text.py:zipf_token_ranks)."
    " Map-side-combined term counts, TakeOrdered top-k, ranking window "
    "over 50 rows only",
)
def zipf_token_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.zipf_token_ranks(docs, top_k=50)


@_spec(
    "term_cooccurrence_lift",
    text.term_cooccurrence_lift_sql(vocab_k=200, top_pairs=30),
    "text-analytics extension: collocation mining — document-level "
    "term-pair co-occurrence with lift (linear PMI; same exact-int + "
    "single-divide reproducibility discipline as tfidf_top_terms). "
    "Vocabulary-pruned posting-list self-join: O(docs * per-doc-k²), "
    "never O(vocab²), no body shuffle",
)
def term_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.term_cooccurrence_lift(docs, vocab_k=200, top_pairs=30)


# ──────────────────────────────────────────────────────────────────────────
# wave88: Johnson-Lindenstrauss projection distortion audit
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "jl_projection_distortion",
    similarity.jl_distortion_report_sql(),
    "training-data op: Johnson-Lindenstrauss distortion audit of a "
    "pinned Rademacher projection R^64 -> R^16 — pairwise "
    "(||Ra-Rb||^2/k) / ||a-b||^2 ratios on the ABSOLUTE-capped "
    "deterministic sample (vec_id%7, <700: constant kernel cost at "
    "any corpus size, the containment_profile discipline). The +-1 "
    "matrix is md5-derived literals inlined in both engines, each "
    "projected coordinate one fixed-order signed sum, so the audit "
    "is bit-comparable. This is the go/no-go number before swapping "
    "full embeddings for cheap projections in dedup/ANN pipelines.",
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.jl_distortion_report(emb)
