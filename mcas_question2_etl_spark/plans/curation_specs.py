"""Training-data curation specs (dedup, sampling, linkage, ANN, layout, multimodal).

Consolidated from the round-1..3 wave modules (round 4, VERDICT r3
#7): spec names, oracles and bodies are unchanged (module-private
helpers colliding across waves carry a _w<N> suffix). Constituent
waves and their original one-line scopes:

#   wave4: Wave-4 extension specs: grouped closed-form regression, inverted
#   wave11: Wave-11 extension spec: EXACT set-similarity join with prefix-filter
#   wave15: Wave-15 extension specs: composed IVF-SQ ANN serving index,
#   wave16: Wave-16 extension specs: perceptual-hash image near-dup (aHash +
#   wave17: Wave-17 extension specs: Hilbert-curve layout keys (the
#   wave18: Wave-18 extension specs: Hilbert-vs-Morton pruning probe (measured
#   wave21: Wave-21 extension specs: quality-aware dedup survivorship,
#   wave23: Wave-23 extension specs: incremental near-dup (batch vs corpus
#   wave25: Wave-25 extension specs: dataset shard manifests (the reproducible
#   wave26: Wave-26 extension specs: per-epoch deterministic shuffle order (the
#   wave27: Wave-27 extension spec: full CDC apply with tombstones (deletes
#   wave30: Wave-30 extension spec: label-centroid separation — the embedding
#   wave31: Wave-31 extension spec: audio VAD-style active-segment extraction —
#   wave38: Wave-38 extension specs: web-scale curation/feature primitives —
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..catalog import load_table
from ..operators import pca as _pca
from ..operators import zorder as _zorder
from ..operators.regression import group_ols, group_ols_oracle_sql
from ..operators.sampling import hash_bucket, hash_bucket_sql
from ..operators.setjoin import naive_jaccard_join_sql, prefix_filter_jaccard_join
from ..operators import editjoin, similarity
from pyspark.sql import DataFrame, SparkSession, Window
from ..operators import timeseries
from ..operators.dedup import hamming_band_pairs
from ..operators.multimodal import ahash_words, ahash_words_sql, decode_thumbnails
from ..operators import editjoin, hilbert
from ..operators import hilbert, zorder
from ..operators.fanout import fan_out
from ..operators.similarity import cosine_sql, quantize, quantize_sql
from ..operators import clustering, sampling
from ..operators.sampling import hash_bucket_sql
from ..operators import dedup
from ..operators.ranking import with_global_row_number
from ..operators import aggregates
from ..operators.upsert import apply_cdc
from ..operators.similarity import quantize, quantize_sql
from ..operators.intervals import coalesce_intervals
from ..operators.multimodal import decode_thumbnails
from ..operators import bloomjoin, dsir, encoding, sampling, sketches, timeseries

from ..registry import QuerySpec, spec_decorator

SPECS: list[QuerySpec] = []


_spec = spec_decorator(SPECS)


# ──────────────────────────────────────────────────────────────────────────
# wave4
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "group_ols_price_on_quantity",
    group_ols_oracle_sql(
        "lineitem", ["l_returnflag", "l_linestatus"], "l_quantity", "l_extendedprice"
    ),
    "extension — per-group closed-form OLS (grouped analogue of the "
    "reference's single GLM, run_analysis.Rmd:80-99 / SURVEY §2.12 M1); "
    "six sufficient statistics in ONE hash aggregate, map-side combined, "
    "shuffle volume O(groups) not O(rows); identical raw-moment formula "
    "spelled out in the oracle, outputs rounded to 4",
)
def group_ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fit = group_ols(
        li, ["l_returnflag", "l_linestatus"], "l_quantity", "l_extendedprice"
    )
    return fit.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 4).alias("r2"),
    )


@_spec(
    "inverted_index_postings",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), clean AS (
      SELECT doc_id, term FROM toks WHERE term <> ''
    ), stats AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM clean GROUP BY term
    ), ranked AS (
      SELECT term, doc_id,
             ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM (SELECT DISTINCT term, doc_id FROM clean) d
    ), posts AS (
      SELECT term,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings_head
      FROM ranked WHERE rn <= 5 GROUP BY term
    )
    SELECT s.term, s.tf, s.df, p.postings_head
    FROM stats s JOIN posts p ON s.term = p.term
    WHERE s.df >= 5
    """,
    "extension — distributed inverted-index build (the construction "
    "step behind bm25_topk_retrieval): per-term document frequency, "
    "total term frequency, and the head of the sorted posting list. "
    "One explode + one shuffle on term; posting heads are bounded "
    "(top-5 by doc_id) so no unbounded list crosses the shuffle",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate to (term, doc_id) first: map-side combine collapses
    # repeated occurrences before the shuffle, and the final per-term
    # state is BOUNDED — only the rank-≤5 doc_ids enter the posting
    # collect (a collect_set of all docs for a stopword-grade term
    # would buffer millions of ids per key at corpus scale). The
    # groupBy("term") reuses the window's term-partitioning, so the
    # whole thing is two exchanges with sort-spillable state between.
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")
    per_doc = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    ranked = per_doc.withColumn("rn", rn)
    stats = ranked.groupBy("term").agg(
        F.sum("cnt").alias("tf"),
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(F.when(F.col("rn") <= 5, F.col("doc_id")))
            ),
        ).alias("postings_head"),
    )
    return stats.filter(F.col("df") >= 5).select("term", "tf", "df", "postings_head")


@_spec(
    "bpe_pair_merge_stats",
    """
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), pairs AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
      FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT 20
    """,
    "extension — the pair-frequency statistic driving a BPE tokenizer "
    "merge step (the train-side sibling of text.py's token_count_bpe): "
    "top adjacent character pairs across the corpus. Pure expression "
    "explode (transform over sequence), one shuffle on the 2-char pair "
    "key — at 100 TB the pair domain is ≤ alphabet², so the final agg "
    "is tiny however large the corpus; ties broken by pair for a "
    "deterministic cross-engine LIMIT",
)
def bpe_pair_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@_spec(
    "zorder_morton_keys",
    f"""
    SELECT c_custkey, c_nationkey,
           CAST({_zorder.morton_key_sql("c_custkey", "c_nationkey", bits=10)}
                AS BIGINT) AS zkey
    FROM customer
    """,
    "extension — Morton/Z-curve interleave keys for multi-dimensional "
    "file clustering (operators/zorder.py; Delta OPTIMIZE ZORDER "
    "analogue generalizing the reference's single-column county "
    "partitioning, election_results_etl.py:142). Closed-form bit "
    "arithmetic, whole-stage codegen, zero shuffle; the layout rewrite "
    "itself (zorder_by: repartitionByRange + sortWithinPartitions) is "
    "pruning-asserted in tests/test_sources.py",
)
def zorder_morton_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        _zorder.morton_key(F.col("c_custkey"), F.col("c_nationkey"), bits=10).alias(
            "zkey"
        ),
    )


def _max_dim_var_sql(dim: int = 64) -> str:
    terms = ",\n             ".join(
        f"var_pop(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(dim)
    )
    return f"GREATEST({terms})"


@_spec(
    "pca_variance_contract",
    f"""
    SELECT ROUND({_max_dim_var_sql(64)}, 4) AS max_dim_var,
           TRUE AS pc1_dominates
    FROM embeddings
    """,
    "extension — distributed PCA (operators/pca.py: shuffle-free "
    "mapInPandas Gram partials + driver d×d eigh, the MLlib RowMatrix "
    "split) under an accuracy-contract oracle: the variance captured by "
    "PC1 must dominate the best single axis (Rayleigh-quotient "
    "optimality), with the axis-variance side computed exactly by both "
    "engines. Exact projection parity vs numpy is pinned in "
    "tests/test_ml_multimodal.py",
)
def pca_variance_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps, _vals, mean = _pca.pca_components(emb, "embedding", k=1)
    proj = _pca.project(emb, comps, mean, "embedding", out="pc").select(
        F.element_at("pc", 1).alias("p")
    )
    var_pc1 = proj.agg(F.var_pop("p").alias("v"))
    dim_vars = emb.agg(
        *[
            F.var_pop(F.col("embedding")[i].cast("double")).alias(f"v{i}")
            for i in range(64)
        ]
    ).select(F.greatest(*[F.col(f"v{i}") for i in range(64)]).alias("max_v"))
    return var_pc1.crossJoin(dim_vars).select(
        F.round("max_v", 4).alias("max_dim_var"),
        (F.col("v") >= F.col("max_v") - F.lit(1e-6)).alias("pc1_dominates"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave11
# ──────────────────────────────────────────────────────────────────────────
#: deterministic 5% evaluation slice — the ORACLE is quadratic in the
#: slice, the Spark side is the near-linear prefix-filter join that
#: runs on the full corpus at scale
_SLICE_PCT = 5
_THRESHOLD = 0.6


@_spec(
    "prefix_filter_jaccard_pairs",
    naive_jaccard_join_sql(
        f"(SELECT doc_id, text FROM documents "
        f"WHERE {hash_bucket_sql('doc_id')} < {_SLICE_PCT})",
        "doc_id",
        "text",
        _THRESHOLD,
    ),
    "training-data op — EXACT similarity join (operators/setjoin.py): "
    "every pair with token-set Jaccard >= 0.6 via PPJoin-style prefix "
    "filtering — rarest-first global token order, candidates only from "
    "shared PREFIX tokens (hot stopwords sit at the order's end and "
    "never become join keys), exact int-array verification. Recall is "
    "exactly 1, which is why the oracle can be the NAIVE all-pairs "
    "join on the same slice: equal output proves the pruning sound. "
    "Complements minhash_lsh_portable (approx) with the "
    "guaranteed-complete variant",
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        hash_bucket("doc_id") < _SLICE_PCT
    )
    return prefix_filter_jaccard_join(docs, "doc_id", "text", _THRESHOLD)


# ──────────────────────────────────────────────────────────────────────────
# wave15
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "ann_ivf_sq_topk",
    similarity.ivf_sq_topk_sql(query_vec_id=1, k=5, n_centroids=8),
    "extension — composed IVF-SQ ANN (operators/similarity.py "
    "ivf_sq_topk): the FAISS IVFx,SQ8 layout — cell pruning "
    "(1/n_centroids of the table) times 1-byte scalar quantization "
    "(4x smaller scans), exact BIGINT ADC inside the probed cell. "
    "Oracle replays the identical assignment+quantize+rank pipeline "
    "in DuckDB list algebra",
)
def ann_ivf_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_sq_topk(emb, query_vec_id=1, k=5, n_centroids=8)


@_spec(
    "edit_distance_neighbors",
    """
    WITH pairs AS (
      SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= 1
    )
    SELECT a_id AS c_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(b_id) AS BIGINT) AS sum_peer_keys
    FROM pairs GROUP BY 1
    """,
    "extension — exact lev<=1 self-join WITHOUT the cartesian "
    "(operators/editjoin.py, SymSpell/FastSS deletion-neighborhood "
    "blocking): each string explodes to |s|+1 deletion keys in the "
    "scan stage, candidates come from an equi hash join on the key, "
    "and the exact levenshtein verifier runs only on candidates. The "
    "oracle IS the brute-force theta join — equality proves the "
    "deletion-neighborhood candidates have recall exactly 1. "
    "Completes the fuzzy-match family (fuzzy_match_names, "
    "sorted_neighborhood_pairs) with provably-lossless blocking",
)
def edit_distance_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pairs = editjoin.edit_distance_pairs(cust, "c_custkey", "c_name")
    return pairs.groupBy(F.col("a_id").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum("b_id").alias("sum_peer_keys"),
    )


@_spec(
    "join_cardinality_estimate",
    """
    WITH joined AS (
      SELECT o.o_orderkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    per_key AS (
      SELECT o_orderkey, COUNT(*) AS c FROM joined GROUP BY 1
    )
    SELECT CAST(SUM(c) AS BIGINT) AS join_rows,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           CAST(COUNT(*) AS BIGINT) AS n_join_keys
    FROM per_key
    """,
    "extension — join-size estimation from per-key histograms (the "
    "cost-based-optimizer statistic): |A JOIN B| = SUM over keys of "
    "cnt_A*cnt_B, computed from two small pre-aggregations joined on "
    "DISTINCT keys — the fact tables themselves are never joined. The "
    "oracle materializes the real join and counts; equality proves "
    "the histogram shortcut exact. At 100 TB this is how you price a "
    "join (and find its skew cap, max_key_rows) before paying for it",
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    co = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("ca"))
    cl = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    prod = co.join(cl, "o_orderkey").select(
        (F.col("ca") * F.col("cb")).alias("c")
    )
    return prod.agg(
        F.sum("c").alias("join_rows"),
        F.max("c").alias("max_key_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave16
# ──────────────────────────────────────────────────────────────────────────
# --------------------------------------------------------------------------
# perceptual-hash near-dup: groups of 5 docs share a base payload, each
# member's thumbnail gets one deterministic pixel perturbation -> planted
# near-duplicate images with hamming-close aHashes
# --------------------------------------------------------------------------

#: JVM-side perturbation on the decoded pixels (kernel stays a pure
#: function of the payload): pixel (media_id % 64) shifts by media_id % 7
_PERTURB = (
    "transform(pixels, (x, i) -> if(i = cast(media_id % 64 as int), "
    "cast((x + media_id % 7) % 16 as int), x))"
)

_ORACLE_W1, _ORACLE_W2 = ahash_words_sql("pixels")

_PHASH_ORACLE = f"""
    WITH base AS (
      SELECT d.doc_id AS media_id, b.text AS btext
      FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 5
    ),
    hexes AS (
      SELECT media_id,
             md5(btext || ':0') || md5(btext || ':1') AS hx
      FROM base
    ),
    px AS (
      SELECT media_id,
             [CASE WHEN (i - 1) = media_id % 64
                   THEN CAST((CAST(('0x' || substring(hx, i, 1)) AS INTEGER)
                              + media_id % 7) % 16 AS INTEGER)
                   ELSE CAST(('0x' || substring(hx, i, 1)) AS INTEGER) END
              for i in range(1, 65)] AS pixels
      FROM hexes
    ),
    hashed AS (
      SELECT media_id, {_ORACLE_W1} AS h1, {_ORACLE_W2} AS h2 FROM px
    ),
    pairs AS (
      SELECT a.media_id AS a_id, b.media_id AS b_id,
             CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2))
                  AS INTEGER) AS hamming
      FROM hashed a JOIN hashed b ON a.media_id < b.media_id
    )
    SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
"""


@_spec(
    "phash_image_neardup",
    _PHASH_ORACLE,
    "extension — perceptual-hash image near-dup: the pHash dedup "
    "pipeline for image corpora. Thumbnails decode via the Arrow "
    "mapInPandas kernel (operators/multimodal.py decode_thumbnails — "
    "fake 8x8 kernel, real PIL kernel slots in), aHash is a pure "
    "codegen expression (ahash_words), and pairing is hamming-band "
    "LSH (operators/dedup.py hamming_band_pairs): 4x16-bit bands "
    "guarantee recall for hamming <= 3 by pigeonhole, exact "
    "bit_count(xor) verify kills false positives. The oracle is the "
    "brute-force all-pairs scan over the SAME hashes — equality "
    "proves the banding lossless. Planted near-dups: payload groups "
    "of 5 with one deterministic pixel perturbation each",
)
def phash_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Decode each DISTINCT base payload exactly once, from a scan-shaped
    # plan (r9, guide §8 "decide with small rows / move heavy bytes
    # once"): the previous form joined every group member to its base
    # text FIRST and decoded the join output — running the Python
    # thumbnail kernel 5x per payload for identical pixels (the kernel
    # is a pure function of the payload) and feeding fan_out a
    # join-shaped plan whose Catalyst estimate is garbage. Decoding the
    # base slice keeps the kernel input a filtered scan (fan_out
    # spreads it), and the join back to members moves 64-int pixel
    # arrays, never payload bytes. Only referenced bases decode:
    # base_id = doc_id - doc_id % 5 is always ≡ 0 (mod 5).
    members = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") - F.col("doc_id") % 5).alias("base_id"),
    )
    base_media = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    base_px = decode_thumbnails(base_media).select(
        F.col("media_id").alias("base_id"),
        F.col("pixels").alias("base_pixels"),
    )
    thumbs = (
        members.join(base_px, "base_id")
        .select("media_id", F.col("base_pixels").alias("pixels"))
        .withColumn("pixels", F.expr(_PERTURB))
    )
    h1, h2 = ahash_words("pixels")
    hashed = thumbs.select("media_id", h1.alias("h1"), h2.alias("h2"))
    return hamming_band_pairs(
        hashed, "media_id", ["h1", "h2"], max_hamming=3, band_bits=16
    )


# --------------------------------------------------------------------------
# SFT conversation assembly: session -> ordered turn transcript
# --------------------------------------------------------------------------

_GAP_US = 1800 * 1_000_000


@_spec(
    "sft_conversation_render",
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
    )
    SELECT user_id, sid,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(event_type, ' -> ' ORDER BY t_us, event_id) AS transcript
    FROM sess GROUP BY user_id, sid
    """,
    "extension — SFT/dialog assembly: event streams become ordered "
    "per-session transcripts (the conversation-threading step of a "
    "fine-tuning data pipeline). Sessionize shares ONE user_id "
    "shuffle with the assembly aggregation; the transcript is a "
    "deterministic sorted collect_list fold, never a driver loop. "
    "Template rendering is a string expression — swap in any chat "
    "format at the same spot",
)
def sft_conversation_render(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(t_us, event_id, event_type))), x -> x.event_type)"
            ),
            " -> ",
        ).alias("transcript"),
    )


# --------------------------------------------------------------------------
# exact dyadic EWMA smoothing over the daily series
# --------------------------------------------------------------------------


@_spec(
    "ewma_daily_smoothing",
    timeseries.ewma_half_sql(
        """(SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2)""",
        "event_type",
        "day",
        "n_events",
    ),
    "extension — EWMA trend smoothing (operators/timeseries.py "
    "ewma_half): the recursive filter unrolled to ONE window prefix "
    "sum via the dyadic-alpha trick (alpha=1/2 makes every term an "
    "integer times a power of two, so doubles are exact and "
    "partition-order-independent — no iteration, no UDF, no float "
    "drift between engines). Input is the per-day rollup, so the "
    "window runs over days, never events",
)
def ewma_daily_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = timeseries.ewma_half(daily, ["event_type"], "day", "n_events")
    return out.select("event_type", "day", "n_events", "ewma")


# ──────────────────────────────────────────────────────────────────────────
# wave17
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "hilbert_curve_keys",
    hilbert.hilbert_oracle_sql(
        "customer", "c_custkey", "c_nationkey", "c_custkey, c_nationkey", 16
    ),
    "extension — Hilbert-curve clustering keys (operators/hilbert.py): "
    "the locality-optimal upgrade of zorder_morton_keys (consecutive "
    "keys are grid-ADJACENT cells, so a box query touches ~2x fewer "
    "contiguous key runs than under Morton — Moon et al. 2001, "
    "measured in pytest — i.e. fewer file-range seeks in a "
    "range-partitioned layout; the order Delta Liquid clustering "
    "defaults to). One aggregate-fold "
    "expression under codegen, zero shuffle; bit-identical across the "
    "Spark fold, the DuckDB recursive-CTE twin, and a pure-Python "
    "replay pinned in pytest together with the curve's defining "
    "bijectivity + unit-step-adjacency properties",
)
def hilbert_curve_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        hilbert.hilbert_key("c_custkey", "c_nationkey", 16).alias("hkey"),
    )


#: Fellegi-Sunter integer agreement weights (log-odds scaled x10, the
#: Splink/recordlinkage convention): exact arithmetic in any engine
_W = {
    "name_exact": 40,
    "name_fuzzy": 25,
    "nation_hit": 15,
    "nation_miss": -5,
    "seg_hit": 10,
    "seg_miss": -3,
    "bal_hit": 8,
    "bal_miss": -2,
}
_MATCH_T = 55

_FS_SCORE_SQL = f"""
      CASE WHEN dist = 0 THEN {_W['name_exact']} ELSE {_W['name_fuzzy']} END
      + CASE WHEN a_nation = b_nation THEN {_W['nation_hit']} ELSE {_W['nation_miss']} END
      + CASE WHEN a_seg = b_seg THEN {_W['seg_hit']} ELSE {_W['seg_miss']} END
      + CASE WHEN FLOOR(a_bal / 1000) = FLOOR(b_bal / 1000)
             THEN {_W['bal_hit']} ELSE {_W['bal_miss']} END
"""


@_spec(
    "fellegi_sunter_linkage",
    f"""
    WITH cands AS (
      SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             levenshtein(a.c_name, b.c_name) AS dist,
             a.c_nationkey AS a_nation, b.c_nationkey AS b_nation,
             a.c_mktsegment AS a_seg, b.c_mktsegment AS b_seg,
             a.c_acctbal AS a_bal, b.c_acctbal AS b_bal
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    scored AS (
      SELECT a_id, b_id, CAST({_FS_SCORE_SQL} AS INTEGER) AS score
      FROM cands
    )
    SELECT score, score >= {_MATCH_T} AS is_match,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a_id + b_id) AS BIGINT) AS sum_keys
    FROM scored GROUP BY 1, 2
    """,
    "extension — Fellegi-Sunter probabilistic record linkage (1969; "
    "the Splink decision model): blocked candidates from the "
    "exact-recall deletion-neighborhood join (operators/editjoin.py) "
    "scored with per-field integer agreement/disagreement weights — "
    "name edit distance, nation, segment, balance band — and "
    "thresholded into match verdicts. Integer weights keep the oracle "
    "exact; the oracle re-scores the brute-force candidate set, so "
    "equality also re-proves blocking recall. At scale the expensive "
    "part stays the candidate join; scoring is a scan-stage CASE chain",
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pairs = editjoin.edit_distance_pairs(cust, "c_custkey", "c_name")
    attrs = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    cands = (
        pairs.join(
            attrs.select(
                F.col("c_custkey").alias("a_id"),
                F.col("c_nationkey").alias("a_nation"),
                F.col("c_mktsegment").alias("a_seg"),
                F.col("c_acctbal").alias("a_bal"),
            ),
            "a_id",
        )
        .join(
            attrs.select(
                F.col("c_custkey").alias("b_id"),
                F.col("c_nationkey").alias("b_nation"),
                F.col("c_mktsegment").alias("b_seg"),
                F.col("c_acctbal").alias("b_bal"),
            ),
            "b_id",
        )
    )
    scored = cands.select(
        "a_id", "b_id", F.expr(_FS_SCORE_SQL).cast("int").alias("score")
    )
    return scored.groupBy(
        "score", (F.col("score") >= _MATCH_T).alias("is_match")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("a_id") + F.col("b_id")).alias("sum_keys"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave18
# ──────────────────────────────────────────────────────────────────────────
# --------------------------------------------------------------------------
# Hilbert vs Morton pruning probe: same machinery as wave9's
# zorder_pruning_stats, now comparing the two curve layouts head to head
# --------------------------------------------------------------------------

_HP_BITS = 10
_HP_SHIFT = 14  # bucket = key div 2^14 -> 64 buckets over a 2^20 key space
_HP_BOX = (100, 300, 400, 600)  # x_lo, x_hi, y_lo, y_hi


def _hp_oracle() -> str:
    x_lo, x_hi, y_lo, y_hi = _HP_BOX
    hil = hilbert.hilbert_oracle_sql(
        "pts", "x", "y", "x, y", _HP_BITS, key_alias="key"
    )
    return f"""
    WITH pts AS (
      SELECT CAST(l_partkey % {1 << _HP_BITS} AS BIGINT) AS x,
             CAST(l_orderkey % {1 << _HP_BITS} AS BIGINT) AS y
      FROM lineitem
    ),
    hkeys AS ({hil}),
    layouts AS (
      SELECT 'hilbert' AS layout, key // {1 << _HP_SHIFT} AS bucket, x, y
      FROM hkeys
      UNION ALL
      SELECT 'zorder' AS layout,
             CAST({zorder.morton_key_sql('x', 'y', _HP_BITS)} AS BIGINT)
               // {1 << _HP_SHIFT} AS bucket, x, y
      FROM pts
    ),
    per_bucket AS (
      SELECT layout, bucket,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             COUNT(*) AS n_rows,
             SUM(CASE WHEN x BETWEEN {x_lo} AND {x_hi}
                       AND y BETWEEN {y_lo} AND {y_hi} THEN 1 ELSE 0 END) AS n_match
      FROM layouts GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN min_x <= {x_hi} AND max_x >= {x_lo}
                          AND min_y <= {y_hi} AND max_y >= {y_lo}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
           CAST(SUM(CASE WHEN min_x <= {x_hi} AND max_x >= {x_lo}
                          AND min_y <= {y_hi} AND max_y >= {y_lo}
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matching
    FROM per_bucket GROUP BY 1
    """


@_spec(
    "hilbert_pruning_stats",
    _hp_oracle(),
    "extension — head-to-head layout probe: bucket the fact table "
    "under the Hilbert key and the Morton key (operators/hilbert.py / "
    "zorder.py), compute per-bucket min/max envelopes (exactly the "
    "parquet footer stats a file would carry) and count buckets/rows "
    "a 2-D box predicate must scan under each. The measured basis for "
    "choosing hilbert_by over zorder_by before paying for a layout "
    "rewrite. All-integer arithmetic, exact oracle (recursive-CTE "
    "Hilbert twin), one shuffle per layout branch",
)
def hilbert_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    x_lo, x_hi, y_lo, y_hi = _HP_BOX
    li = load_table(spark, sf_dir, "lineitem")
    # fan the 2-int projection out before the per-row curve folds: the
    # fact table reads as one split, and the Hilbert/Morton key
    # expressions are the heavy stage of this spec — 32-way beats
    # 1-way at a cost of a ~10 MB round-robin of (x, y) ints
    pts = fan_out(li.select(
        F.pmod("l_partkey", F.lit(1 << _HP_BITS)).cast("long").alias("x"),
        F.pmod("l_orderkey", F.lit(1 << _HP_BITS)).cast("long").alias("y"),
    ))
    layouts = pts.withColumn(
        "__k", hilbert.hilbert_key("x", "y", _HP_BITS)
    ).select(
        F.lit("hilbert").alias("layout"),
        F.expr(f"__k div {1 << _HP_SHIFT}").alias("bucket"),
        "x",
        "y",
    ).unionByName(
        pts.withColumn(
            "__k", zorder.morton_key(F.col("x"), F.col("y"), _HP_BITS)
        ).select(
            F.lit("zorder").alias("layout"),
            F.expr(f"__k div {1 << _HP_SHIFT}").alias("bucket"),
            "x",
            "y",
        )
    )
    in_box = F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi)
    per_bucket = layouts.groupBy("layout", "bucket").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(in_box.cast("int")).alias("n_match"),
    )
    hit = (
        (F.col("min_x") <= x_hi)
        & (F.col("max_x") >= x_lo)
        & (F.col("min_y") <= y_hi)
        & (F.col("max_y") >= y_lo)
    )
    return per_bucket.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(hit.cast("int")).cast("long").alias("n_buckets_hit"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matching"),
    )


# --------------------------------------------------------------------------
# PSI distribution drift: per-source population stability index of the
# n_chars distribution vs the whole corpus
# --------------------------------------------------------------------------

_PSI_BIN = "least(n_chars // 60, 10)"
_PSI_BIN_SPARK = "least(n_chars div 60, 10)"
_N_BINS = 11  # 0..10 after the clamp


@_spec(
    "psi_source_drift",
    f"""
    WITH binned AS (
      SELECT source, {_PSI_BIN} AS bin FROM documents
    ),
    per_source AS (
      SELECT source, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
    ),
    src_tot AS (SELECT source, SUM(c) AS n FROM per_source GROUP BY 1),
    gdist AS (SELECT bin, SUM(c) AS g FROM per_source GROUP BY 1),
    gtot AS (SELECT SUM(c) AS m FROM per_source),
    grid AS (
      SELECT s.source, b.bin, COALESCE(p.c, 0) AS c
      FROM (SELECT DISTINCT source FROM per_source) s
      CROSS JOIN (SELECT DISTINCT bin FROM per_source) b
      LEFT JOIN per_source p ON p.source = s.source AND p.bin = b.bin
    ),
    terms AS (
      SELECT g2.source,
             (CAST(g2.c + 1 AS DOUBLE) / (t.n + {_N_BINS}))
               AS p,
             (CAST(g.g + 1 AS DOUBLE) / (gt.m + {_N_BINS}))
               AS q
      FROM grid g2
      JOIN src_tot t USING (source)
      JOIN gdist g USING (bin)
      CROSS JOIN gtot gt
    )
    SELECT source,
           SUM((p - q) * ln(p / q)) AS psi
    FROM terms GROUP BY 1
    """,
    "extension — population stability index (the standard ML-ops "
    "drift monitor): per-source PSI of the document-length "
    "distribution against the whole corpus, add-one smoothed over a "
    "fixed bin grid so empty bins never divide by zero. Two tiny "
    "aggregations + a bins x sources grid join — the corpus is "
    "scanned ONCE and only (source, bin) counts shuffle. The gate "
    "for 'did this week's crawl change shape before it enters the "
    "training mix'",
)
def psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select("source", F.expr(_PSI_BIN_SPARK).alias("bin"))
    # materialize the tiny (source, bin) contingency table: four
    # downstream aggregates reuse it, and without the checkpoint each
    # would re-scan the corpus through the lineage
    per_source = (
        binned.groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    src_tot = per_source.groupBy("source").agg(F.sum("c").alias("n"))
    glob = per_source.groupBy("bin").agg(F.sum("c").alias("g"))
    glob_tot = per_source.agg(F.sum("c").alias("m"))
    grid = (
        per_source.select("source").distinct()
        .crossJoin(per_source.select("bin").distinct())
        .join(per_source, ["source", "bin"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    terms = (
        grid.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(glob), "bin")
        .crossJoin(F.broadcast(glob_tot))
        .select(
            "source",
            ((F.col("c") + 1).cast("double") / (F.col("n") + _N_BINS)).alias("p"),
            ((F.col("g") + 1).cast("double") / (F.col("m") + _N_BINS)).alias("q"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias(
            "psi"
        )
    )


# --------------------------------------------------------------------------
# Matryoshka-prefix recall: is the 16-dim prefix good enough to serve?
# --------------------------------------------------------------------------

_MRL_QUERIES = (1, 3, 5, 7, 9)
_MRL_PREFIX = 16
_MRL_K = 10


def _mrl_oracle() -> str:
    qs = ", ".join(str(q) for q in _MRL_QUERIES)
    full_q = quantize_sql("q.embedding")
    full_c = quantize_sql("c.embedding")
    pre_q = quantize_sql(f"q.embedding[1:{_MRL_PREFIX}]")
    pre_c = quantize_sql(f"c.embedding[1:{_MRL_PREFIX}]")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             {cosine_sql(full_q, full_c)} AS cos_full,
             {cosine_sql(pre_q, pre_c)} AS cos_prefix
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id IN ({qs})
    ),
    ranked AS (
      SELECT qid, cid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_full DESC, cid) AS r_full,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_prefix DESC, cid) AS r_pre
      FROM scored
    )
    SELECT qid,
           CAST(COUNT(CASE WHEN r_full <= {_MRL_K} AND r_pre <= {_MRL_K}
                           THEN 1 END) AS BIGINT) AS n_common,
           CAST({_MRL_K} AS BIGINT) AS k
    FROM ranked GROUP BY 1
    """


@_spec(
    "mrl_prefix_recall",
    _mrl_oracle(),
    "extension — Matryoshka-dimension serving check: per query, how "
    "many of the full-64-dim cosine top-k survive when only the first "
    "16 dims are stored (the MRL truncation question — 4x less "
    "embedding storage if recall holds). Both rankings are exact "
    "Q20-integer cosine, both engines agree bit-for-bit, and the "
    "per-query windows run over candidate COUNTS, not the corpus. "
    "Complements sq_ann_topk (byte-precision) with dim-truncation as "
    "the other compression axis",
)
def mrl_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_MRL_QUERIES)).select(
        F.col("vec_id").alias("qid"),
        quantize("embedding").alias("qv"),
        quantize(f"slice(embedding, 1, {_MRL_PREFIX})").alias("qp"),
    )
    cands = emb.select(
        F.col("vec_id").alias("cid"),
        quantize("embedding").alias("cv"),
        quantize(f"slice(embedding, 1, {_MRL_PREFIX})").alias("cp"),
    )
    from ..operators.similarity import cosine_str

    cos = lambda a, b: F.expr(cosine_str(a, b))
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            cos("qv", "cv").alias("cos_full"),
            cos("qp", "cp").alias("cos_prefix"),
        )
    )
    w_full = Window.partitionBy("qid").orderBy(
        F.col("cos_full").desc(), F.col("cid")
    )
    w_pre = Window.partitionBy("qid").orderBy(
        F.col("cos_prefix").desc(), F.col("cid")
    )
    ranked = scored.select(
        "qid",
        F.row_number().over(w_full).alias("r_full"),
        F.row_number().over(w_pre).alias("r_pre"),
    )
    return ranked.groupBy("qid").agg(
        F.sum(
            ((F.col("r_full") <= _MRL_K) & (F.col("r_pre") <= _MRL_K)).cast("int")
        )
        .cast("long")
        .alias("n_common"),
        F.lit(_MRL_K).cast("long").alias("k"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave21
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "dedup_keep_longest",
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
             FROM reach GROUP BY node),
    scored AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           doc_id AS survivor_id,
           CAST(sz AS BIGINT) AS cluster_size,
           n_chars AS best_quality
    FROM (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS sz
      FROM scored
    ) WHERE rn = 1
    """,
    "training-data op — quality-aware dedup survivorship "
    "(operators/clustering.py canonicalize_by): near-dup clusters "
    "(LSH pairs -> connected components) keep their LONGEST member "
    "instead of min-id — the keep-the-best-duplicate policy real "
    "corpus dedups want once a ranking signal exists (longest "
    "version, quality score, freshest crawl — the policy is one "
    "ORDER BY). Survivor pick is WindowGroupLimit over cluster "
    "members; the oracle replays the whole chain incl. the recursive "
    "BFS closure and the same argmax",
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .data_pipeline import _neardup_components

    docs = load_table(spark, sf_dir, "documents")
    # component labels shared with neardup_cluster_dedup via the
    # session-scoped materialization (VERDICT r3 #5) — the survivor
    # policy is the only per-spec work
    comp = _neardup_components(spark, sf_dir)
    return clustering.canonicalize_by(
        comp, docs.select("doc_id", "n_chars"), "n_chars"
    )


_ALPHA = 0.5
_BUDGET = 300
_BUCKETS = 1_000_000


@_spec(
    "temperature_mixture_sample",
    f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ),
    z AS (SELECT SUM(power(CAST(n AS DOUBLE), {_ALPHA})) AS z FROM counts),
    rates AS (
      SELECT source, n,
             power(CAST(n AS DOUBLE), {_ALPHA}) / z.z AS share,
             LEAST(1.0, {float(_BUDGET)} * (power(CAST(n AS DOUBLE), {_ALPHA}) / z.z) / n)
               AS rate
      FROM counts CROSS JOIN z
    ),
    kept AS (
      SELECT d.source FROM documents d JOIN rates r USING (source)
      WHERE CAST({hash_bucket_sql('doc_id', _BUCKETS)} AS DOUBLE) / {_BUCKETS}
            < r.rate
    )
    SELECT r.source, r.n AS n_docs, r.rate,
           CAST(COALESCE(k.c, 0) AS BIGINT) AS n_kept
    FROM rates r
    LEFT JOIN (SELECT source, COUNT(*) AS c FROM kept GROUP BY 1) k
      USING (source)
    """,
    "training-data op — temperature-based mixture sampling "
    "(operators/sampling.py temperature_sample; the mT5/XLM-R "
    "multilingual allocation rule): per-domain keep rate "
    "min(1, budget * n^alpha / (n * sum n^alpha)) with alpha=0.5 "
    "flattening the head, applied as the same deterministic "
    "monotone hash filter as mixture_sample. One aggregation builds "
    "the domains-sized rate table, which broadcasts into a scan-side "
    "filter — the corpus shuffles nothing",
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rates = sampling.temperature_rates(docs, "source", _ALPHA, _BUDGET)
    kept = sampling.temperature_sample(
        docs, "doc_id", "source", _ALPHA, _BUDGET, _BUCKETS
    )
    kept_counts = kept.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    return (
        rates.join(F.broadcast(kept_counts), "source", "left")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "rate",
            F.coalesce("c", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


@_spec(
    "late_arrival_report",
    """
    WITH arr AS (
      SELECT event_type, event_id, epoch_us(ts) AS t_us,
             MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                                     ORDER BY event_id
                                     ROWS UNBOUNDED PRECEDING) AS hw_us
      FROM events
    ),
    lat AS (
      SELECT event_type, hw_us - t_us AS late_us FROM arr
    )
    SELECT event_type,
           CASE WHEN late_us = 0 THEN 'on-time'
                WHEN late_us < 60 * 1000000 THEN 'lt-1m'
                WHEN late_us < 3600 * 1000000::BIGINT THEN 'lt-1h'
                WHEN late_us < 86400 * 1000000::BIGINT THEN 'lt-1d'
                ELSE 'ge-1d' END AS lateness,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM lat GROUP BY 1, 2
    """,
    "extension — event-lateness accounting: per event type, how far "
    "behind the running event-time high-watermark (over arrival "
    "order) each event arrives, bucketed into the delays that matter "
    "for watermark sizing. THE report you run before choosing "
    "withWatermark's delay (streaming/windows.py): the bucket "
    "histogram tells you directly what fraction of events a 1m/1h/1d "
    "watermark would drop. One shuffle (event_type), window over "
    "arrival order, integer micros end to end",
)
def late_arrival_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = events.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.max(F.unix_micros("ts")).over(w).alias("hw_us"),
    ).withColumn("late_us", F.col("hw_us") - F.col("t_us"))
    lateness = (
        F.when(F.col("late_us") == 0, "on-time")
        .when(F.col("late_us") < 60 * 1_000_000, "lt-1m")
        .when(F.col("late_us") < 3600 * 1_000_000, "lt-1h")
        .when(F.col("late_us") < 86400 * 1_000_000, "lt-1d")
        .otherwise("ge-1d")
    )
    return arr.groupBy("event_type", lateness.alias("lateness")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("late_us").alias("max_late_us"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave23
# ──────────────────────────────────────────────────────────────────────────
# --------------------------------------------------------------------------
# incremental near-dup: batch (doc_id % 10 == 7) vs corpus (the rest)
# --------------------------------------------------------------------------

@_spec(
    "neardup_incremental_batch",
    f"""
    WITH sh AS (
      SELECT doc_id, {dedup.char_ngrams_sql("text")} AS shingles
      FROM documents WHERE length(text) >= 3
    ),
    cb_all AS ({dedup.minhash_bands_sql("(SELECT * FROM sh WHERE doc_id % 10 <> 7)")}),
    cb AS ({dedup.cap_buckets_sql("cb_all")}),
    bb AS ({dedup.minhash_bands_sql("(SELECT * FROM sh WHERE doc_id % 10 = 7)")}),
    pairs AS ({dedup.bucket_pairs_sql("bb", "cb", names=("batch_id", "corpus_id"))})
    SELECT batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_collisions,
           CAST(SUM(corpus_id) AS BIGINT) AS sum_corpus_ids
    FROM pairs GROUP BY 1
    """,
    "training-data op — INCREMENTAL near-dup "
    "(operators/dedup.py minhash_lsh_between): a new batch bands "
    "against the stored corpus LSH index (minhash_bands — the "
    "materialized LSH band table), so a daily ingest "
    "costs O(batch bands + matched buckets) instead of re-deduping "
    "the corpus; the corpus-side degenerate-bucket guard mirrors the "
    "self-join case. Completes dedup_incremental_batch (exact "
    "fingerprints) with the NEAR-dup incremental path",
)
def neardup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    pairs = dedup.minhash_lsh_between(batch, corpus)
    return pairs.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_collisions"),
        F.sum("corpus_id").alias("sum_corpus_ids"),
    )


#: the star schema's FK edges: (fact, fk, dim, pk)
_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@_spec(
    "fk_orphan_report",
    "\nUNION ALL\n".join(
        f"""
        SELECT '{fact}.{fk}' AS edge,
               CAST((SELECT COUNT(*) FROM {fact}) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM {fact} f
        WHERE f.{fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{pk} = f.{fk})
        """
        for fact, fk, dim, pk in _FK_EDGES
    ),
    "extension — referential-integrity audit: orphan counts for every "
    "FK edge of the star schema in one report (left-anti probes; each "
    "dim side broadcasts, so no fact table ever shuffles). The "
    "data-quality gate that runs before any join-heavy workload — a "
    "nonzero row here is why a validated join (quality.py) would "
    "throw later. Extends the expectations suite "
    "(operators/expectations.py) from per-table to cross-table "
    "contracts",
)
def fk_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for fact, fk, dim, pk in _FK_EDGES:
        f = load_table(spark, sf_dir, fact)
        d = load_table(spark, sf_dir, dim)
        orphans = (
            f.filter(F.col(fk).isNotNull())
            .join(F.broadcast(d.select(F.col(pk).alias(fk))), fk, "leftanti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        row = (
            f.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans)
            .select(
                F.lit(f"{fact}.{fk}").alias("edge"), "n_rows", "n_orphans"
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@_spec(
    "token_gini_inequality",
    """
    WITH x AS (
      SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
    ),
    ranked AS (
      SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             SUM(v) OVER () AS s
      FROM x
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(s) AS DOUBLE) AS total_chars,
           SUM((2 * i - n - 1) * v) / (MAX(n) * MAX(s)) AS gini
    FROM ranked
    """,
    "extension — Gini coefficient of the per-document length "
    "distribution (the corpus-inequality number behind 'head domains "
    "dominate the token budget'): computed with the exact sorted-rank "
    "formula sum((2i-n-1)x_i)/(n*sum x). The global rank uses the "
    "TWO-PHASE distributed row-number (operators/ranking.py — range "
    "shuffle + per-partition windows + broadcast offsets), so no "
    "single-task global window even at corpus scale; ties in v are "
    "harmless because the formula's tie-order term telescopes",
)
def token_gini_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    x = docs.select(
        F.col("n_chars").cast("double").alias("v"), F.col("doc_id")
    )
    ranked = with_global_row_number(x, ["v", "doc_id"], out_col="i")
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n_docs"),
            F.max("s").cast("double").alias("total_chars"),
            (
                F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("v"))
                / (F.max("n") * F.max("s"))
            ).alias("gini"),
        )
    )


# ──────────────────────────────────────────────────────────────────────────
# wave25
# ──────────────────────────────────────────────────────────────────────────
_N_SHARDS = 16
#: 48-bit md5 head: wide enough to make collisions in a checksum-sum
#: negligible, narrow enough that BIGINT sums cannot overflow
_CKSUM = "cast(conv(substring(md5(text), 1, 12), 16, 10) as bigint)"
_CKSUM_SQL = "CAST(('0x' || substring(md5(text), 1, 12)) AS BIGINT)"


@_spec(
    "shard_manifest",
    f"""
    SELECT {hash_bucket_sql('doc_id', _N_SHARDS)} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({_CKSUM_SQL}) AS BIGINT) AS content_checksum,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents GROUP BY 1
    """,
    "training-data op — shard manifest generation: the export "
    "contract of a training corpus (WebDataset/streaming-loader "
    "shape). Shard membership is the stable md5 bucket (adding "
    "shards never reassigns docs between existing ones in a rebuild "
    "with the same count), and each shard row carries doc count, "
    "char volume, and an order-independent content checksum (SUM of "
    "48-bit md5 heads) — enough for a consumer to verify a shard "
    "without reading its neighbors. One aggregation, one shuffle of "
    "(shard, partials)",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        hash_bucket("doc_id", _N_SHARDS).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.expr(_CKSUM)).alias("content_checksum"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_SAMPLE_MOD = 5
#: absolute cap on the verification sample: the truth kernel is
#: all-pairs (quadratic), so the sample must stay FIXED-size as the
#: corpus grows — ids < 1000 keeps sf0.001/sf0.01 samples identical
#: (every doc id there is < 1000) and bounds sf0.1+ to ~200 docs
_SAMPLE_CAP = 1000
_J_THRESH = 0.6


#: the two graded banding settings: the oracle-cheap test family and
#: the production family (dedup.MH_PROD_*). Design recall at the
#: j=0.9 near-dup threshold is the closed-form S-curve 1-(1-j^r)^b —
#: a pinned constant on both engines, documenting what the banding
#: PROMISES while the measured columns show what it DELIVERS on this
#: corpus at the specs' j>=0.6 gate.
_SETTINGS = [
    ("test_8p_4x2", dedup.MH_PARAMS, dedup.MH_BAND_ROWS),
    (
        "prod_128p_16x8",
        dedup.mh_family(dedup.MH_PROD_PERMS),
        dedup.MH_PROD_BAND_ROWS,
    ),
]


def _design_recall(params, band_rows: int, j: float = 0.9) -> float:
    b = len(params) // band_rows
    return round(1.0 - (1.0 - j**band_rows) ** b, 6)


def _setting_ctes(label: str, params, band_rows: int) -> str:
    """Per-setting candidate CTE chain (bands -> capped -> cand -> tp)."""
    return f"""
    allb_{label} AS ({dedup.minhash_bands_sql("sh", params=params, band_rows=band_rows)}),
    bands_{label} AS ({dedup.cap_buckets_sql(f"allb_{label}")}),
    cand_{label} AS ({dedup.bucket_pairs_sql(f"bands_{label}")}),
    tp_{label} AS (SELECT * FROM cand_{label} INTERSECT SELECT * FROM truth)"""


def _setting_row_sql(label: str, design: float) -> str:
    return f"""
    SELECT '{label}' AS setting,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand_{label}) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM tp_{label}) AS BIGINT)
             AS n_true_positives,
           (SELECT COUNT(*) FROM tp_{label})
             / NULLIF(CAST((SELECT COUNT(*) FROM cand_{label}) AS DOUBLE), 0)
             AS precision,
           (SELECT COUNT(*) FROM tp_{label})
             / NULLIF(CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 0)
             AS recall,
           CAST({design!r} AS DOUBLE) AS design_recall_at_090"""


_LSH_ORACLE = f"""
    WITH sample AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_SAMPLE_MOD} = 0 AND doc_id < {_SAMPLE_CAP}
        AND length(text) >= 3
    ),
    sh AS (SELECT doc_id, {dedup.char_ngrams_sql("text")} AS shingles FROM sample),
    truth AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE {dedup.jaccard_sql("a.shingles", "b.shingles")} >= {_J_THRESH}
    ),{",".join(_setting_ctes(lb, p, r) for lb, p, r in _SETTINGS)}
    {" UNION ALL ".join(_setting_row_sql(lb, _design_recall(p, r)) for lb, p, r in _SETTINGS)}
"""


@_spec(
    "lsh_quality_report",
    _LSH_ORACLE,
    "training-data op — LSH quality report at BOTH banding settings "
    "(test 8-perm 4x2 and production 128-perm 16x8, "
    "operators/dedup.mh_family): measured precision/recall of each "
    "candidate generator against the exact Jaccard kernel on a "
    "deterministic sample, plus the closed-form S-curve recall each "
    "banding guarantees at the j=0.9 near-dup threshold — the "
    "trust-the-scale-path numbers you recompute whenever the corpus "
    "distribution shifts. All-pairs truth runs ONLY on the bounded "
    "sample; candidates come from the production banding machinery "
    "(same bucket guard). Exact integer counts; ratios divide at "
    "the end",
)
def lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sample = fan_out(
        docs.filter(
            (F.col("doc_id") % _SAMPLE_MOD == 0)
            & (F.col("doc_id") < _SAMPLE_CAP)
            & (F.length("text") >= 3)
        ),
        "doc_id",
    )  # the 128-perm signature otherwise hashes every shingle on 1 core
    truth = (
        dedup.ngram_jaccard_pairs(sample)
        .filter(F.col("jaccard") >= _J_THRESH)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    n_truth = truth.count()
    rows = []
    for label, params, band_rows in _SETTINGS:
        cand = dedup.minhash_lsh_candidates(
            sample, params=params, band_rows=band_rows
        ).localCheckpoint(eager=False)
        n_cand = cand.count()
        n_tp = cand.join(truth, ["a_id", "b_id"], "leftsemi").count()
        rows.append(
            (
                label,
                n_truth,
                n_cand,
                n_tp,
                n_tp / n_cand if n_cand else None,
                n_tp / n_truth if n_truth else None,
                _design_recall(params, band_rows),
            )
        )
    return spark.createDataFrame(
        rows,
        "setting string, n_truth long, n_candidates long, "
        "n_true_positives long, precision double, recall double, "
        "design_recall_at_090 double",
    )


# ──────────────────────────────────────────────────────────────────────────
# wave26
# ──────────────────────────────────────────────────────────────────────────
_EPOCHS = (0, 1)


@_spec(
    "epoch_shuffle_order",
    f"""
    WITH keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(e.epoch AS VARCHAR))
               AS sort_key
      FROM documents d
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _EPOCHS))}]) AS epoch) e
    ),
    ordered AS (
      SELECT epoch, doc_id,
             CAST(row_number() OVER (PARTITION BY epoch ORDER BY sort_key)
                  AS BIGINT) AS pos
      FROM keyed
    )
    SELECT CAST(epoch AS INTEGER) AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id * pos) AS BIGINT) AS perm_checksum,
           CAST(MIN(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc
    FROM ordered GROUP BY 1
    """,
    "training-data op — per-epoch deterministic shuffle: the "
    "dataloader permutation done ENGINE-SIDE (order by "
    "md5(doc_id#epoch)), so every worker, restart, and engine agrees "
    "on epoch ordering without materializing an index. The "
    "position-weighted checksum SUM(doc_id*pos) pins the ENTIRE "
    "permutation per epoch in one number (different epochs -> "
    "different checksums, re-runs -> identical). Global positions "
    "use the two-phase distributed row-number — no single-task "
    "window. In production the same sort key feeds "
    "write_range_partitioned to lay shards out in epoch order",
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.createDataFrame([(e,) for e in _EPOCHS], "epoch int")
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("epoch").cast("string"))
        ).alias("sort_key"),
    )
    ordered = with_global_row_number(
        keyed.repartition("epoch"), ["epoch", "sort_key"], out_col="gpos"
    )
    # gpos is the position in the (epoch, key) total order; per-epoch
    # position = gpos - (rows in earlier epochs), a broadcast offset
    offs = ordered.groupBy("epoch").agg(F.min("gpos").alias("base"))
    per_epoch = ordered.join(F.broadcast(offs), "epoch").withColumn(
        "pos", F.col("gpos") - F.col("base") + 1
    )
    return per_epoch.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("doc_id") * F.col("pos")).alias("perm_checksum"),
        F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("first_doc"),
    )


@_spec(
    "cross_source_shared_openings",
    """
    WITH fp AS (
      SELECT doc_id, source, md5(substring(text, 1, 40)) AS f FROM documents
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
      WHERE a.source <> b.source
    )
    SELECT LEAST(source_a, source_b) AS source_x,
           GREATEST(source_a, source_b) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY 1, 2
    """,
    "training-data op — cross-source shared-opening provenance: "
    "which crawl sources ship documents with IDENTICAL openings "
    "(md5 of the first 40 chars, the boilerplate-header fingerprint "
    "— this corpus has no full-body cross-source dups, openings DO "
    "collide) — the overlap matrix that flags shared templates/"
    "mirrors before paying for near-dup passes. Only 32-hex "
    "fingerprints shuffle, never bodies; pair cost follows "
    "duplicate mass, not corpus size",
)
def cross_source_shared_openings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", F.md5(F.substring("text", 1, 40)).alias("f"))
    a = fp.select(
        F.col("f"), F.col("doc_id").alias("a_id"), F.col("source").alias("source_a")
    )
    b = fp.select(
        F.col("f"), F.col("doc_id").alias("b_id"), F.col("source").alias("source_b")
    )
    pairs = (
        a.join(b, "f")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("source_a") != F.col("source_b"))
        )
    )
    return pairs.groupBy(
        F.least("source_a", "source_b").alias("source_x"),
        F.greatest("source_a", "source_b").alias("source_y"),
    ).agg(F.count(F.lit(1)).alias("n_dup_pairs"))


# ──────────────────────────────────────────────────────────────────────────
# wave27
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "cdc_apply_with_deletes",
    """
    WITH changes AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    latest AS (
      SELECT user_id, value, op FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM changes
      ) WHERE rn = 1
    ),
    live AS (SELECT user_id, value FROM latest WHERE op <> 'D')
    SELECT CAST((SELECT COUNT(*) FROM live) AS BIGINT) AS n_live,
           CAST((SELECT COUNT(*) FROM latest WHERE op = 'D') AS BIGINT)
             AS n_tombstoned,
           CAST((SELECT SUM(CAST(value AS DECIMAL(18,2))) FROM live) AS DOUBLE)
             AS sum_live_value
    """,
    "extension — full CDC apply (operators/upsert.py apply_cdc): "
    "Debezium/DMS semantics where the LAST change per key wins and a "
    "trailing tombstone removes the key (while delete-then-reinsert "
    "resurrects it) — the piece merge_upsert (no deletes) and "
    "changelog_latest_state (no tombstones) leave open; together the "
    "three cover the row-level mutation surface. One shuffle on the "
    "key, WindowGroupLimit top-1, tombstone filter after the "
    "latest-pick. Changelog synthesized from events (clicks = "
    "deletes); DECIMAL sum keeps the check exact",
)
def cdc_apply_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    changes = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "click", "D").otherwise("U").alias("op"),
    )
    live = apply_cdc(changes, ["user_id"], ["ts", "event_id"])
    n_live = live.agg(F.count(F.lit(1)).alias("c"))
    n_tomb = (
        changes.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter((F.col("__rn") == 1) & (F.col("op") == "D"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    sums = live.agg(
        aggregates.money_sum("value").alias("s")
    )
    return (
        n_live.crossJoin(n_tomb)
        .crossJoin(sums)
        .select(
            F.col("c").alias("n_live"),
            F.col("d").alias("n_tombstoned"),
            F.col("s").alias("sum_live_value"),
        )
    )


# ──────────────────────────────────────────────────────────────────────────
# wave30
# ──────────────────────────────────────────────────────────────────────────
_DIM = 64


@_spec(
    "label_centroid_separation",
    f"""
    WITH q AS (
      SELECT label, {quantize_sql('embedding')} AS qv FROM embeddings
    ),
    dims AS (
      SELECT label, t.i, SUM(qv[t.i]) AS s, COUNT(*) AS n
      FROM q, unnest(range(1, {_DIM + 1})) AS t(i)
      GROUP BY label, t.i
    ),
    cent AS (
      SELECT label, MAX(n) AS n,
             list(CAST(s AS DOUBLE) / n ORDER BY i) AS c
      FROM dims GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           sqrt(list_sum([(x[1] - x[2]) * (x[1] - x[2])
                          for x in list_zip(a.c, b.c)])) AS centroid_dist
    FROM cent a JOIN cent b ON a.label < b.label
    """,
    "extension — label-centroid separation matrix: per-class centroids "
    "of the embedding space (exact per-dimension BIGINT sums over the "
    "Q20 grid, divided once) and the pairwise centroid distances — "
    "the first diagnostic of whether labels are separable in an "
    "embedding space before training a probe on it. One aggregation "
    "over the vectors (centroids are labels-sized and broadcastable); "
    "the pair join runs over k rows. Exact integer sums make the "
    "centroids bit-identical across engines and partitionings",
)
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", quantize("embedding").alias("qv"))
    # per-dim BIGINT sums in ONE aggregate: fold the collected batch
    # per dimension via aggregate() over the vector index
    dim_sums = [
        F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(_DIM)
    ]
    sums = q.groupBy("label").agg(F.count(F.lit(1)).alias("n"), *dim_sums)
    cent = sums.select(
        "label",
        "n",
        F.array(
            *[
                (F.col(f"s{i}").cast("double") / F.col("n"))
                for i in range(_DIM)
            ]
        ).alias("c"),
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("n").alias("n_a"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("n").alias("n_b"), F.col("c").alias("cb")
    )
    dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )
    )
    return (
        a.crossJoin(b)
        .filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", "n_a", "n_b", dist.alias("centroid_dist"))
    )


# ──────────────────────────────────────────────────────────────────────────
# wave31
# ──────────────────────────────────────────────────────────────────────────
#: frames with energy >= threshold are "speech"
_ENERGY_T = 8


@_spec(
    "audio_active_segments",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id,
             md5(text || ':0') || md5(text || ':1') AS hx
      FROM documents
    ),
    frames AS (
      SELECT media_id, i - 1 AS frame,
             CAST(('0x' || substring(hx, i, 1)) AS INTEGER) AS energy
      FROM media, unnest(range(1, 65)) AS t(i)
    ),
    active AS (
      SELECT media_id, frame AS s, frame + 1 AS e
      FROM frames WHERE energy >= {_ENERGY_T}
    ),
    flagged AS (
      SELECT media_id, s, e,
             MAX(e) OVER (PARTITION BY media_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM active
    ),
    grouped AS (
      SELECT media_id, s, e,
             SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY media_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS period_id
      FROM flagged
    ),
    segs AS (
      SELECT media_id, period_id, MIN(s) AS seg_start, MAX(e) AS seg_end
      FROM grouped GROUP BY 1, 2
    )
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(seg_end - seg_start) AS BIGINT) AS active_frames,
           CAST(MAX(seg_end - seg_start) AS BIGINT) AS longest_segment
    FROM segs GROUP BY 1
    """,
    "multimodal (audio) — VAD-style active-segment extraction: the "
    "deterministic fake energy envelope (64 frames from the payload's "
    "md5 keystream — a real RMS-frame kernel slots into the same "
    "decode_thumbnails plumbing) is thresholded into active frames "
    "and coalesced into speech segments with the SAME interval-union "
    "operator the session analytics use (operators/intervals.py "
    "coalesce_intervals) — modality-agnostic composition. Per-media "
    "windows ride one media_id shuffle; payloads never leave the "
    "decode stage",
)
def audio_active_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    env = decode_thumbnails(media, media_type="audio").withColumnRenamed(
        "pixels", "energy"
    )
    frames = env.select(
        "media_id",
        F.posexplode("energy").alias("frame", "e"),
    )
    active = frames.filter(F.col("e") >= _ENERGY_T).select(
        "media_id",
        F.col("frame").cast("long").alias("s"),
        (F.col("frame") + 1).cast("long").alias("e"),
    )
    segs = coalesce_intervals(active, ["media_id"], "s", "e")
    return segs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("period_end") - F.col("period_start")).alias("active_frames"),
        F.max(F.col("period_end") - F.col("period_start")).alias("longest_segment"),
    )


# ──────────────────────────────────────────────────────────────────────────
# wave38
# ──────────────────────────────────────────────────────────────────────────
# --- DSIR importance weights -------------------------------------------------

@_spec(
    "dsir_importance_weights",
    dsir.dsir_log_weights_sql("lang = 'en'"),
    "training-data op — DSIR (Xie et al. 2023) data selection: per-doc "
    "log importance weight of the raw corpus against the English slice "
    "as target distribution, on a 64-bucket hashed unigram feature "
    "space with add-0.5 smoothing. The bucket log-ratio table is "
    "corpus-size-independent (64 rows) and broadcasts; the corpus "
    "shuffles only (doc_id, bucket) pairs.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dsir.dsir_log_weights(docs, F.col("lang") == "en")


# --- count-min sketch --------------------------------------------------------

@_spec(
    "countmin_user_frequency",
    f"""
    WITH probes AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY user_id
      ORDER BY exact_cnt DESC, user_id LIMIT 10
    ),
    cells AS (
      SELECT cm_row, cm_bucket, CAST(COUNT(*) AS BIGINT) AS cm_count
      FROM (
        {" UNION ALL ".join(
            f"SELECT {r} AS cm_row, "
            f"CAST(('0x' || substring(md5(concat('cm{r}:', "
            f"CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 256 AS cm_bucket "
            "FROM events"
            for r in range(4)
        )}
      ) GROUP BY cm_row, cm_bucket
    ),
    est AS (
      SELECT p.user_id, p.exact_cnt,
             CAST(MIN(c.cm_count) AS BIGINT) AS cm_est
      FROM probes p
      JOIN cells c
        ON c.cm_bucket = CAST(('0x' || substring(md5(concat('cm' || c.cm_row
             || ':', CAST(p.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 256
      GROUP BY p.user_id, p.exact_cnt
    )
    SELECT user_id, exact_cnt, cm_est,
           cm_est - exact_cnt AS overestimate
    FROM est
    """,
    "training-data op — count-min sketch (Cormode & Muthukrishnan "
    "2005): 4x256 salted-hash counter grid over events.user_id; the "
    "top-10 exact heavy hitters probed against the sketch, reporting "
    "the one-sided overestimate. The grid merges by summing counters "
    "(map-side combine carries the reduction); estimates never "
    "undercount.",
)
def countmin_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    exact = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "user_id")
        .limit(10)
    )
    est = sketches.countmin_estimate(events, exact.select("user_id"), "user_id")
    return exact.join(F.broadcast(est), "user_id").select(
        "user_id",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).alias("overestimate"),
    )


# --- bloom prefilter join ----------------------------------------------------

@_spec(
    "bloom_prefilter_join",
    bloomjoin.bloom_join_report_sql(
        "orders",
        "customer",
        "o_custkey",
        "c_custkey",
        build_where="c_mktsegment = 'BUILDING'",
    ),
    "join optimization — explicit bloom-filter join prefilter: "
    "BUILDING-segment customers hashed k=3 times into an m=4096 bit "
    "set, broadcast, and orders prefiltered before the exact join; "
    "reports realized candidate counts and false-positive rate. At "
    "scale the bit set is fixed-size regardless of build cardinality "
    "and survivors alone pay the join shuffle.",
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return bloomjoin.bloom_join_report(orders, cust, "o_custkey", "c_custkey")


# --- per-domain cap ----------------------------------------------------------

@_spec(
    "domain_cap_sample",
    """
    WITH domains AS (
      SELECT doc_id, source,
             source || '-'
               || CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % 7 AS VARCHAR) AS domain
      FROM documents
    ),
    ranked AS (
      SELECT source, domain,
             row_number() OVER (
               PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM domains
    )
    SELECT source,
           CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM ranked GROUP BY source
    """,
    "training-data op — per-domain document cap (the C4/RefinedWeb "
    "anti-megadomain rule): docs bucketed into synthetic domains "
    "(source x md5(doc_id)%7), at most 3 kept per domain by "
    "deterministic hash order; per-source kept/total audit. The cap "
    "window partitions on the domain key, so skewed domains discard "
    "in their own partition without a global sort.",
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("source"),
            F.lit("-"),
            (
                F.expr(
                    "cast(conv(substring(md5(cast(doc_id as string)), 1, 15),"
                    " 16, 10) as bigint) % 7"
                )
            ).cast("string"),
        ).alias("domain"),
    )
    kept = sampling.cap_per_group(docs, ["domain"], "doc_id", cap=3)
    totals = docs.groupBy("source").agg(
        F.countDistinct("domain").cast("long").alias("n_domains"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    kept_counts = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return totals.join(kept_counts, "source").select(
        "source", "n_domains", "n_docs", "n_kept"
    )


# --- CUSUM changepoint -------------------------------------------------------

_DAILY_SQL = """
    SELECT CAST(ts AS DATE) AS day, AVG(value) AS daily_mean
    FROM events GROUP BY 1
"""


@_spec(
    "cusum_changepoint",
    timeseries.cusum_changepoint_sql(_DAILY_SQL),
    "time-series op — single-changepoint CUSUM (Page 1954): daily mean "
    "of events.value, prefix-sum CUSUM over the (tiny) daily aggregate, "
    "argmax |S_t| with normalized statistic and pre/post means. Raw "
    "events reduce in a keyed groupBy; only the daily series enters "
    "the ordered window.",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.avg("value").alias("daily_mean")
    )
    return timeseries.cusum_changepoint(daily)


# --- out-of-fold target encoding --------------------------------------------

@_spec(
    "oof_target_encoding",
    encoding.oof_target_encoding_sql(
        "orders", "o_orderpriority", "o_totalprice", "o_orderkey"
    ),
    "ML-pipeline op — leakage-free out-of-fold target encoding: "
    "o_orderpriority mean-encoded against o_totalprice with 5 "
    "deterministic md5 folds on o_orderkey; each (level, fold) cell's "
    "encoding uses only other folds (complement trick over one "
    "(level,fold) groupBy + a window over the tiny aggregate).",
)
def oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return encoding.oof_target_encoding(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


# ──────────────────────────────────────────────────────────────────────────
# wave79: embedding-space evaluation / diversified retrieval
# ──────────────────────────────────────────────────────────────────────────
@_spec(
    "knn_label_eval",
    similarity.knn_label_eval_sql(),
    "training-data op — leave-one-out k-NN label-prediction accuracy "
    "over the embedding table (Q20 exact-integer cosine, total "
    "majority-vote tie order): the does-distance-predict-label gate "
    "before any embedding-based curation. Sampled probes broadcast; "
    "the corpus scans once, no self-join.",
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_eval(emb)


@_spec(
    "novelty_vs_centroid",
    similarity.novelty_vs_centroid_sql(),
    "training-data op — least-typical members per label by cosine to "
    "the label centroid (floor-divided exact-integer centroid, no "
    "overflow at scale): the outlier-mining dual of semdedup_prune. "
    "One dim-wise aggregate, one broadcast join back, one "
    "TakeOrderedAndProject.",
)
def novelty_vs_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.novelty_vs_centroid(emb)


@_spec(
    "mmr_diversified_topk",
    similarity.mmr_topk_sql(),
    "training-data op — Maximal Marginal Relevance diversified top-k "
    "re-ranking (lam=0.7) over the ANN candidate pool: greedy "
    "relevance-minus-redundancy selection unrolled into the plan "
    "(zero driver loops); the retrieval dual of semdedup. Pool stage "
    "is a TakeOrderedAndProject; rounds run on the tiny pool only.",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_topk(emb)


# ──────────────────────────────────────────────────────────────────────────
# wave110: audio spectral profile (operators/multimodal.py)
# ──────────────────────────────────────────────────────────────────────────
from ..operators.multimodal import spectral_profile, spectral_profile_sql

_FRAMES_SQL_W110 = """SELECT media_id, frame, energy FROM (
      SELECT doc_id AS media_id, i - 1 AS frame,
             CAST(('0x' || substring(
                 md5(text || ':0') || md5(text || ':1'), i, 1))
               AS INTEGER) AS energy
      FROM documents, unnest(range(1, 65)) AS t(i)
    )"""


@_spec(
    "audio_spectral_profile",
    spectral_profile_sql(_FRAMES_SQL_W110),
    "multimodal (audio) — spectral profile of the shared 64-frame "
    "energy envelope (same deterministic decode as "
    "audio_active_segments): explicit DFT bins X_k = sum e_n * "
    "exp(-2*pi*i*k*n/N) for k = 1..8 spelled as cos/sin sums — the "
    "no-Python-in-the-hot-path audio transform (an FFT library would "
    "be a UDF; the O(N*k) naive form IS expression code in both "
    "engines). Reports per-media band power, spectral centroid (bin "
    "units) and spectral flatness (1 = white, -> 0 = tonal); one "
    "explode to N*8 rows per media + two rollups.",
)
def audio_spectral_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5(F.concat(F.col("text"), F.lit(":0"))),
        F.md5(F.concat(F.col("text"), F.lit(":1"))),
    )
    frames = docs.select(
        F.col("doc_id").alias("media_id"), hx.alias("__hx")
    ).select(
        "media_id",
        F.posexplode(
            F.split(F.regexp_replace("__hx", "(.)", "$1,"), ",").cast(
                "array<string>"
            )
        ).alias("frame", "__nib"),
    ).filter(F.col("__nib") != "").select(
        "media_id",
        "frame",
        F.conv(F.col("__nib"), 16, 10).cast("int").alias("energy"),
    )
    return spectral_profile(frames)


# ──────────────────────────────────────────────────────────────────────────
# wave 123: RFF-MMD embedding drift (kernel two-sample test, linear time)
# ──────────────────────────────────────────────────────────────────────────
from ..operators.mmd import mmd_rff, mmd_rff_sql


@_spec(
    "mmd_rff_label_drift",
    mmd_rff_sql(
        "SELECT label, embedding FROM embeddings",
        "label < 5",
    ),
    "embedding-drift op — kernel two-sample MMD² between the label<5 "
    "and label>=5 embedding populations via Random Fourier Features "
    "(Rahimi-Recht): 32 md5-derived (W, b) constants embedded as "
    "LITERALS in both engines, z = sqrt(2/D)·cos(Wx+b) rounded to 6dp "
    "(the trig-determinism rule) and accumulated as exact DECIMAL, "
    "MMD² = ||mean_P z - mean_Q z||². ONE corpus scan + a 2·D-row "
    "shuffle — the linear-time scale path where the quadratic-time "
    "estimator needs |P|x|Q| kernel evals; mmd_scaled = "
    "n_p·n_q/(n_p+n_q)·MMD² is the asymptotically pivotal statistic, "
    "comparable across corpus sizes.",
)
def mmd_rff_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return mmd_rff(emb, F.col("label") < 5)


# ──────────────────────────────────────────────────────────────────────────
# wave 163: exact KNN-Shapley training-data valuation
# ──────────────────────────────────────────────────────────────────────────
from ..operators.similarity import (
    knn_shapley_valuation,
    knn_shapley_valuation_sql,
)


@_spec(
    "knn_shapley_valuation_emb",
    knn_shapley_valuation_sql(),
    "curation op — EXACT per-vector Shapley value under the K-NN "
    "utility (Jia et al. 2019): which training vectors help (and "
    "which actively hurt) label prediction — the data-valuation gate "
    "before paying to keep or label more of a source, and the "
    "principled upgrade of knn_label_eval's aggregate accuracy. The "
    "closed recursion over each probe's distance ranking TELESCOPES "
    "into one suffix-sum window, so the exact game-theoretic value "
    "costs two windows over the bounded probe-pair table — no "
    "Monte-Carlo, no iteration. Emits the top/bottom 10 by value; "
    "the efficiency axiom (per-probe sum = full-set utility) is "
    "pinned in the wave test. Q20 cosines, broadcast probe cap, "
    "O(n x probes) pairs.",
)
def knn_shapley_valuation_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_shapley_valuation(emb)


# ──────────────────────────────────────────────────────────────────────────
# wave 169: linear CKA representation similarity
# ──────────────────────────────────────────────────────────────────────────
from ..operators.similarity import linear_cka_prefix, linear_cka_prefix_sql


@_spec(
    "cka_mrl_prefix_geometry",
    linear_cka_prefix_sql(),
    "curation op — linear Centered Kernel Alignment (Kornblith et "
    "al. 2019) between the full 64-d embedding and its 16-d MRL "
    "prefix: the representation-level companion to "
    "mrl_prefix_recall — retrieval recall can survive geometric "
    "distortion, CKA measures the geometry itself (basis- and "
    "scale-invariant, in [0,1]). Computed entirely on the d x d "
    "route: three small Grams from one row-id join of the dimension "
    "explosion, centered via G - n*mu*nu' (no second pass), three "
    "Frobenius reductions — the n x n kernel matrices in the "
    "textbook definition are never formed, which is the only "
    "formulation that survives 100 TB (n^2 vs d^2).",
)
def cka_mrl_prefix_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return linear_cka_prefix(emb)
