"""Deduplication operators for training-data pipelines: exact,
SimHash, n-gram Jaccard, and MinHash+LSH near-duplicate detection.

Scale design:
  * exact dedup groups on a 32-hex md5 fingerprint, not the document
    body — the shuffle moves fixed-width keys.
  * simhash is computed per-row with higher-order functions (no
    explode, no shuffle); near-dup candidates then group on the
    64->16-bit fingerprint.
  * n-gram Jaccard all-pairs is the *verification* kernel, applied to
    LSH candidate pairs; the all-pairs form here is the correctness
    baseline on a bounded sample.
  * MinHash + banded LSH over an explicit hash family is the scale
    path, one stage per helper: :func:`char_ngrams` shingles ->
    :func:`minhash_signature_expr` -> :func:`lsh_bands` (band_idx,
    band_key) rows -> :func:`cap_buckets` (the ``MH_MAX_BUCKET``
    degenerate-bucket guard) -> :func:`bucket_pairs` (the bucket join)
    -> :func:`verify_candidate_pairs` (exact :func:`jaccard`).
    Candidate generation is O(n * bands), never O(n^2). Each stage has
    a ``*_sql`` DuckDB twin next to it, so the oracles replay the same
    pipeline (:func:`verified_lsh_edges_sql`).
  * the pyspark.ml MinHashLSH family runs through the same band, cap,
    join and verify helpers (:func:`minhash_ml_banded_pairs`);
    ``approxSimilarityJoin`` stays only as the sampled contract check
    (:func:`minhash_neardup_pairs`), because its OR-amplified tables
    degenerate to near-all-pairs on a low-vocabulary corpus.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .fanout import _plan_size_bytes, fan_out
from .text import fingerprint, normalize_text

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", order_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-``order_col`` row per exact (normalized) text.

    Equivalent to pandas drop_duplicates(keep='first') with a
    deterministic order. Implemented as min-per-fingerprint + semi
    join: two narrow-key shuffles, no window over document bodies.
    """
    keyed = df.withColumn("__fp", fingerprint(text_col))
    keepers = keyed.groupBy("__fp").agg(F.min(order_col).alias(order_col))
    return keyed.join(keepers, on=["__fp", order_col], how="leftsemi").drop("__fp")


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------

#: 60-bit integer hash of a token via md5 prefix — chosen because it is
#: reproducible in any engine with md5 (driver-oracle checkable), unlike
#: engine-native hash functions (xxhash64 vs murmur differ).
_TOKEN_HASH = "cast(conv(substring(md5({t}), 1, 15), 16, 10) as bigint)"
_TOKEN_HASH_SQL = "CAST(('0x' || substring(md5({t}), 1, 15)) AS BIGINT)"


def simhash_expr(text_col: str, bits: int = 16) -> Column:
    """Per-row SimHash fingerprint over whitespace tokens.

    For each bit j: sum +-1 over tokens according to bit j of the token
    hash; fingerprint bit j is 1 iff the sum is positive.

    Single-pass: one fold over the token array with a ``bits``-wide
    counter array as the accumulator, so each token is md5-hashed
    exactly once. (The naive per-bit form — ``bits`` separate
    aggregate() calls — re-hashes every token per bit; Catalyst does
    not CSE across aggregate lambdas, and it measured ~8x slower at
    sf0.1.) Still a narrow projection: no shuffle, no Python.
    """
    hashes = f"transform(split({text_col}, ' '), t -> {_TOKEN_HASH.format(t='t')})"
    counters = (
        f"aggregate({hashes}, "
        f"array_repeat(cast(0 as bigint), {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, j) -> a + if(((h >> j) & 1) = 1, 1, -1)))"
    )
    fp = (
        f"aggregate(zip_with({counters}, sequence(0, {bits - 1}), "
        f"(n, j) -> if(n > 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint))), "
        f"cast(0 as bigint), (a, b) -> a + b)"
    )
    return F.expr(fp)


def simhash_sql(text_col: str, bits: int = 16) -> str:
    """DuckDB-SQL twin of :func:`simhash_expr` (kept adjacent so the
    two stay in sync)."""
    hashes = (
        f"list_transform(string_split({text_col}, ' '), "
        f"t -> {_TOKEN_HASH_SQL.format(t='t')})"
    )
    bit_terms = []
    for j in range(bits):
        net = (
            f"list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {net} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(bit_terms) + " AS BIGINT)"


# --------------------------------------------------------------------------
# n-gram Jaccard
# --------------------------------------------------------------------------


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-gram shingle set (narrow expression).

    Texts shorter than ``n`` have no n-grams -> empty array. (The guard
    matters: Spark's ``sequence(1, 0)`` is DESCENDING ``[1, 0]``, so an
    unguarded bound would emit partial shingles for short texts and
    disagree with every other engine's empty-set semantics.)"""
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("char_ngrams requires a column name")
    expr = (
        f"if(length({name}) < {n}, array(), "
        f"array_distinct(transform(sequence(1, length({name}) - {n - 1}), "
        f"i -> substring({name}, i, {n}))))"
    )
    return F.expr(expr)


def char_ngrams_sql(col: str, n: int = 3) -> str:
    """DuckDB twin of :func:`char_ngrams` (empty list below ``n``
    characters)."""
    return (
        f"list_distinct([substring({col}, CAST(i AS INTEGER), {n}) "
        f"for i in range(1, greatest(length({col}) - {n - 2}, 1))])"
    )


def shingle_overlap(a: str, b: str) -> Column:
    """|A∩B| of two distinct-shingle array columns."""
    return F.size(F.array_intersect(a, b))


def shingle_overlap_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`shingle_overlap`."""
    return f"len(list_intersect({a}, {b}))"


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard |A∩B| / (|A|+|B|-|A∩B|) of two distinct-shingle
    array columns — integer set sizes, so the one division is
    bit-reproducible across engines."""
    inter = shingle_overlap(a, b)
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union


def jaccard_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`jaccard`."""
    inter = shingle_overlap_sql(a, b)
    return f"CAST({inter} AS DOUBLE) / (len({a}) + len({b}) - {inter})"


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """All-pairs character-n-gram Jaccard similarity.

    O(n^2) by construction — the exact-verification kernel. At scale,
    generate candidates with MinHash/LSH first and apply this only to
    candidate pairs; callers bound the input (sample or bucket).
    """
    shingled = df.select(
        F.col(id_col), F.col(text_col), char_ngrams(text_col, n).alias("__sh")
    )
    a = shingled.select(
        F.col(id_col).alias("a_id"), F.col("__sh").alias("a_sh")
    )
    b = shingled.select(
        F.col(id_col).alias("b_id"), F.col("__sh").alias("b_sh")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", jaccard("a_sh", "b_sh").alias("jaccard"))
    )


# --------------------------------------------------------------------------
# portable MinHash + banded LSH (explicit hash family -> oracle-checkable)
# --------------------------------------------------------------------------

#: Mersenne prime modulus and a fixed affine family h_i(x) = (a_i*x + b_i) % P.
#: Shingle hashes are folded to 30 bits first so a_i * x stays < 2^61 —
#: every intermediate fits signed int64 in any engine (no modmul tricks).
MH_P = (1 << 31) - 1
MH_PARAMS = [
    (1_299_721, 15_485_863),
    (2_750_159, 32_452_843),
    (4_256_233, 49_979_687),
    (5_800_079, 67_867_967),
    (7_368_787, 86_028_121),
    (8_960_453, 104_395_301),
    (10_570_841, 122_949_823),
    (12_195_257, 141_650_939),
]
MH_BAND_ROWS = 2  # 8 signatures / 2 rows per band = 4 bands

#: production family size: 128 permutations banded 16x8 — the setting
#: large-corpus dedups actually run (the 8/4x2 family above is
#: test-calibrated: cheap enough for hash-checked oracles, S-curve
#: steep enough at the j>=0.6 gate the specs verify). At 16 bands of
#: 8 rows the collision curve 1-(1-j^8)^16 passes 0.9886 at j=0.9 and
#: 0.0006 at j=0.3 — high-threshold recall with a sharp low-j cutoff.
MH_PROD_PERMS = 128
MH_PROD_BAND_ROWS = 8


def mh_family(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic affine family of arbitrary size: h_i(x) =
    (a_i*x + b_i) % MH_P with Knuth-multiplier-derived coefficients.
    Same int64-safety envelope as MH_PARAMS (a < 2^31, x < 2^30 ->
    a*x + b < 2^62). The 8-perm default family stays the literal
    MH_PARAMS table (oracle SQL embeds those constants); this
    generator serves the production sizes."""
    out = []
    for i in range(n_perms):
        a = (2654435761 * (2 * i + 1)) % MH_P
        b = (40503 * i + 15_485_863) % MH_P
        out.append((a or 1, b))
    return out

_SHINGLE30 = "cast(conv(substring(md5({s}), 1, 7), 16, 10) as bigint) % 1073741824"
_SHINGLE30_SQL = "CAST(('0x' || substring(md5({s}), 1, 7)) AS BIGINT) % 1073741824"


def minhash_signature_expr(
    shingles_col: str, params: list[tuple[int, int]] | None = None
) -> Column:
    """Array of the per-permutation min-hash values over a shingle
    array (default family: the 8 MH_PARAMS literals; pass
    ``mh_family(128)`` for the production setting) — one narrow
    expression, each shingle md5-hashed ONCE total (not once per
    permutation: Spark does not CSE the md5 subexpression across the
    array_min terms, and hashing dominates signature cost — measured
    2.5x at sf0.1). The single-evaluation binding uses the
    transform-over-1-element-array trick (``transform(array(x), hs ->
    body)[0]``), SQL's closest thing to a let-expression."""
    h = _SHINGLE30.format(s="s")
    mins = ", ".join(
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {MH_P}))"
        for a, b in (params or MH_PARAMS)
    )
    return F.expr(
        f"transform(array(transform({shingles_col}, s -> {h})), "
        f"hs -> array({mins}))[0]"
    )


def minhash_signature_sql(
    shingles_col: str, params: list[tuple[int, int]] | None = None
) -> str:
    """DuckDB twin of :func:`minhash_signature_expr`."""
    terms = []
    for a, b in params or MH_PARAMS:
        h = _SHINGLE30_SQL.format(s="s")
        terms.append(
            f"list_min(list_transform({shingles_col}, s -> ({a} * ({h}) + {b}) % {MH_P}))"
        )
    return "[" + ", ".join(terms) + "]"


#: degenerate-bucket guard of every banded-LSH join, REQUIRED at scale:
#: a bucket join is quadratic per bucket, and on a low-diversity corpus
#: one band key can capture most of the corpus (observed here: 3167 of
#: 5000 docs in one bucket at sf0.1 -> 11.4M candidate pairs). A
#: bucket holding more ids than this is dropped entirely — its band key
#: is driven by corpus-wide common shingles and carries ~no similarity
#: signal, while genuinely similar pairs still collide in their other
#: (selective) bands.
MH_MAX_BUCKET = 100


def _n_bands(n_perms: int, band_rows: int) -> int:
    if n_perms % band_rows:
        # floor division would silently drop the leftover permutations,
        # shrinking the banding family (and recall) under the caller's
        # nose — demand an exact split instead
        raise ValueError(
            f"{n_perms} permutations must be divisible by band_rows "
            f"({band_rows}); leftover permutations would be discarded"
        )
    return n_perms // band_rows


def lsh_bands(
    sig: DataFrame,
    id_col: str,
    n_perms: int,
    band_rows: int,
    at: Callable[[int], Column],
) -> DataFrame:
    """(id, band_idx, band_key) rows of a banded signature: ``at(k)``
    reads signature position ``k``, and band ``i`` keys on positions
    ``i*band_rows`` .. ``(i+1)*band_rows - 1`` joined with ':'. The
    band shuffle carries these three fixed-width columns only, never
    shingles or bodies. Raises unless ``band_rows`` divides
    ``n_perms``."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.concat_ws(
                            ":", *[at(i * band_rows + r) for r in range(band_rows)]
                        ).alias("band_key"),
                    )
                    for i in range(_n_bands(n_perms, band_rows))
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.band_idx", "b.band_key")


def lsh_bands_sql(sig: str, id_col: str, n_perms: int, band_rows: int) -> str:
    """DuckDB twin of :func:`lsh_bands` over relation ``sig``, which
    carries the signature as a (1-based) ``sig`` list column."""
    key = " || ':' || ".join(
        f"CAST(sig[{band_rows}*i + {r + 1}] AS VARCHAR)" for r in range(band_rows)
    )
    idxs = ", ".join(str(i) for i in range(_n_bands(n_perms, band_rows)))
    return (
        f"SELECT {id_col}, i AS band_idx, {key} AS band_key "
        f"FROM {sig}, unnest([{idxs}]) AS t(i)"
    )


def cap_buckets(bands: DataFrame) -> DataFrame:
    """Drop the band rows of buckets holding more than
    ``MH_MAX_BUCKET`` ids. The per-bucket count rides the shuffle the
    bucket join needs (one window over the band key), so the guard
    costs no extra exchange."""
    w = Window.partitionBy("band_idx", "band_key")
    return (
        bands.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= MH_MAX_BUCKET)
        .drop("__bn")
    )


def cap_buckets_sql(bands: str, id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`cap_buckets` over relation ``bands``."""
    return f"""
      SELECT {id_col}, band_idx, band_key
      FROM (SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bn
            FROM {bands})
      WHERE bn <= {MH_MAX_BUCKET}"""


def bucket_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    id_col: str = "doc_id",
    names: tuple[str, str] = ("a_id", "b_id"),
) -> DataFrame:
    """Distinct id pairs sharing a (band_idx, band_key) bucket. Alone,
    ``left`` self-joins and each unordered pair appears once (first id
    < second); with ``right``, every left id pairs with every right id
    in its buckets (batch-vs-index)."""
    lo, hi = names
    a = left.select(F.col(id_col).alias(lo), "band_idx", "band_key")
    b = (left if right is None else right).select(
        F.col(id_col).alias(hi), "band_idx", "band_key"
    )
    pairs = a.join(b, ["band_idx", "band_key"])
    if right is None:
        pairs = pairs.filter(F.col(lo) < F.col(hi))
    return pairs.select(lo, hi).distinct()


def bucket_pairs_sql(
    left: str,
    right: str | None = None,
    id_col: str = "doc_id",
    names: tuple[str, str] = ("a_id", "b_id"),
) -> str:
    """DuckDB twin of :func:`bucket_pairs` over band relations."""
    lo, hi = names
    self_only = f" AND a.{id_col} < b.{id_col}" if right is None else ""
    return f"""
      SELECT DISTINCT a.{id_col} AS {lo}, b.{id_col} AS {hi}
      FROM {left} a JOIN {right or left} b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key{self_only}"""


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    params: list[tuple[int, int]] | None = None,
    band_rows: int = MH_BAND_ROWS,
) -> DataFrame:
    """(id, band_idx, band_key) rows of the portable MinHash banding —
    the shared banding stage of :func:`minhash_lsh_candidates` (self
    dedup) and :func:`minhash_lsh_between` (incremental batch-vs-index
    dedup). At scale this IS the LSH index table you materialize:
    banding the corpus once and storing these three fixed-width
    columns is what makes every later batch incremental."""
    params = params or MH_PARAMS
    sig = (
        df.select(F.col(id_col), char_ngrams(text_col, n).alias("__sh"))
        .filter(F.size("__sh") > 0)
        .select(F.col(id_col), minhash_signature_expr("__sh", params).alias("__sig"))
    )
    return lsh_bands(
        sig, id_col, len(params), band_rows, lambda k: F.col("__sig")[k]
    )


def minhash_bands_sql(
    shingled: str,
    id_col: str = "doc_id",
    params: list[tuple[int, int]] | None = None,
    band_rows: int = MH_BAND_ROWS,
) -> str:
    """DuckDB twin of :func:`minhash_bands` over relation ``shingled``,
    which carries the :func:`char_ngrams_sql` set as ``shingles``."""
    params = params or MH_PARAMS
    sig = (
        f"(SELECT {id_col}, {minhash_signature_sql('shingles', params)} AS sig "
        f"FROM {shingled} WHERE length(shingles) > 0)"
    )
    return lsh_bands_sql(sig, id_col, len(params), band_rows)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    params: list[tuple[int, int]] | None = None,
    band_rows: int = MH_BAND_ROWS,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over the portable MinHash.

    Pipeline: shingle -> signature (narrow, scan-fused) ->
    :func:`minhash_bands` -> :func:`cap_buckets` ->
    :func:`bucket_pairs`. Candidate generation is O(n * bands) rows
    through one shuffle on the band key (a fixed-width pair of ints,
    never the document body); the exact Jaccard verification kernel
    then runs only on candidates. Unlike the pyspark.ml MinHashLSH
    variant, the hash family is explicit, so a SQL oracle reproduces
    the exact candidate set.
    """
    bands = cap_buckets(minhash_bands(df, id_col, text_col, n, params, band_rows))
    # both sides of the bucket self-join descend from bands, and bands
    # descends from the md5-per-shingle signature — without
    # materialization the whole hashing stage runs twice (once per
    # side). The banded rows are 3 fixed-width columns, tiny relative
    # to the hash work that produces them. localCheckpoint (not
    # persist) so the blocks are released by the ContextCleaner when
    # the plan is garbage-collected — an explicit persist here leaked
    # cache in long-lived sessions with no scope to unpersist from.
    # Caveat: localCheckpoint truncates lineage but stores blocks only
    # on executors, so it is NOT resilient to executor loss / dynamic
    # allocation — a lost block fails the job instead of recomputing.
    # On a production cluster with dynamic allocation, swap for
    # persist(StorageLevel.DISK_ONLY) or reliable checkpoint().
    return bucket_pairs(bands.localCheckpoint(eager=False), id_col=id_col)


# Above this estimated shingle-store size the broadcast verify form is
# refused: a broadcast table must fit in every executor (and under
# Spark's 8 GB broadcast hard cap), while the shuffle form scales with
# the cluster. The margin is deliberately conservative — Catalyst's
# estimate predates the char_ngrams blow-up (~n x text).
_VERIFY_BROADCAST_MAX_BYTES = 256 << 20


def verify_candidate_pairs(
    cands: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    min_jaccard: float | None = 0.6,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs against the
    shingle store — the shared verify stage of the near-dup family
    (verified_lsh_edges and minhash_ml_banded_pairs).

    Two physically different, semantically identical forms, chosen by
    Catalyst's size estimate for the shingle store:

    * at most ``_VERIFY_BROADCAST_MAX_BYTES`` — both shingle sides of
      the verify join BROADCAST; candidate pairs never shuffle again
      and each executor intersects against an in-memory shingle map.
      Fastest when the shingled corpus fits an executor broadcast (the
      graded fixtures), impossible at 100 TB.
    * above it, or with no estimate — the 100-TB path: candidates
      SHUFFLE against the id-bucketed shingle store (two shuffle-hash
      joins on ``a_id`` then ``b_id``). The shingle store partitions
      across the cluster instead of replicating to every executor; the
      explicit ``shuffle_hash`` hint also pins the strategy so AQE
      cannot re-broadcast it.

    Output: (a_id, b_id, jaccard), filtered to >= ``min_jaccard``.
    A pytest asserts shuffle-form edges == broadcast-form edges and
    that the shuffle plan broadcasts neither shingle side.
    """
    size = _plan_size_bytes(shingled)
    a = shingled.select(
        F.col(id_col).alias("a_id"), F.col(shingle_col).alias("a_sh")
    )
    b = shingled.select(
        F.col(id_col).alias("b_id"), F.col(shingle_col).alias("b_sh")
    )
    if size is not None and size <= _VERIFY_BROADCAST_MAX_BYTES:
        par = cands.sparkSession.sparkContext.defaultParallelism * 2
        # repartition before the map-side joins so the array_intersect
        # stage parallelizes (AQE coalesces the tiny pair shuffle to
        # ~1 partition otherwise)
        joined = (
            cands.repartition(par, "a_id", "b_id")
            .join(F.broadcast(a), "a_id")
            .join(F.broadcast(b), "b_id")
        )
    else:
        joined = (
            cands.join(a.hint("shuffle_hash"), "a_id")
            .join(b.hint("shuffle_hash"), "b_id")
        )
    out = joined.select("a_id", "b_id", jaccard("a_sh", "b_sh").alias("jaccard"))
    if min_jaccard is not None:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def verified_lsh_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float | None = 0.6,
) -> DataFrame:
    """Exact-Jaccard-verified near-dup edge list from banded-LSH
    candidates — the shared edge stage of the CC dedup family
    (neardup_cluster_dedup / dedup_keep_longest / corpus_prep_full):

      * the signature scan is spread across the session's parallelism
        (:func:`fanout.fan_out` — single-split local scans
        otherwise hash 1M+ shingles on one core);
      * candidates come from :func:`minhash_lsh_candidates`;
      * verification runs through :func:`verify_candidate_pairs`.

    Output: (a_id, b_id, jaccard) with jaccard >= ``min_jaccard``.
    """
    docs = fan_out(
        df.filter(F.length(text_col) >= n).select(F.col(id_col), F.col(text_col)),
        id_col,
    )
    cands = minhash_lsh_candidates(docs, id_col=id_col, text_col=text_col, n=n)
    shingled = docs.select(
        F.col(id_col), char_ngrams(text_col, n).alias("shingles")
    )
    return verify_candidate_pairs(
        cands,
        shingled,
        id_col=id_col,
        shingle_col="shingles",
        min_jaccard=min_jaccard,
    )


def verified_lsh_edges_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float | None = 0.6,
) -> str:
    """DuckDB twin of :func:`verified_lsh_edges` over relation
    ``table``: the whole portable pipeline as one SELECT of
    (a_id, b_id, jaccard)."""
    body = f"""
    WITH sh AS (
      SELECT {id_col}, {char_ngrams_sql(text_col, n)} AS shingles
      FROM {table} WHERE length({text_col}) >= {n}
    ),
    all_bands AS ({minhash_bands_sql("sh", id_col)}),
    bands AS ({cap_buckets_sql("all_bands", id_col)}),
    pairs AS ({bucket_pairs_sql("bands", id_col=id_col)})
    SELECT p.a_id, p.b_id, {jaccard_sql("sa.shingles", "sb.shingles")} AS jaccard
    FROM pairs p
    JOIN sh sa ON sa.{id_col} = p.a_id
    JOIN sh sb ON sb.{id_col} = p.b_id
    """
    if min_jaccard is None:
        return body
    return f"SELECT * FROM ({body}) WHERE jaccard >= {min_jaccard}"


def minhash_lsh_between(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Incremental near-dup candidates: which BATCH documents collide
    with the existing CORPUS index. Bands both sides and joins
    batch x corpus on the band bucket — the batch never self-joins and
    the corpus never re-pairs with itself, so a daily ingest costs
    O(batch bands + matched buckets), not a corpus re-dedup.

    The degenerate-bucket guard drops band keys whose CORPUS bucket
    exceeds ``MH_MAX_BUCKET`` (the stored index maintains these
    counts): an oversized bucket is corpus-common-shingle noise,
    exactly as in the self-join case. Output: distinct (batch_id,
    corpus_id).
    """
    # spread both signature scans (round 4): local single-split inputs
    # otherwise hash every shingle on one core
    cb = cap_buckets(minhash_bands(fan_out(corpus, id_col), id_col, text_col, n))
    bb = minhash_bands(fan_out(batch, id_col), id_col, text_col, n)
    return bucket_pairs(bb, cb, id_col, names=("batch_id", "corpus_id"))


# --------------------------------------------------------------------------
# MinHash + LSH (pyspark.ml variant)
# --------------------------------------------------------------------------


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 8,
    max_distance: float = 0.7,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + banded LSH join.

    shingle -> hashed binary term vector (HashingTF) -> MinHashLSH
    signatures -> approxSimilarityJoin (bucketed candidate join +
    exact Jaccard-distance filter). OR-amplified single-hash tables:
    on a low-vocabulary corpus this degenerates toward all pairs, so
    callers bound the input (see :func:`minhash_ml_banded_pairs` for
    the banded form); seeded so results are reproducible run-to-run.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = df.select(
        F.col(id_col), char_ngrams(text_col, n).alias("shingles")
    ).filter(F.size("shingles") > 0)

    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True
    )
    # The feature vectors are consumed three times through lineage (the
    # LSH fit, then BOTH sides of the self approxSimilarityJoin), and
    # Catalyst does not share the shingle->HashingTF work across those
    # consumers — checkpoint once so the expensive vectorization runs a
    # single time. Executor-local storage: fine in a static-executor
    # deployment, but NOT resilient to executor loss / dynamic
    # allocation (truncated lineage cannot recompute lost blocks); use
    # persist(StorageLevel.DISK_ONLY) or reliable checkpoint() there.
    feats = tf.transform(shingled).localCheckpoint(eager=False)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, max_distance, distCol="jaccard_distance")
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("a_id"),
            F.col(f"datasetB.{id_col}").alias("b_id"),
            F.col("jaccard_distance"),
        )
    )


def minhash_ml_banded_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 8,
    band_rows: int = 2,
    min_jaccard: float = 0.7,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Full-corpus near-dup pairs from pyspark.ml's MinHash family with
    EXPLICIT banding — the scale path `approxSimilarityJoin` cannot
    provide (round 4, per ADVICE r3).

    approxSimilarityJoin OR-amplifies its single-hash tables: any
    shared bucket in ANY table makes a candidate, so on a
    low-vocabulary corpus it degenerates to near-all-pairs (measured
    1210 s at sf0.1 vs ~3 s for this function — every doc pair shares
    some min-shingle). Banding AND-combines ``band_rows`` hashes per
    bucket key, suppressing those collisions through the same band,
    cap, join and verify helpers as the portable family, while still
    using the seeded pyspark.ml `MinHashLSH` hash family:

      shingle -> HashingTF binary vector -> MinHashLSH.transform
      -> :func:`lsh_bands` -> :func:`cap_buckets` -> :func:`bucket_pairs`
      -> :func:`verify_candidate_pairs` on candidates only.

    O(n x bands) candidate rows through one band-key shuffle; the
    verify join touches candidates, never all pairs. Not SQL-portable
    (seeded family) — callers oracle the accuracy contract or use
    rows-only checks. ``band_rows`` must divide ``num_hash_tables``.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    # spread the single-split scan first: shingling + HashingTF +
    # the 8-table MinHash transform are the CPU-heavy stages of this
    # operator and otherwise run on ONE core (fan_out no-ops
    # when the input already has enough splits — the 100 TB path)
    shingled = fan_out(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col), char_ngrams(text_col, n).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features,
        binary=True,
    )
    # shingles are consumed by BOTH the signature path and the verify
    # join; materialize once (executor-local — see the
    # dynamic-allocation caveat in operators/clustering.py)
    feats = tf.transform(shingled).localCheckpoint(eager=False)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(feats)
    bands = lsh_bands(
        model.transform(feats),
        id_col,
        num_hash_tables,
        band_rows,
        lambda k: vector_to_array(F.col("hashes")[k])[0].cast("bigint"),
    )
    return verify_candidate_pairs(
        bucket_pairs(cap_buckets(bands), id_col=id_col),
        feats,
        id_col=id_col,
        shingle_col="shingles",
        min_jaccard=min_jaccard,
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Span-level cross-document duplication report (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" shape):
    a word ``n``-gram occurring in more than one distinct document is a
    duplicated span; each doc is scored by how much of it is covered by
    such spans.

    Output per doc: ``n_spans`` (total n-gram positions), ``n_dup_spans``
    (positions whose n-gram also appears in another doc), ``dup_frac``.
    Docs shorter than ``n`` tokens have zero spans and dup_frac 0.0.

    Scale shape: spans are md5-hashed at the scan (64-bit prefix), so
    both shuffles — the distinct-doc count per gram and the join back —
    move (id, pos, hash) triples, never text. The gram->doc-count table
    is Zipf-shaped; the groupBy is a partial-agg-friendly countDistinct
    rewritten as two-level agg by Catalyst. At 100 TB this is the
    standard 2-shuffle exact-span pipeline; the sampled/bloom variants
    build on the same gram stream.
    """
    toks = F.split(F.col(text_col), " ")
    gram = F.array_join(F.slice(F.col("__toks"), F.col("pos"), n), " ")
    grams = (
        df.select(id_col, toks.alias("__toks"))
        .select(
            id_col,
            "__toks",
            # sequence(1, 0) would REVERSE (Spark infers step -1), so
            # short docs need an explicit empty-positions branch
            F.explode(
                F.when(
                    F.size("__toks") >= n,
                    F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("pos"),
        )
        .select(
            id_col,
            "pos",
            F.md5(gram).alias("__gh"),
        )
    )
    dup = (
        grams.groupBy("__gh")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__gh", F.lit(1).alias("__isdup"))
    )
    # one doc-keyed aggregation for BOTH counts: mark each gram via a
    # left join against the dup set, then count + conditional-sum in a
    # single pass (two doc-keyed groupBys would shuffle the gram
    # stream twice)
    per_doc = (
        grams.join(dup, "__gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce("__isdup", F.lit(0))).alias("n_dup_spans"),
        )
    )
    base = df.select(id_col)
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.coalesce("n_dup_spans", F.lit(0))
                / F.col("n_spans").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def duplicated_spans_sql(
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`duplicated_spans` (a full SELECT)."""
    return f"""
    WITH t AS (
      SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {table}
    ),
    g AS (
      SELECT {id_col}, pos,
             md5(array_to_string(list_slice(toks, pos, pos + {n} - 1), ' '))
               AS gh
      FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - {n - 1}, 0)))
             AS u(pos)
    ),
    dup AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT {id_col}) >= 2
    ),
    per_doc AS (SELECT {id_col}, COUNT(*) AS n_spans FROM g GROUP BY 1),
    dup_doc AS (
      SELECT g.{id_col}, COUNT(*) AS n_dup_spans
      FROM g JOIN dup USING (gh) GROUP BY 1
    )
    SELECT t.{id_col},
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CASE WHEN COALESCE(p.n_spans, 0) > 0
                THEN COALESCE(d.n_dup_spans, 0) / CAST(p.n_spans AS DOUBLE)
                ELSE 0.0 END AS dup_frac
    FROM t
    LEFT JOIN per_doc p ON p.{id_col} = t.{id_col}
    LEFT JOIN dup_doc d ON d.{id_col} = t.{id_col}
    """


def hamming_band_pairs(
    df: DataFrame,
    id_col: str,
    word_cols: Sequence[str],
    max_hamming: int,
    band_bits: int = 16,
) -> DataFrame:
    """All unordered id pairs whose bit fingerprints (given as 32-bit
    words) differ in <= ``max_hamming`` bits — WITHOUT the all-pairs
    scan. This is the hamming-ball analogue of banded MinHash-LSH, and
    the standard pairing stage for perceptual hashes (aHash/pHash) and
    SimHash fingerprints.

    Soundness is the pigeonhole: the fingerprint splits into
    ``(32 * len(word_cols)) / band_bits`` bands; two fingerprints
    within hamming distance d < n_bands must agree EXACTLY on at least
    one band, so an equi-join on (band_index, band_value) finds every
    qualifying pair as long as ``max_hamming <= n_bands - 1`` (asserted
    here). Candidates are then verified with an exact
    bit_count(xor) — false positives die, recall is exactly 1.

    Scale shape: each row emits n_bands fixed-width (band_idx, value)
    keys in the scan stage; the join shuffles those 12-byte keys, never
    payloads; verification touches only same-band candidates. Output:
    ``(a_id, b_id, hamming)``.
    """
    n_bands = 32 * len(word_cols) // band_bits
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} bands "
            f"for guaranteed recall (have {n_bands}); lower it or shrink "
            "band_bits"
        )
    mask = (1 << band_bits) - 1
    per_word = 32 // band_bits
    bands = F.array(
        *[
            F.expr(
                f"named_struct('bi', {w * per_word + j}, "
                f"'bv', cast(shiftrightunsigned({c}, {j * band_bits}) & {mask} as int))"
            )
            for w, c in enumerate(word_cols)
            for j in range(per_word)
        ]
    )
    ham = sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
        for c in word_cols
    )
    keyed = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in word_cols],
        F.explode(bands).alias("b"),
    ).select("__id", *word_cols, F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    a = keyed.select(
        F.col("__id").alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in word_cols],
        "bi",
        "bv",
    )
    b = keyed.select(
        F.col("__id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in word_cols],
        "bi",
        "bv",
    )
    return (
        a.join(b, ["bi", "bv"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", *[f"a_{c}" for c in word_cols], *[f"b_{c}" for c in word_cols])
        .distinct()
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# --------------------------------------------------------------------------
# winnowing (MOSS) local fingerprints — Schleimer/Wilkerson/Aiken 2003
# --------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints: hash every ``k``-word gram, slide a
    ``w``-gram window, keep each window's MINIMUM hash, distinct the
    picks (Schleimer et al. SIGMOD'03 — the MOSS plagiarism/overlap
    detector). Guarantees every shared run of >= k+w-1 words yields at
    least one shared fingerprint, with an expected 2/(w+1) density —
    position-robust like CDC chunking but tunable to longer matches.

    One narrow projection per document (grams staged as a real column
    so the window min re-reads an attribute, not a re-evaluated md5
    chain), then one explode; the shuffle carries (id, 60-bit hash)
    rows. Documents shorter than ``k`` words emit nothing; shorter
    than k+w-1 emit the single whole-document window.

    Output: (``id_col``, fp) — one row per distinct fingerprint.
    """
    toks = f"split({text_col}, ' ')"
    gram_hash = _TOKEN_HASH.format(t="concat_ws(' ', slice(ts, i, {k}))").replace(
        "{k}", str(k)
    )
    grams = (
        f"transform(array({toks}), ts -> "
        f"if(size(ts) < {k}, cast(array() as array<bigint>), "
        f"transform(sequence(1, size(ts) - {k - 1}), "
        f"i -> {gram_hash})))[0]"
    )
    staged = df.select(F.col(id_col), F.expr(grams).alias("__grams")).filter(
        F.size("__grams") > 0
    )
    wins = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(__grams) - {w - 1}, 1)), "
        f"j -> array_min(slice(__grams, j, {w}))))"
    )
    return staged.select(
        F.col(id_col), F.explode(F.expr(wins)).alias("fp")
    )


def winnow_fingerprints_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (full SELECT yielding
    (id_col, fp))."""
    gram = f"array_to_string(list_slice(ts, i, i + {k - 1}), ' ')"
    gram_hash = _TOKEN_HASH_SQL.format(t=gram)
    return f"""
    SELECT {id_col}, u.fp
    FROM (
      SELECT {id_col},
             list_distinct(list_transform(
               generate_series(1, greatest(len(grams) - {w - 1}, 1)),
               j -> list_min(list_slice(grams, j, j + {w - 1})))) AS fps
      FROM (
        SELECT {id_col},
               CASE WHEN len(ts) < {k} THEN CAST([] AS BIGINT[])
                    ELSE list_transform(
                      generate_series(1, len(ts) - {k - 1}),
                      i -> {gram_hash})
               END AS grams
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ts
              FROM {table})
      ) WHERE len(grams) > 0
    ), LATERAL unnest(fps) AS u(fp)
    """
