"""Exact edit-distance self-join via deletion-neighborhood blocking
(the SymSpell scheme, Garbe 2012; same family as FastSS, Bocek et al.
2007).

Finding all string pairs with Levenshtein distance <= 1 by brute force
is O(n^2) verifications — a cartesian product no optimizer can save.
The deletion-neighborhood theorem makes it an equi-join: if
lev(s, t) <= 1 then D(s) ∩ D(t) != ∅, where D(s) is {s} plus every
single-character deletion of s. Proof sketch: a substitution at
position i means deleting position i from both sides yields the same
string; an insertion/deletion means one side IS a deletion of the
other; equality shares s itself.

So: explode each string into its |s|+1 deletion keys (a scan-stage
``transform`` + ``explode`` — no UDF), equi-join on the key, dedupe the
(pair, key) multiplicity with a distinct on ids, and run the exact
``levenshtein`` verifier on the few candidates. Candidates shuffle as
(key-hash, id) pairs; the full strings travel only into the bounded
verify stage. Generalizes to distance d with d-deletion neighborhoods
(key count C(|s|, d) — practical for d <= 2, the regime dedup cares
about).

Reference parity: extends the fuzzy-match family (`fuzzy_match_names`
broadcast kernel, `sorted_neighborhood_pairs` windowed blocking) with
the EXACT-recall blocking scheme; the oracle is the brute-force theta
join, so equality proves completeness, not just precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fanout import fan_out


def deletion_keys(col: str) -> F.Column:
    """array of the string itself plus every single-deletion variant."""
    return F.expr(
        f"array_union(array({col}), transform(sequence(1, length({col})), "
        f"i -> concat(substring({col}, 1, i - 1), substring({col}, i + 1, length({col})))))"
    )


def edit_distance_pairs(
    df: DataFrame, id_col: str, str_col: str
) -> DataFrame:
    """All unordered pairs (a_id < b_id) with lev <= 1 between
    ``str_col`` values: ``(a_id, b_id, a_str, b_str, dist)``."""
    # spread the single-split scan first: the |s|+1 deletion-key
    # explode + per-key xxhash is the heavy stage and otherwise runs
    # on one core (no-op when the scan already has enough splits)
    df = fan_out(df.select(F.col(id_col), F.col(str_col)), id_col)
    # shuffle 8-byte key hashes, not key strings: a hash collision can
    # only ADD a candidate, and the exact levenshtein verify kills it
    keyed = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.explode(deletion_keys(str_col)).alias("__ks"),
    ).select("__id", "__s", F.xxhash64("__ks").alias("__k"))
    a = keyed.select(
        F.col("__id").alias("a_id"), F.col("__s").alias("a_str"), "__k"
    )
    b = keyed.select(
        F.col("__id").alias("b_id"), F.col("__s").alias("b_str"), "__k"
    )
    cands = (
        a.join(b, "__k")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_str", "b_str")
        .distinct()
    )
    return cands.withColumn(
        "dist", F.levenshtein("a_str", "b_str")
    ).filter(F.col("dist") <= 1)


def jaro_winkler_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col=None,
    threshold: float = 0.85,
    round_to: int = 9,
    block_sample_mod: int | None = None,
) -> DataFrame:
    """Jaro-Winkler similarity self-join over blocked candidate pairs
    — the record-linkage scorer for human-entered names where edit
    distance over-penalizes transpositions (Winkler 1990, the Census
    Bureau string comparator). Complements the exact-Levenshtein
    family above: JW is a similarity (1 = equal) with a prefix bonus.

    Blocking: ``block_col`` (default: the name's first whitespace
    token) — pairs are scored only within a block, the standard
    linkage-blocking shape; candidates are O(sum block^2), never
    O(n^2) corpus-wide.

    The scorer is a vectorized Arrow-batched kernel (the same
    documented slow-path slot as the multimodal/geo kernels —
    character-level matching windows have no Catalyst expression),
    applied AFTER blocking so Python sees only candidate pairs. The
    implementation follows the textbook definition (match window
    floor(max/2)-1, half-transpositions, 0.1 prefix scale capped at
    4, 0.7 boost threshold) and is verified bit-equal to DuckDB's
    ``jaro_winkler_similarity`` builtin (the oracle); scores are
    rounded (default 9dp) before the threshold so both engines keep
    the same pair set.

    Output: (id_a, id_b, name_a, name_b, jw) with id_a < id_b,
    jw >= threshold.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jw(s1, s2):
        def jaro(a: str, b: str) -> float:
            l1, l2 = len(a), len(b)
            if l1 == 0 and l2 == 0:
                return 1.0
            if l1 == 0 or l2 == 0:
                return 0.0
            md = max(l1, l2) // 2 - 1
            m2 = [False] * l2
            m1 = [False] * l1
            m = 0
            for i, c in enumerate(a):
                lo, hi = max(0, i - md), min(l2, i + md + 1)
                for j in range(lo, hi):
                    if not m2[j] and b[j] == c:
                        m1[i] = m2[j] = True
                        m += 1
                        break
            if m == 0:
                return 0.0
            t = 0
            j = 0
            for i in range(l1):
                if m1[i]:
                    while not m2[j]:
                        j += 1
                    if a[i] != b[j]:
                        t += 1
                    j += 1
            t //= 2
            return (m / l1 + m / l2 + (m - t) / m) / 3

        def jw_one(a: str, b: str) -> float:
            ja = jaro(a, b)
            if ja <= 0.7:
                return ja
            p = 0
            for x, y in zip(a[:4], b[:4]):
                if x == y:
                    p += 1
                else:
                    break
            return ja + 0.1 * p * (1 - ja)

        return pd.Series(
            [jw_one(a, b) for a, b in zip(s1, s2)], dtype="float64"
        )

    blk = (
        F.split(F.col(name_col), " ").getItem(0)
        if block_col is None
        else F.col(block_col)
    )
    # ``block_sample_mod``: deterministic md5 block sampling (keep
    # blocks with md5(blk) % mod == 0) — the repo's bounded-kernel
    # discipline for quadratic verification stages; production linkage
    # runs unsampled with a selective block key instead.
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__nm"),
        blk.alias("__blk"),
    )
    a = base.select(
        F.col("__blk"),
        F.col("__id").alias("id_a"),
        F.col("__nm").alias("name_a"),
    )
    b = base.select(
        F.col("__blk"),
        F.col("__id").alias("id_b"),
        F.col("__nm").alias("name_b"),
    )
    if block_sample_mod is not None:
        keep = (
            F.expr(
                "cast(conv(substring(md5(__blk), 1, 15), 16, 10) as bigint)"
            )
            % block_sample_mod
            == 0
        )
        a = a.where(keep)
        b = b.where(keep)
    cand = a.join(b, "__blk").where(F.col("id_a") < F.col("id_b"))
    # the block join typically arrives in very few partitions (small
    # broadcast-joined inputs), which would serialize the Python
    # kernel; spread candidate pairs across the cluster BEFORE scoring
    # so the Arrow stage parallelizes (measured 202s -> ~8s at sf0.1
    # on local[16])
    par = cand.sparkSession.sparkContext.defaultParallelism * 2
    cand = cand.repartition(par, "id_a", "id_b")
    scored = cand.select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.round(_jw(F.col("name_a"), F.col("name_b")), round_to).alias("jw"),
    )
    # Without a barrier, Catalyst pushes the threshold filter through
    # this projection and re-evaluates the deterministic UDF inside it
    # — doubling the Python work (plan-audited: 2 ArrowEvalPython
    # stages). Materialize the scored pairs once instead of lying to
    # the optimizer with asNondeterministic(): the candidate set is a
    # bounded kernel (blocked + optionally sampled), so its scored rows
    # are small; the filter then runs against stored blocks and the
    # kernel executes exactly once per pair. localCheckpoint stores on
    # executors only — acceptable for this bounded kernel, see the
    # dynamic-allocation caveat in operators/dedup.py.
    scored = scored.localCheckpoint(eager=False)
    return scored.where(F.col("jw") >= threshold)


def jaro_winkler_pairs_sql(
    table: str,
    id_col: str,
    name_col: str,
    threshold: float = 0.85,
    round_to: int = 9,
    block_sql: str | None = None,
    block_sample_mod: int | None = None,
) -> str:
    """DuckDB twin of :func:`jaro_winkler_pairs` (default first-token
    block) using the engine's jaro_winkler_similarity builtin."""
    blk = block_sql or f"string_split({name_col}, ' ')[1]"
    sample = (
        f"WHERE CAST(('0x' || substring(md5(blk), 1, 15)) AS BIGINT)"
        f" % {block_sample_mod} = 0"
        if block_sample_mod is not None
        else ""
    )
    return f"""
    WITH base0 AS (
      SELECT {id_col} AS id, {name_col} AS nm, {blk} AS blk
      FROM {table}
    ),
    base AS (SELECT * FROM base0 {sample})
    SELECT a.id AS id_a, b.id AS id_b, a.nm AS name_a, b.nm AS name_b,
           ROUND(jaro_winkler_similarity(a.nm, b.nm), {round_to}) AS jw
    FROM base a JOIN base b ON b.blk = a.blk AND a.id < b.id
    WHERE ROUND(jaro_winkler_similarity(a.nm, b.nm), {round_to})
          >= {threshold}
    """
