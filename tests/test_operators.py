"""Unit tests per operator module on tiny literal DataFrames —
null/edge behavior the differential gate doesn't reach (SURVEY §5 plan
item 2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcas_question2_etl_spark.functions import scalar
from mcas_question2_etl_spark.operators import dedup, reshape, text
from mcas_question2_etl_spark.quality import JoinValidationError, assert_unique_key, validate_join


# ---------------------------------------------------------------------------
# quality / join validation (T1-T3)
# ---------------------------------------------------------------------------


def test_validate_join_1to1_raises_on_dup_left(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    right = spark.createDataFrame([(1, "x")], ["k", "w"])
    with pytest.raises(JoinValidationError, match="left side"):
        validate_join(left, right, on="k", validate="1:1")


def test_validate_join_m1_allows_dup_left(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    right = spark.createDataFrame([(1, "x")], ["k", "w"])
    assert validate_join(left, right, on="k", validate="m:1").count() == 2


def test_validate_join_dplyr_spelling(spark):
    left = spark.createDataFrame([(1, "a")], ["k", "v"])
    right = spark.createDataFrame([(1, "x"), (1, "y")], ["k", "w"])
    with pytest.raises(JoinValidationError, match="right side"):
        validate_join(left, right, on="k", validate="one-to-one")


def test_assert_unique_key_passes(spark):
    df = spark.createDataFrame([(1,), (2,)], ["k"])
    assert_unique_key(df, "k")  # no raise


# ---------------------------------------------------------------------------
# reshape (R1-R3)
# ---------------------------------------------------------------------------


def test_pivot_wide_reference_naming(spark):
    df = spark.createDataFrame(
        [(1, "ELA", 10), (1, "MATH", 20), (2, "ELA", 30)],
        ["district", "subject", "num_meets"],
    )
    wide = reshape.pivot_wide(
        df,
        index=["district"],
        pivot_col="subject",
        values={"num_meets": F.first("num_meets")},
        pivot_values=["ELA", "MATH"],
    )
    assert set(wide.columns) == {"district", "num_meets_ela", "num_meets_math"}
    row = {r["district"]: r for r in wide.collect()}
    assert row[1]["num_meets_ela"] == 10 and row[1]["num_meets_math"] == 20
    assert row[2]["num_meets_math"] is None


def test_pivot_wide_uniqueness_assertion(spark):
    # pandas .pivot raises on duplicate (index, column) pairs; Spark's
    # first() would silently pick one — assert_unique restores fail-fast
    df = spark.createDataFrame(
        [(1, "ELA", 10), (1, "ELA", 11)], ["district", "subject", "num_meets"]
    )
    with pytest.raises(JoinValidationError):
        reshape.pivot_wide(
            df,
            index=["district"],
            pivot_col="subject",
            values={"num_meets": F.first("num_meets")},
            pivot_values=["ELA"],
            assert_unique=True,
        )


def test_explode_list_row_count(spark):
    df = spark.createDataFrame(
        [(1, "a, b, c"), (2, "d")], ["district", "memberlist"]
    )
    out = reshape.explode_list(df, "memberlist", ", ", "town")
    assert out.count() == 4


def test_separate_unpivot_matches_reference_semantics(spark):
    # separate(into 3, fill='right') + pivot_longer + drop NA
    df = spark.createDataFrame([(1, "a, b"), (2, "c, d, e, f")], ["id", "lst"])
    out = reshape.separate_unpivot(
        df, "lst", ", ", 3, names_to="pos", values_to="town"
    )
    rows = {(r["id"], r["pos"]): r["town"] for r in out.collect()}
    # id=1 gets 2 rows; id=2 truncated at 3 (separate drops extras)
    assert rows == {
        (1, 1): "a",
        (1, 2): "b",
        (2, 1): "c",
        (2, 2): "d",
        (2, 3): "e",
    }


# ---------------------------------------------------------------------------
# scalar functions
# ---------------------------------------------------------------------------


def test_comma_strip_cast_roundtrip(spark):
    df = spark.createDataFrame([("1,234,567",), ("89",)], ["s"])
    vals = [r.v for r in df.select(scalar.comma_strip_cast("s").alias("v")).collect()]
    assert vals == [1234567, 89]


def test_expand_directions(spark):
    df = spark.createDataFrame([("N. Attleborough",), ("W. Springfield",)], ["t"])
    vals = [r.v for r in df.select(scalar.expand_directions("t").alias("v")).collect()]
    assert vals == ["North Attleborough", "West Springfield"]


def test_title_case(spark):
    df = spark.createDataFrame([("SOMERVILLE",), ("n. adams",)], ["t"])
    vals = [r.v for r in df.select(scalar.title_case("t").alias("v")).collect()]
    assert vals == ["Somerville", "N. Adams"]


def test_with_zscore_skips_nulls(spark):
    df = spark.createDataFrame([(1.0,), (3.0,), (None,)], "x double")
    out = scalar.with_zscore(df, "x", "z").collect()
    zs = {r["x"]: r["z"] for r in out}
    assert zs[1.0] == pytest.approx(-0.7071, abs=1e-3)
    assert zs[3.0] == pytest.approx(0.7071, abs=1e-3)
    assert zs[None] is None


# ---------------------------------------------------------------------------
# dedup / text
# ---------------------------------------------------------------------------


def test_dedup_exact_keeps_first_and_normalizes(spark):
    df = spark.createDataFrame(
        [(3, "Hello  World"), (1, "hello world"), (2, "unrelated")],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 2]


def test_ngram_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdef"), (3, "zzzzzz")], ["doc_id", "text"]
    )
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 0.0


def test_minhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    docs = [(0, base), (1, base + " x"), (2, "completely different words entirely here")]
    # pad with distinct filler docs so LSH has a population
    docs += [(10 + i, f"filler document number {i} with token {i * 7} salt {i * 13}") for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_neardup_pairs(df, max_distance=0.3).collect()
    }
    assert (0, 1) in pairs  # planted near-dup recalled
    assert (0, 2) not in pairs


def test_verified_lsh_edges_shuffle_form_matches_broadcast(spark, monkeypatch):
    """Round 5 (VERDICT r4 #1): the shuffle-verify scale path must
    produce the exact edge set of the broadcast form, and its physical
    plan must verify through shuffle-hash joins (the shingle store is
    never broadcast) — the form that survives a shingle table too big
    for any executor. Each form is forced through the size threshold
    the operator reads."""
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    docs = [(0, base), (1, base + " x"), (2, "completely different words entirely here")]
    docs += [
        (10 + i, f"filler document number {i} with token {i * 7} salt {i * 13}")
        for i in range(30)
    ]
    # a VALUES relation, not createDataFrame: an RDD-backed frame has no
    # Catalyst size estimate, which (like a corpus of unknown size)
    # takes the shuffle form; these rows carry their real small size
    rows = ", ".join(f"({i}L, '{t}')" for i, t in docs)
    df = spark.sql(f"SELECT * FROM VALUES {rows} AS t(doc_id, text)")

    # the default threshold on a tiny fixture: the broadcast fast path
    bcast = dedup.verified_lsh_edges(df)
    monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_BYTES", -1)
    shuf = dedup.verified_lsh_edges(df)
    key = lambda r: (r.a_id, r.b_id)  # noqa: E731
    b_rows = {key(r): round(r.jaccard, 12) for r in bcast.collect()}
    s_rows = {key(r): round(r.jaccard, 12) for r in shuf.collect()}
    assert s_rows == b_rows and (0, 1) in s_rows

    # plan asserts on the plans the collects above ran, so AQE's FINAL
    # plan is inspected, not the static guess: the default verifies
    # through broadcast joins, and the forced shuffle form's hinted
    # sides are pinned shuffle-hash (AQE did not re-broadcast them)
    assert bcast._jdf.queryExecution().executedPlan().toString().count(
        "BroadcastHashJoin"
    ) >= 2
    shuf.write.format("noop").mode("overwrite").save()
    plan = shuf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= 2
    assert "shingles" not in " ".join(
        line for line in plan.splitlines() if "BroadcastExchange" in line
    )

    # a threshold above any estimate keeps the broadcast form
    monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_BYTES", 1 << 62)
    big = dedup.verified_lsh_edges(df)
    assert {key(r) for r in big.collect()} == set(b_rows)


@pytest.mark.parametrize(
    "build",
    [
        lambda df: dedup.minhash_ml_banded_pairs(df, num_hash_tables=8, band_rows=3),
        lambda df: dedup.minhash_lsh_candidates(df, params=dedup.MH_PARAMS, band_rows=3),
    ],
    ids=["ml_banded", "portable"],
)
def test_banding_rejects_indivisible_band_rows(spark, build):
    """Banding needs band_rows to divide the permutation count; a
    leftover would silently shrink the family (and recall)."""
    df = spark.createDataFrame([(0, "abcdef"), (1, "abcdeg")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divisible"):
        build(df)


def test_minhash_ml_banded_finds_planted_near_dups(spark):
    """Round 4: the AND-amplified banded variant of the pyspark.ml
    family must recall a planted near-dup, reject a dissimilar pair,
    and report exact (verified) Jaccard on every emitted pair."""
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    docs = [(0, base), (1, base + " x"), (2, "completely different words entirely here")]
    docs += [(10 + i, f"filler document number {i} with token {i * 7} salt {i * 13}") for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = dedup.minhash_ml_banded_pairs(df, min_jaccard=0.7).collect()
    pairs = {(r.a_id, r.b_id): r.jaccard for r in out}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs
    # exact verification: emitted jaccard equals the all-pairs kernel's
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df).collect()
    }
    for k, v in pairs.items():
        assert abs(v - exact[k]) < 1e-12
        assert v >= 0.7


def test_simhash_similar_docs_close_fingerprints(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r.doc_id: r.fp
        for r in df.select("doc_id", dedup.simhash_expr("text", 16).alias("fp")).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])


def test_language_id_flags_english(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a hat"), (2, "foo bar baz qux")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.predicted_lang for r in text.with_language_id(df).collect()}
    assert out == {1: "en", 2: "und"}


# ---------------------------------------------------------------------------
# text extensions: BPE-ish token count, rolling hash
# ---------------------------------------------------------------------------


def test_bpe_token_count_splits_runs(spark):
    df = spark.createDataFrame([("Hello, world42 x!",)], ["text"])
    # runs: Hello | , | world | 42 | x | !  -> 6
    got = df.select(text.bpe_token_count("text").alias("n")).first().n
    assert got == 6


def test_rolling_hash_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")], ["id", "text"]
    )
    rows = df.select("id", text.rolling_hash_expr("text").alias("h")).collect()
    h = {r.id: r.h for r in rows}
    assert h[1] == h[3]          # identical docs agree
    assert h[1] != h[2]          # permuted docs differ (unlike simhash/md5-set)
    assert all(0 <= v < text.ROLL_MOD for v in h.values())


# ---------------------------------------------------------------------------
# similarity: IVF cell assignment
# ---------------------------------------------------------------------------


def test_ivf_assigns_query_cell_and_excludes_query(spark):
    from mcas_question2_etl_spark.operators import similarity

    # 2 centroids (ids 0,1) on orthogonal axes; id 2 near axis-0, id 3 near axis-1
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.1, 0.9], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.ivf_topk(emb, query_vec_id=2, k=5, n_centroids=2).collect()
    ids = [r.vec_id for r in out]
    assert 2 not in ids          # query excluded
    assert ids[0] == 0           # its own cell's centroid is nearest
    assert 3 not in ids          # other cell is pruned (nprobe=1)


# ---------------------------------------------------------------------------
# skew: salting is semantically invisible
# ---------------------------------------------------------------------------


def test_salted_agg_matches_plain(spark):
    from mcas_question2_etl_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(50)] + [("cold", 1, 2.0)],
        "k string, q long, p double",
    )
    got = {
        r.k: (r.n, r.sum_p, r.min_q)
        for r in salted_agg(
            df, keys=["k"],
            aggs={"n": ("count", "k"), "sum_p": ("sum", "p"), "min_q": ("min", "q")},
            buckets=4,
        ).collect()
    }
    assert got["hot"] == (50, sum(float(i) for i in range(50)), 0)
    assert got["cold"] == (1, 2.0, 1)


def test_salted_join_matches_plain(spark):
    from mcas_question2_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(40)] + [(2, 99)], "k long, v long"
    )
    small = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "k long, name string")
    got = salted_join(big, small, on="k", buckets=4)
    plain = big.join(small, "k", "inner")
    assert got.count() == plain.count() == 41
    assert sorted((r.k, r.v, r.name) for r in got.collect()) == \
           sorted((r.k, r.v, r.name) for r in plain.collect())


# ---------------------------------------------------------------------------
# approximate aggregates: the 100TB swap-ins stay near their exact twins
# ---------------------------------------------------------------------------


def test_approx_count_distinct_within_5pct(spark):
    df = spark.range(0, 20000).selectExpr("id % 7919 AS k")  # 7919 distinct
    exact = df.selectExpr("count(DISTINCT k) AS n").first().n
    # rsd=0.01 sizes the HLL sketch for ~1% relative error (default 5%
    # measured ~7.6% on this keyspace); still constant memory per group
    approx = df.selectExpr("approx_count_distinct(k, 0.01) AS n").first().n
    assert abs(approx - exact) / exact < 0.03, (exact, approx)


def test_percentile_approx_within_2pct(spark):
    df = spark.range(0, 20000).selectExpr("cast(id AS double) AS v")
    exact = df.selectExpr("percentile(v, 0.9) AS p").first().p
    approx = df.selectExpr("percentile_approx(v, 0.9, 1000) AS p").first().p
    assert abs(approx - exact) / exact < 0.02, (exact, approx)


# ---------------------------------------------------------------------------
# sampling: determinism across repartitioning
# ---------------------------------------------------------------------------


def test_train_test_split_stable_under_repartition(spark):
    from mcas_question2_etl_spark.operators.sampling import train_test_split

    df = spark.range(0, 500).selectExpr("id AS doc_id")
    a = {(r.doc_id, r.split) for r in train_test_split(df, "doc_id").collect()}
    b = {
        (r.doc_id, r.split)
        for r in train_test_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b
    test_frac = sum(1 for _, s in a if s == "test") / len(a)
    assert 0.1 < test_frac < 0.3  # ~20%


def test_balanced_sample_exact_quota(spark):
    from mcas_question2_etl_spark.operators.sampling import balanced_sample

    df = spark.createDataFrame(
        [(i, "big" if i % 4 else "small") for i in range(100)], ["id", "label"]
    )
    out = balanced_sample(df, "label", per_class=10, order_col="id").collect()
    from collections import Counter

    c = Counter(r.label for r in out)
    assert c["big"] == 10 and c["small"] == 10


def test_char_ngrams_short_texts_empty(spark):
    # texts shorter than n have NO n-grams (Spark's descending
    # sequence(1,0) would otherwise fabricate partial shingles)
    df = spark.createDataFrame([("ab",), ("a",), ("",), ("abcd",)], ["text"])
    got = {
        r.text: r.sh
        for r in df.select("text", dedup.char_ngrams("text", 3).alias("sh")).collect()
    }
    assert got["ab"] == [] and got["a"] == [] and got[""] == []
    assert got["abcd"] == ["abc", "bcd"]


def test_merge_upsert_update_and_insert(spark):
    from mcas_question2_etl_spark.operators.upsert import merge_upsert

    snap = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], ["k", "name", "v"])
    upd = spark.createDataFrame([(2, "b2", 99.0), (3, "c", 30.0)], ["k", "name", "v"])
    got = {r.k: (r.name, r.v) for r in merge_upsert(snap, upd, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0)}


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    """SQL MERGE raises on multiple source matches for one target row;
    the default guard mirrors that instead of silently emitting dups."""
    import pytest

    from mcas_question2_etl_spark.operators.upsert import merge_upsert
    from mcas_question2_etl_spark.quality import JoinValidationError

    snap = spark.createDataFrame([(1, "a")], ["k", "name"])
    dup = spark.createDataFrame([(1, "x"), (1, "y")], ["k", "name"])
    with pytest.raises(JoinValidationError):
        merge_upsert(snap, dup, ["k"]).collect()
    # opt-out keeps the raw anti-join+union behavior
    assert merge_upsert(snap, dup, ["k"], validate_unique=False).count() == 2
    # and the no-broadcast path is semantically identical
    got = {
        r.k: r.name
        for r in merge_upsert(
            snap,
            spark.createDataFrame([(1, "x")], ["k", "name"]),
            ["k"],
            broadcast_keys=False,
        ).collect()
    }
    assert got == {1: "x"}


def test_salted_agg_count_skips_nulls(spark):
    """'count' follows SQL COUNT(col) (nulls skipped); '*' counts rows."""
    from mcas_question2_etl_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 3), ("b", None)], "k string, v int"
    )
    got = {
        r.k: (r.n_v, r.n_rows)
        for r in salted_agg(
            df, keys=["k"], aggs={"n_v": ("count", "v"), "n_rows": ("count", "*")},
            buckets=4,
        ).collect()
    }
    assert got == {"a": (2, 3), "b": (0, 1)}


def test_latest_by_key_tiebreak_deterministic(spark):
    from mcas_question2_etl_spark.operators.upsert import latest_by_key

    rows = [(1, 5, "x"), (1, 5, "y"), (1, 4, "z"), (2, 1, "w")]
    df = spark.createDataFrame(rows, ["k", "version", "uid"])
    got = {r.k: r.uid for r in latest_by_key(df, ["k"], "version", "uid").collect()}
    # equal versions -> highest tiebreak wins, deterministically
    assert got == {1: "y", 2: "w"}


def test_hll_rollup_matches_direct_estimate(spark):
    from mcas_question2_etl_spark.operators.sketches import (
        hll_distinct,
        hll_rollup,
        hll_sketch_table,
    )

    rows = [(g, d, u) for g in ("a", "b") for d in range(4) for u in range(g == "a" and 300 or 40)]
    df = spark.createDataFrame(rows, ["grp", "day", "uid"])
    direct = {r.grp: r.approx_distinct for r in hll_distinct(df, ["grp"], "uid").collect()}
    merged = {
        r.grp: r.approx_distinct
        for r in hll_rollup(hll_sketch_table(df, ["grp", "day"], "uid"), ["grp"]).collect()
    }
    exact = {"a": 300, "b": 40}
    for g, want in exact.items():
        assert abs(direct[g] - want) <= 0.05 * want
        assert abs(merged[g] - want) <= 0.05 * want


def test_hll_sketch_table_is_binary_and_tiny(spark):
    from pyspark.sql.types import BinaryType

    from mcas_question2_etl_spark.operators.sketches import hll_sketch_table

    df = spark.createDataFrame([(1, i) for i in range(1000)], ["g", "u"])
    sk = hll_sketch_table(df, ["g"], "u")
    assert isinstance(sk.schema["hll_sketch"].dataType, BinaryType)
    [row] = sk.collect()
    assert len(row.hll_sketch) <= (1 << 14) + 64  # bounded regardless of input rows


def test_heavy_hitters_exact_with_boundary(spark):
    from mcas_question2_etl_spark.operators.sketches import heavy_hitters

    # 100 rows: "hot" 30x, "warm" exactly 20x (== support*N, excluded
    # under strict >), rest singletons
    rows = [("hot",)] * 30 + [("warm",)] * 20 + [(f"u{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, ["k"])
    got = {r.k: r.cnt for r in heavy_hitters(df, "k", support=0.2).collect()}
    assert got == {"hot": 30}


def test_heavy_hitters_none_qualify(spark):
    from mcas_question2_etl_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([(f"u{i}",) for i in range(40)], ["k"])
    assert heavy_hitters(df, "k", support=0.5).count() == 0
    assert heavy_hitters(df, "k", support=0.5).columns == ["k", "cnt"]


# ---------------------------------------------------------------------------
# connected components (operators/clustering.py)
# ---------------------------------------------------------------------------


def test_connected_components_chain_and_singletons(spark):
    """A 5-node chain needs several propagation rounds (label travels one
    hop per round); nodes 10/11 are isolated singletons."""
    from mcas_question2_etl_spark.operators.clustering import (
        canonicalize,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], ["a_id", "b_id"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 7, 8, 10, 11]], ["doc_id"]
    )
    comp = connected_components(edges, nodes)
    got = {r.doc_id: r.cluster_id for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 8: 7, 10: 10, 11: 11}

    canon = {r.doc_id: (r.cluster_size, r.keep) for r in canonicalize(comp).collect()}
    assert canon[1] == (5, True) and canon[5] == (5, False)
    assert canon[10] == (1, True)


def test_connected_components_direction_independent(spark):
    """min-label must flow against edge direction too (the edge list is
    undirected): an edge written (big, small) still labels big."""
    from mcas_question2_etl_spark.operators.clustering import connected_components

    edges = spark.createDataFrame([(9, 3)], ["a_id", "b_id"])
    nodes = spark.createDataFrame([(3,), (9,)], ["doc_id"])
    got = {r.doc_id: r.cluster_id for r in connected_components(edges, nodes).collect()}
    assert got == {3: 3, 9: 3}


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    from mcas_question2_etl_spark.operators.clustering import (
        connected_components_hashmin,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["a_id", "b_id"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_hashmin(edges, nodes, max_iter=2)


def test_connected_components_auto_falls_back_to_star(spark):
    """connected_components must survive a diameter budget the hash-min
    core can't: same chain as the raise test, but the star fallback
    labels it correctly instead of failing."""
    from mcas_question2_etl_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["a_id", "b_id"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes, max_iter=2).collect()
    }
    assert got == {i: 1 for i in range(1, 7)}


def test_star_contraction_long_chain_logsq_rounds(spark):
    """Kiveris star contraction on a 64-node chain (diameter 63, the
    hash-min adversary): correct labels, and rounds within the
    O(log^2 n) bound — log2(64)=6, so well under 12 alternations
    (hash-min without path halving would need ~63)."""
    from mcas_question2_etl_spark.operators.clustering import (
        connected_components_star,
    )

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["a_id", "b_id"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    stats: dict = {}
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(edges, nodes, stats=stats).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    assert stats["rounds"] <= 12, stats


def test_star_contraction_matches_hashmin_mixed_graph(spark):
    """Star and hash-min must agree on a graph mixing a clique, a
    chain, reversed edges, self-referential duplicates, and isolated
    nodes."""
    from mcas_question2_etl_spark.operators.clustering import (
        connected_components_hashmin,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3),          # triangle
         (10, 11), (12, 11),              # chain with a reversed edge
         (20, 21), (20, 21),              # duplicate edge
         (31, 30)],                       # single reversed pair
        ["a_id", "b_id"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 30, 31, 40]], ["doc_id"]
    )
    a = {r.doc_id: r.cluster_id
         for r in connected_components_hashmin(edges, nodes).collect()}
    b = {r.doc_id: r.cluster_id
         for r in connected_components_star(edges, nodes).collect()}
    assert a == b
    assert b[40] == 40 and b[12] == 10 and b[31] == 30


def test_gopher_quality_report_fixtures(spark):
    """Multi-line and adversarial docs exercise the metrics the
    single-line synthetic corpus can't: duplicate lines, top-word
    dominance, non-alphabetic words."""
    from mcas_question2_etl_spark.operators.text import gopher_quality_report

    good = "the cat and a dog walked to a park in every fine morning light"
    spam = " ".join(["buy"] * 30)  # top_word_frac = 1.0
    dup_lines = "\n".join(["same line here"] * 9 + ["different line now"])
    numeric = " ".join(str(i) for i in range(20))  # alpha_word_frac = 0
    df = spark.createDataFrame(
        [(1, good), (2, spam), (3, dup_lines), (4, numeric)], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in gopher_quality_report(df).collect()}

    assert got[1].keep and got[1].n_stopwords_distinct >= 4
    assert not got[2].keep and got[2].top_word_frac == 1.0
    assert not got[3].keep and abs(got[3].dup_line_frac - 0.8) < 1e-12
    assert not got[4].keep and got[4].alpha_word_frac == 0.0


def test_decontaminate_flags_benchmark_copies(spark):
    from mcas_question2_etl_spark.operators.decontaminate import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [
            (1, bench_text),  # verbatim copy -> 100% overlap
            (2, "alpha beta gamma delta unrelated words go here now"),
            (3, "totally different text with no shared trigrams at all"),
            (4, "too short"),  # < n words -> zero n-grams, never flagged
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert got[1].contaminated and got[1].overlap_frac == 1.0
    assert not got[2].contaminated and 0 < got[2].n_matched < got[2].n_ngrams
    assert not got[3].contaminated and got[3].n_matched == 0
    assert got[4].n_ngrams == 0 and not got[4].contaminated


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from mcas_question2_etl_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common rare rare rare common shared"),
            (2, "common common common shared other other"),
            (3, "common shared banal banal words words"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, k=2).collect()
    top = {(r.doc_id, r.rank): (r.term, r.tf, r.df) for r in out}
    # 'rare' appears only in doc 1 (df=1, tf=3) -> its top term
    assert top[(1, 1)] == ("rare", 3, 1)
    # every doc gets exactly k rows, ranks dense 1..k
    assert sorted(k for k in top) == [(d, r) for d in (1, 2, 3) for r in (1, 2)]


def test_pack_next_fit_boundary_starts_new_bin(spark):
    from mcas_question2_etl_spark.operators.packing import pack_next_fit

    # one shard so the next-fit order is just the key order
    df = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 10), (4, 100)], ["k", "toks"]
    )
    got = {
        r.k: r.bin
        for r in pack_next_fit(df, "k", "toks", capacity=100, shards=1).collect()
    }
    # cumsums: 60,120,130,230 -> bin = floor((cum - toks)/100)
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_snapshot_diff_statuses_and_null_values(spark):
    from mcas_question2_etl_spark.operators.versioning import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, "e")], ["k", "v"]
    )
    got = {r.k: r.diff_status for r in snapshot_diff(old, new, ["k"]).collect()}
    # null==null counts as unchanged (sentinel hash), 4 removed, 5 added
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",
        4: "removed",
        5: "added",
    }


def test_scd2_intervals_collapses_runs(spark):
    from mcas_question2_etl_spark.operators.versioning import scd2_intervals

    df = spark.createDataFrame(
        [(1, 10, 1, "x"), (1, 20, 2, "x"), (1, 30, 3, "y"), (1, 40, 4, "x")],
        ["k", "t", "seq", "attr"],
    )
    rows = (
        scd2_intervals(df, ["k"], "t", ["attr"], tiebreak="seq")
        .orderBy("valid_from")
        .collect()
    )
    # run of two 'x' collapses; three intervals x@10->30, y@30->40, x@40->null
    assert [(r.attr, r.valid_from, r.valid_to, r.is_current) for r in rows] == [
        ("x", 10, 30, False),
        ("y", 30, 40, False),
        ("x", 40, None, True),
    ]


def test_chunk_documents_overlap_and_tail(spark):
    from mcas_question2_etl_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    rows = (
        chunk_documents(df, window=3, stride=2).orderBy("chunk_id").collect()
    )
    assert [(r.chunk_id, r.n_chunk_tokens, r.chunk_text) for r in rows] == [
        (0, 3, "a b c"),
        (1, 3, "c d e"),
        (2, 1, "e"),
    ]


def test_mixture_sample_monotone_in_rate(spark):
    from mcas_question2_etl_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "en") for i in range(200)], ["doc_id", "lang"]
    )
    lo = {r.doc_id for r in mixture_sample(df, "doc_id", "lang", {"en": 30}).collect()}
    hi = {r.doc_id for r in mixture_sample(df, "doc_id", "lang", {"en": 60}).collect()}
    assert lo <= hi and len(lo) > 0 and len(hi) > len(lo)
    # unlisted domain defaults to rate 0 -> dropped
    other = spark.createDataFrame([(1, "xx")], ["doc_id", "lang"])
    assert mixture_sample(other, "doc_id", "lang", {"en": 100}).count() == 0


def test_duplicated_spans_flags_shared_ngram_only(spark):
    from mcas_question2_etl_spark.operators.dedup import duplicated_spans

    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, shared + " tail a"),          # 3 spans, 1 shared with doc 2
            (2, "prefix " + shared),          # 2 spans, 1 shared with doc 1
            (3, "totally distinct words here spans nothing shared"),
            (4, "short"),                     # < n tokens -> 0 spans
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in duplicated_spans(df, n=5).collect()}
    assert (got[1].n_spans, got[1].n_dup_spans) == (3, 1)
    assert (got[2].n_spans, got[2].n_dup_spans) == (2, 1)
    assert got[3].n_dup_spans == 0
    assert (got[4].n_spans, got[4].dup_frac) == (0, 0.0)


def test_bm25_ranks_term_frequency_and_ignores_nonquery(spark):
    from mcas_question2_etl_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "vector vector vector noise noise"),
            (2, "vector noise noise noise noise"),
            (3, "noise noise noise noise noise"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(df, ["vector"], k=10).collect()
    assert [r.doc_id for r in rows] == [1, 2]  # doc 3 never matches
    assert rows[0].score > rows[1].score > 0


def test_kmeans_separates_obvious_clusters(spark):
    from mcas_question2_etl_spark.operators.kmeans import kmeans_cluster_stats

    # two tight blobs around (0.4, 0.4) and (-0.4, -0.4); seeds are
    # vec_id 0 (blob A) and vec_id 1 (blob B)
    data = [
        (0, [0.40, 0.41]), (2, [0.39, 0.42]), (3, [0.41, 0.40]),
        (1, [-0.40, -0.41]), (4, [-0.39, -0.42]), (5, [-0.41, -0.40]),
    ]
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    rows = kmeans_cluster_stats(df, k=2, iters=2).collect()
    got = {r.cid: r.n_members for r in rows}
    assert got == {0: 3, 1: 3}
    # inertia is tiny for tight blobs: well under one Q20 unit squared
    assert all(r.inertia < (1 << 40) for r in rows)


def test_weighted_sample_biased_to_heavy_rows(spark):
    from mcas_question2_etl_spark.operators.sampling import weighted_sample_topk

    # 5 heavy rows (weight 10000) vs 95 light rows (weight 1): the
    # heavy rows all but surely win the top-5 draw; zero weights never
    # appear; the draw is deterministic across reruns
    rows = [(i, 10000 if i < 5 else 1) for i in range(100)] + [(100, 0)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got1 = [r.doc_id for r in weighted_sample_topk(df, "doc_id", "w", 5).collect()]
    got2 = [r.doc_id for r in weighted_sample_topk(df, "doc_id", "w", 5).collect()]
    assert got1 == got2
    assert 100 not in got1
    assert len(set(got1) & {0, 1, 2, 3, 4}) >= 4


def test_bitmap_rollup_is_exact(spark):
    from mcas_question2_etl_spark.operators.sketches import (
        bitmap_distinct,
        bitmap_distinct_table,
        bitmap_rollup,
    )

    # ids straddle multiple 32768-bit buckets to exercise the
    # per-bucket OR + cross-bucket SUM path, with overlap across days
    rows = [
        (g, d, u)
        for g in ("a", "b")
        for d in range(3)
        for u in (1, 7, 40000, 70000 + d, 0)
    ]
    df = spark.createDataFrame(rows, ["grp", "day", "uid"])
    exact = {
        r.grp: r.n
        for r in df.groupBy("grp").agg(F.countDistinct("uid").alias("n")).collect()
    }
    one_shot = {
        r.grp: r.exact_distinct
        for r in bitmap_distinct(df, ["grp"], "uid").collect()
    }
    rolled = {
        r.grp: r.exact_distinct
        for r in bitmap_rollup(
            bitmap_distinct_table(df, ["grp", "day"], "uid"), ["grp"]
        ).collect()
    }
    assert one_shot == exact
    assert rolled == exact  # bucket-wise OR loses nothing: rollup stays exact


def test_theta_overlap_exact_in_sparse_mode(spark):
    from mcas_question2_etl_spark.operators.sketches import theta_segment_overlap

    # A = {0..99}, B = {50..129}: |A|=100 |B|=80 |A∪B|=130 |A∩B|=50;
    # sketches stay in exact mode well below 2^14 entries
    rows = [("a", u) for u in range(100)] + [("b", u) for u in range(50, 130)]
    df = spark.createDataFrame(rows, ["seg", "uid"])
    [r] = theta_segment_overlap(df, "seg", "uid", "a", "b").collect()
    assert (r.est_a, r.est_b, r.est_union, r.est_intersect) == (100.0, 80.0, 130.0, 50.0)


def test_theta_disjoint_segments_intersect_zero(spark):
    from mcas_question2_etl_spark.operators.sketches import theta_segment_overlap

    rows = [("a", u) for u in range(50)] + [("b", u) for u in range(1000, 1040)]
    df = spark.createDataFrame(rows, ["seg", "uid"])
    [r] = theta_segment_overlap(df, "seg", "uid", "a", "b").collect()
    assert r.est_intersect == 0.0
    assert r.est_union == 90.0


def test_kll_rollup_rank_error_within_bound(spark):
    from pyspark.sql import functions as F

    from mcas_question2_etl_spark.operators.sketches import (
        kll_quantile_rollup,
        kll_quantile_table,
    )

    # deterministic skewed values: v = (i*i) % 10007 over two shards
    rows = [(i % 2, float((i * i) % 10007)) for i in range(20000)]
    df = spark.createDataFrame(rows, ["shard", "v"])
    merged = kll_quantile_rollup(
        kll_quantile_table(df, ["shard"], "v"), [], [0.5, 0.95]
    )
    [r] = merged.collect()
    for q, est in ((0.5, r.q_50), (0.95, r.q_95)):
        rank = df.filter(F.col("v") <= est).count() / 20000
        assert abs(rank - q) <= 0.03  # KLL(200) bound ~1.65%, slack to 3


def test_equiwidth_histogram_clamps_edges(spark):
    from mcas_question2_etl_spark.operators.aggregates import equiwidth_histogram

    # lo=0, hi=10, 5 buckets of width 2; -3 clamps into bucket 0,
    # 10 and 99 clamp into bucket 4; boundary 2.0 goes UP (floor(1.0))
    vals = [-3.0, 0.0, 1.9, 2.0, 5.0, 9.99, 10.0, 99.0]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = {
        r.bucket: (r.n_rows, r.min_val, r.max_val)
        for r in equiwidth_histogram(df, "x", 0.0, 10.0, 5).collect()
    }
    assert got == {
        0: (3, -3.0, 1.9),
        1: (1, 2.0, 2.0),
        2: (1, 5.0, 5.0),
        4: (3, 9.99, 99.0),
    }


def test_zipf_ranks_deterministic_ties(spark):
    from mcas_question2_etl_spark.operators.text import zipf_token_ranks

    df = spark.createDataFrame(
        [("b b a a c",), ("a b z",)], ["text"]
    )
    got = [(r.rank, r.term, r.cnt) for r in zipf_token_ranks(df, top_k=3).collect()]
    # a:3 b:3 c:1 z:1 -> tie a/b broken ascending, tie c/z ascending
    assert got == [(1, "a", 3), (2, "b", 3), (3, "c", 1)]


def test_cooccurrence_lift_counts_presence_not_frequency(spark):
    from mcas_question2_etl_spark.operators.text import term_cooccurrence_lift

    # "x x y" counts x once for presence; pair (x,y) in 2 of 3 docs
    df = spark.createDataFrame(
        [(1, "x x y"), (2, "x y"), (3, "x q")], ["doc_id", "text"]
    )
    rows = {(r.t1, r.t2): (r.n_ab, r.n_a, r.n_b, r.lift)
            for r in term_cooccurrence_lift(df, vocab_k=10, top_pairs=10).collect()}
    assert rows[("x", "y")] == (2, 3, 2, 2 * 3 / (3 * 2))
    assert rows[("q", "x")][0] == 1


def test_pagerank_deterministic_star_graph(spark):
    from mcas_question2_etl_spark.operators.pagerank import PR_SCALE, pagerank

    # symmetrized star 1-{2,3}: hand-replicate the exact integer updates
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(edges, iters=2).collect()}

    S, base = PR_SCALE, (15 * PR_SCALE) // 100
    r1 = {1: base + (85 * (S // 1 + S // 1)) // 100,
          2: base + (85 * (S // 2)) // 100,
          3: base + (85 * (S // 2)) // 100}
    r2 = {1: base + (85 * (r1[2] // 1 + r1[3] // 1)) // 100,
          2: base + (85 * (r1[1] // 2)) // 100,
          3: base + (85 * (r1[1] // 2)) // 100}
    assert got == r2
    assert got[1] > got[2] == got[3]  # hub outranks leaves


def test_budget_head_greedy_prefix(spark):
    """budget_head keeps the maximal priority-ordered prefix whose
    cumulative weight fits the budget — per partition, deterministic."""
    from mcas_question2_etl_spark.operators.sampling import budget_head

    rows = [
        ("s1", 1, 500),
        ("s1", 2, 400),
        ("s1", 3, 300),  # cum 1200 > 1000 -> dropped
        ("s2", 4, 999),
        ("s2", 5, 1),    # cum 1000 == budget -> kept
        ("s2", 6, 1),    # cum 1001 -> dropped
    ]
    df = spark.createDataFrame(rows, "src string, id long, w long")
    out = budget_head(df, "src", [F.col("id")], "w", budget=1000)
    kept = {r.id for r in out.collect() if r.keep}
    assert kept == {1, 2, 4, 5}


def test_welch_ttest_matches_numpy(spark):
    """Welch t / dof equal the textbook formulas computed in numpy."""
    import numpy as np

    from mcas_question2_etl_spark.operators.evaluation import welch_ttest

    a = [1.0, 2.5, 3.5, 4.0, 10.0]
    b = [2.0, 2.0, 3.0, 8.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_ttest(df, F.col("v"), F.col("g"), "a", "b", round_to=6).collect()[0]
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    sa, sb = va / len(a), vb / len(b)
    t = (np.mean(a) - np.mean(b)) / np.sqrt(sa + sb)
    dof = (sa + sb) ** 2 / (sa**2 / (len(a) - 1) + sb**2 / (len(b) - 1))
    assert r.n_a == 5 and r.n_b == 4
    assert abs(r.t_stat - round(t, 6)) < 1e-9
    assert abs(r.dof - round(dof, 6)) < 1e-9


def test_global_row_number_is_total_order(spark):
    """Two-phase global row_number is a 1..n bijection honoring the
    sort order, regardless of input partitioning."""
    from mcas_question2_etl_spark.operators.ranking import with_global_row_number

    rows = [(v % 7, i) for i, v in enumerate([5, 3, 9, 1, 7, 7, 2, 8, 0, 4] * 5)]
    df = spark.createDataFrame(rows, "v long, id long").repartition(13)
    out = with_global_row_number(df, ["v", "id"], out_col="rn").collect()
    got = sorted((r.v, r.id, r.rn) for r in out)
    assert [g[2] for g in got] == list(range(1, len(rows) + 1))
