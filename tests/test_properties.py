"""Property-based spot checks (hypothesis) — SURVEY §5 plan item 4.

Each property pins an algebraic invariant of an operator family:
  * F1: comma-strip cast round-trips python's format(n, ',');
  * R2: explode row count == sum of list lengths;
  * R1∘unpivot: pivot on unique keys is invertible;
  * as-of join == per-row argmax(right_time <= left_time) on a
    brute-force reference implementation.

One Spark job per property (not per example): hypothesis drives data
generation, a single createDataFrame/collect round-trip evaluates all
examples at once.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mcas_question2_etl_spark.functions import scalar
from mcas_question2_etl_spark.operators import reshape
from mcas_question2_etl_spark.operators.asof import asof_join

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(ns=st.lists(st.integers(min_value=0, max_value=10**15), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_comma_strip_roundtrip(spark, ns):
    rows = [(format(n, ","),) for n in ns]
    df = spark.createDataFrame(rows, "s string")
    got = [r.v for r in df.select(scalar.comma_strip_cast("s").alias("v")).collect()]
    assert got == ns


@given(
    lists=st.lists(
        st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=0, max_size=5),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_explode_row_count(spark, lists):
    rows = [(i, ", ".join(lst) if lst else None) for i, lst in enumerate(lists)]
    df = spark.createDataFrame(rows, "id long, memberlist string")
    out = reshape.explode_list(df, "memberlist", ", ", "town")
    # null lists vanish under inner explode; non-empty lists of joined
    # non-empty tokens split back to their length
    expected = sum(len(lst) for lst in lists if lst)
    assert out.count() == expected


@given(
    vals=st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.tuples(st.integers(0, 999), st.integers(0, 999)),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_pivot_unpivot_identity_on_unique_keys(spark, vals):
    # long form: (key, subject, value) with unique (key, subject)
    long_rows = []
    for k, (ela, math_) in vals.items():
        long_rows += [(k, "ELA", ela), (k, "MATH", math_)]
    df = spark.createDataFrame(long_rows, "k long, subject string, v long")
    wide = reshape.pivot_wide(
        df,
        index=["k"],
        pivot_col="subject",
        values={"v": F.first("v")},
        pivot_values=["ELA", "MATH"],
        assert_unique=True,
    )
    back = {
        (r.k, s): r[f"v_{s.lower()}"]
        for r in wide.collect()
        for s in ("ELA", "MATH")
    }
    assert back == {(k, s): v for k, s, v in long_rows}


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=15),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    # unique tiebreak id per right row; later rid wins on equal t
    rdf = spark.createDataFrame(
        [(i, k, t, t * 10 + i) for i, (k, t) in enumerate(right)],
        "rid long, k long, t long, payload long",
    )
    got = {
        r.lid: r.payload
        for r in asof_join(
            ldf, rdf, on="k", left_time="t", right_time="t",
            right_cols=["payload"], tiebreak="rid",
        ).collect()
    }
    for lid, (k, t) in enumerate(left):
        cands = [
            (rt, rid, payload)
            for rid, (rk, rt) in enumerate(right)
            for payload in [rt * 10 + rid]
            if rk == k and rt <= t
        ]
        want = max(cands)[2] if cands else None
        assert got[lid] == want, f"lid={lid} k={k} t={t}"


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=15),
)
@settings(**_SETTINGS)
def test_asof_join_forward_matches_bruteforce(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    rdf = spark.createDataFrame(
        [(i, k, t, t * 10 + i) for i, (k, t) in enumerate(right)],
        "rid long, k long, t long, payload long",
    )
    got = {
        r.lid: r.payload
        for r in asof_join(
            ldf, rdf, on="k", left_time="t", right_time="t",
            right_cols=["payload"], tiebreak="rid", direction="forward",
        ).collect()
    }
    for lid, (k, t) in enumerate(left):
        # earliest rt >= t; on rt ties the largest rid wins (tb asc, last wins)
        cands = [
            (rt, -rid, rt * 10 + rid)
            for rid, (rk, rt) in enumerate(right)
            if rk == k and rt >= t
        ]
        want = min(cands)[2] if cands else None
        assert got[lid] == want, f"lid={lid} k={k} t={t}"


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=200_000),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_bitmap_distinct_equals_count_distinct(spark, rows):
    """Bitmap-bucket distinct is EXACT for arbitrary grouped bigint
    ids, including ids straddling bucket boundaries and full
    duplicates."""
    from mcas_question2_etl_spark.operators.sketches import bitmap_distinct

    df = spark.createDataFrame(rows, "g string, uid long")
    want = {(g,): len({u for gg, u in rows if gg == g}) for g in {g for g, _ in rows}}
    got = {
        (r.g,): r.exact_distinct
        for r in bitmap_distinct(df, ["g"], "uid").collect()
    }
    assert got == {k: v for k, v in want.items()}


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
@settings(**_SETTINGS)
def test_pagerank_matches_python_reference(spark, edges):
    """Integer PageRank over random small digraphs equals a pure-Python
    replay of the same floor arithmetic (determinism means EQUALITY,
    not approximation)."""
    from mcas_question2_etl_spark.operators.pagerank import PR_SCALE, pagerank

    edges = sorted(set(edges))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iters=2).collect()}

    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {n: PR_SCALE for n in deg}
    for _ in range(2):
        incoming: dict[int, int] = {}
        for s, d in edges:
            if s in ranks:
                incoming[d] = incoming.get(d, 0) + ranks[s] // deg[s]
        ranks = {
            n: (15 * PR_SCALE) // 100 + (85 * total) // 100
            for n, total in incoming.items()
        }
    assert got == ranks


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**16 - 1),
            st.integers(min_value=0, max_value=2**16 - 1),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_morton_key_bijective_and_spark_matches_python(spark, pts):
    """Z-order keys: encode∘decode is identity, and the generated Spark
    expression equals the pure-Python reference bit-for-bit."""
    from mcas_question2_etl_spark.operators import zorder

    for x, y in pts:
        assert zorder.morton_decode_py(zorder.morton_key_py(x, y)) == (x, y)
    df = spark.createDataFrame(pts, "x long, y long")
    got = [
        r.z
        for r in df.select(
            zorder.morton_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    assert got == [zorder.morton_key_py(x, y) for x, y in pts]


@given(
    xs=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=3, max_size=25
    ),
    slope=st.integers(min_value=-5, max_value=5),
    icept=st.integers(min_value=-20, max_value=20),
)
@settings(**_SETTINGS)
def test_group_ols_matches_numpy_polyfit(spark, xs, slope, icept):
    """Sufficient-statistics OLS equals numpy's least squares on the
    same points (noise-free planted line recovers exactly; degenerate
    zero-variance x yields NULLs)."""
    import numpy as np

    from mcas_question2_etl_spark.operators.regression import group_ols

    ys = [slope * x + icept for x in xs]
    df = spark.createDataFrame(
        [("g", float(x), float(y)) for x, y in zip(xs, ys)],
        "g string, x double, y double",
    )
    row = group_ols(df, ["g"], "x", "y").collect()[0]
    if len(set(xs)) == 1:
        assert row.slope is None and row.r2 is None
        return
    coef = np.polyfit(np.array(xs, float), np.array(ys, float), 1)
    assert abs(row.slope - coef[0]) < 1e-6
    assert abs(row.intercept - coef[1]) < 1e-6
    if len(set(ys)) > 1:
        assert abs(row.r2 - 1.0) < 1e-9


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ).filter(lambda e: e[0] < e[1]),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Forward-algorithm triangle count equals the O(n³) enumeration."""
    from itertools import combinations

    from mcas_question2_etl_spark.operators.graph_metrics import triangle_count

    edges = sorted(set(edges))
    eset = set(edges)
    nodes = sorted({n for e in edges for n in e})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (a, c) in eset and (b, c) in eset
    )
    df = spark.createDataFrame(edges, "a long, b long")
    row = triangle_count(df).collect()[0]
    assert row.n_triangles == want
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(nodes)


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=60
    ),
    k=st.integers(min_value=1, max_value=7),
)
@settings(**_SETTINGS)
def test_distributed_ntile_matches_sql_ntile(spark, vals, k):
    """Two-phase distributed ntile == Spark's single-task NTILE window."""
    from pyspark.sql import Window

    from mcas_question2_etl_spark.operators.ranking import with_ntile

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, id long")
    got = {
        r.id: r.bucket
        for r in with_ntile(df, ["v", "id"], k, out_col="bucket").collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r.id: r.bucket
        for r in df.select("id", F.ntile(k).over(w).alias("bucket")).collect()
    }
    assert got == want


@given(
    scored=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # score (ties likely)
            st.booleans(),
        ),
        min_size=2,
        max_size=50,
    ).filter(
        lambda xs: any(y for _, y in xs) and any(not y for _, y in xs)
    )
)
@settings(**_SETTINGS)
def test_auc_rank_sum_matches_bruteforce(spark, scored):
    """Grouped-by-score AUC == pairwise P(score_pos > score_neg) + ties/2."""
    from mcas_question2_etl_spark.operators.evaluation import auc_rank_sum

    pos = [s for s, y in scored if y]
    neg = [s for s, y in scored if not y]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = (wins + ties / 2) / (len(pos) * len(neg))

    df = spark.createDataFrame(scored, "score long, label boolean")
    row = auc_rank_sum(df, F.col("score"), F.col("label"), round_to=9).collect()[0]
    assert row.n_pos == len(pos)
    assert row.n_neg == len(neg)
    assert abs(row.auc - want) < 1e-7


def test_gapfill_locf_dense_grid(spark):
    """Gap-fill emits the full series x day grid; LOCF carries the last
    observed value across gap days and stays null before first sighting."""
    import datetime as dt

    from mcas_question2_etl_spark.operators.timeseries import gapfill_locf

    rows = [
        ("a", dt.datetime(2024, 1, 1, 5), 10.0),
        ("a", dt.datetime(2024, 1, 4, 6), 40.0),
        ("b", dt.datetime(2024, 1, 3, 7), 30.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = gapfill_locf(
        df, "ts", "k", [F.avg("v").alias("av")], "av"
    ).collect()
    grid = {(r.k, r.day.isoformat()): (r.av, r.av_locf) for r in out}
    assert len(grid) == 8  # 2 series x 4 days
    assert grid[("a", "2024-01-02")] == (None, 10.0)
    assert grid[("a", "2024-01-03")] == (None, 10.0)
    assert grid[("a", "2024-01-04")] == (40.0, 40.0)
    assert grid[("b", "2024-01-01")] == (None, None)
    assert grid[("b", "2024-01-03")] == (30.0, 30.0)
    assert grid[("b", "2024-01-04")] == (None, 30.0)


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),   # order key (ties)
            st.integers(min_value=-5, max_value=5),   # value
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_distributed_running_sum_matches_sql_window(spark, vals):
    """Two-phase prefix sum == single-task SUM() OVER (ORDER BY)."""
    from pyspark.sql import Window

    from mcas_question2_etl_spark.operators.ranking import with_running_sum

    rows = [(k, v, i) for i, (k, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long, id long").repartition(7)
    got = {
        r.id: r.rs
        for r in with_running_sum(df, ["k", "id"], "v", out_col="rs").collect()
    }
    w = (
        Window.orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r.id: r.rs
        for r in df.select("id", F.sum("v").over(w).alias("rs")).collect()
    }
    assert got == want


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_point_in_polygon_matches_python_raycast(spark, pts):
    """Expression-level even-odd ray cast == the same rule in python,
    and the grid join finds exactly the contained points."""
    from mcas_question2_etl_spark.operators.spatial import point_in_polygon_join

    # concave hexagon, closed ring, no horizontal edges
    ring = [(10.0, 10.0), (50.0, 14.0), (30.0, 30.0), (52.0, 48.0),
            (12.0, 44.0), (10.0, 10.0)]
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]

    def inside(px, py):
        hit = False
        for i in range(len(ring) - 1):
            if (ys[i] > py) != (ys[i + 1] > py):
                xint = xs[i] + (xs[i + 1] - xs[i]) * (py - ys[i]) / (
                    ys[i + 1] - ys[i]
                )
                if px < xint:
                    hit = not hit
        return hit

    # offset by 0.5 so points never sit exactly on a vertex/edge lattice
    rows = [(i, x + 0.5, y + 0.5) for i, (x, y) in enumerate(pts)]
    want = {i for i, x, y in rows if inside(x, y)}
    points = spark.createDataFrame(rows, "pid long, px double, py double")
    polys = spark.createDataFrame(
        [("h", xs, ys)], "poly_id string, xs array<double>, ys array<double>"
    )
    got = {
        r.pid for r in point_in_polygon_join(points, polys, 10.0).collect()
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_prefix_filter_join_matches_bruteforce(spark, docs):
    """Prefix-filter candidate pruning loses no pair: output equals the
    all-pairs exact Jaccard join at the same threshold."""
    from mcas_question2_etl_spark.operators.setjoin import (
        prefix_filter_jaccard_join,
    )

    t = 0.5
    sets = [set(d) for d in docs]
    want = {}
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if union and inter / union >= t:
                want[(i, j)] = (inter, union)

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prefix_filter_jaccard_join(df, "doc_id", "text", t).collect()
    got = {(r.a_id, r.b_id): (r.n_inter, r.n_union) for r in out}
    assert got == want


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=19),
            st.integers(min_value=0, max_value=19),
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_contraction_matches_hashmin_and_unionfind(spark, edges):
    """Kiveris large-star/small-star == hash-min == a pure-Python
    union-find on random graphs (self-loops and duplicates included in
    the input; the node universe is every endpoint plus two guaranteed
    isolates)."""
    from mcas_question2_etl_spark.operators.clustering import (
        connected_components_hashmin,
        connected_components_star,
    )

    universe = sorted({n for e in edges for n in e} | {100, 101})
    # union-find reference
    parent = {n: n for n in universe}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min of component
    comp: dict[int, list[int]] = {}
    for n in universe:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in comp.values() for n in members}

    nodes = spark.createDataFrame([(n,) for n in universe], "doc_id long")
    if edges:
        edf = spark.createDataFrame(edges, "a_id long, b_id long")
    else:
        edf = spark.createDataFrame([], "a_id long, b_id long")
    # self-loops: the star core filters u==v; hash-min tolerates them
    hm = {r.doc_id: r.cluster_id
          for r in connected_components_hashmin(edf, nodes).collect()}
    star = {r.doc_id: r.cluster_id
            for r in connected_components_star(edf, nodes).collect()}
    assert hm == want
    assert star == want


@given(
    lon=st.floats(min_value=-73.5, max_value=-69.9),
    lat=st.floats(min_value=41.2, max_value=42.9),
)
@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_projection_roundtrips(lon, lat):
    """forward∘inverse == identity for every projection family over
    the New England box (pure-python references; the column/SQL
    builders share their constants and term order)."""
    from mcas_question2_etl_spark.functions import geo

    x, y = geo.lcc_forward(lon, lat)
    lon2, lat2 = geo.lcc_inverse(x, y)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9

    x, y = geo.webmercator_forward(lon, lat)
    lon2, lat2 = geo.webmercator_inverse(x, y)
    assert abs(lon2 - lon) < 1e-10 and abs(lat2 - lat) < 1e-10

    # each UTM zone over ITS OWN +-3 degree domain (the series is only
    # specified in-zone; zone 18's meridian sits 6 degrees west)
    for epsg, shift in ((26919, 0.0), (26918, -6.0)):
        z = geo.UTM_ZONES[epsg]
        x, y = geo.tm_forward(lon + shift, lat, z)
        lon2, lat2 = geo.tm_inverse(x, y, z)
        assert abs(lon2 - (lon + shift)) < 1e-7 and abs(lat2 - lat) < 1e-7


def test_projection_known_points():
    """Pin published coordinates (EPSG registry test points / standard
    web-mercator of Boston) so a wrong constant can't round-trip its
    way to green."""
    from mcas_question2_etl_spark.functions import geo

    # Boston City Hall, EPSG:3857 (standard web-mercator values)
    x, y = geo.webmercator_forward(-71.0589, 42.3601)
    assert abs(x - -7910240.56) < 0.5 and abs(y - 5215074.24) < 0.5

    # UTM 19N: Boston ~ (330448 E, 4691812 N) on NAD83
    x, y = geo.tm_forward(-71.0589, 42.3601, geo.UTM_ZONES[26919])
    assert abs(x - 330448.1) < 1.0 and abs(y - 4691812.1) < 1.0

    # Mass State Plane mainland: Boston ~ (236246.8 E, 901149.1 N)
    x, y = geo.lcc_forward(-71.0589, 42.3601)
    assert abs(x - 236029.5) < 500 and abs(y - 900721.0) < 500
