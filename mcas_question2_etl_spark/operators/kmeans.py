"""Deterministic k-means (Lloyd's algorithm, fixed iteration count)
over Q20 fixed-point embeddings — the codebook-training counterpart to
the IVF serving path in operators/similarity.py (whose centroids are a
documented stand-in; this operator trains real ones).

Why fixed-point: centroid updates are MEANS, and float sums are
partition-order-dependent on a cluster — the classic source of
run-to-run drift in distributed k-means. Quantizing to Q20 integers
(similarity.py convention) makes every sum exact and associative, and
the per-dimension mean ``floor(sum / count)`` is one IEEE double
division + floor — bit-identical on any engine and any partitioning.
That determinism is what lets a training job checkpoint/resume a
codebook without cluster-assignment churn, and what makes this
operator oracle-checkable in plain SQL.

Scale shape per iteration: assignment is a broadcast of the k-row
centroid array folded into ONE narrow expression (array_min over
struct(dist, cid) — no explode, no shuffle of the embedding table,
same trick as similarity.py ivf_topk); the update is a posexplode to
(cid, dim) rows aggregated per (cid, dim) — a single shuffle of
k*dim-bounded partial sums thanks to map-side combine. Iterations are
a driver-side Python loop over DataFrame transforms: the LOGICAL plan
grows by one assignment+update per iteration, but each round's work is
fully distributed (cf. clustering.py's pointer-jumping loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import quantize, quantize_sql


def _dist_str(a: str, b: str) -> str:
    """Spark-SQL squared-L2 distance between two Q20 bigint arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"cast(0 as bigint), (acc, v) -> acc + v)"
    )


def _dist_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_dist_str`."""
    return (
        f"CAST(list_sum([(x[1] - x[2]) * (x[1] - x[2]) "
        f"for x in list_zip({a}, {b})]) AS BIGINT)"
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iters`` Lloyd iterations from the deterministic seed
    (vectors with ``id_col < k``) and return the final assignment:
    ``(vid, v, dist, cid)`` — one row per input vector, ``v`` its Q20
    quantized embedding, ``dist`` the exact squared distance to its
    final centroid. This is the reusable half of the codebook: stats
    (`kmeans_cluster_stats`) and semantic dedup (`semdedup.py`) both
    consume it."""
    pts = emb.select(F.col(id_col).alias("vid"), quantize(vec_col).alias("v"))
    return assign_to_centroids(pts, _lloyd(pts, k, iters))


def assign_to_centroids(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign ``(vid, v)`` Q20 points to their nearest centroid from a
    ``(cid, cv)`` codebook: broadcast the k-row codebook as ONE array
    and take the argmin as a narrow expression (struct ordering picks
    the smallest (dist, cid) — ties to the lowest cid). No explode, no
    shuffle of the point table. Returns ``(vid, v, dist, cid)``."""
    carr = F.broadcast(
        centroids.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
        )
    )
    amin = F.expr(
        "array_min(transform(cents, c -> "
        f"struct({_dist_str('v', 'c.cv')} AS dist, c.cid AS cid)))"
    )
    return points.crossJoin(carr).select(
        "vid", "v", amin["dist"].alias("dist"), amin["cid"].alias("cid")
    )


def _lloyd(pts: DataFrame, k: int, iters: int) -> DataFrame:
    """``iters`` Lloyd rounds over ``(vid, v)`` Q20 points from the
    deterministic seed (vid < k); returns the final ``(cid, cv)``."""
    cents = pts.filter(F.col("vid") < k).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = assign_to_centroids(pts, cents)
        dims = assigned.select(
            "cid", F.posexplode("v").alias("d0", "x")
        ).select("cid", (F.col("d0") + 1).alias("d"), "x")
        per_dim = dims.groupBy("cid", "d").agg(
            F.floor(
                F.sum("x").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("val")
        )
        cents = per_dim.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, val))), s -> s.val)"
            ).alias("cv")
        )
        # Materialize the k-row centroid table and cut its lineage:
        # without this every later reference re-derives the ENTIRE
        # previous iteration (the classic iterative-algorithm lineage
        # blowup), and consumers that reference the final assignment
        # more than once (semdedup's self-join) pay it multiplied.
        # k rows × dim ints — negligible storage, bounded driver cost.
        cents = cents.localCheckpoint(eager=True)
    return cents


def kmeans_cluster_stats(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster stats of the final `kmeans_assign` state: ``cid``,
    ``n_members``, ``inertia`` (exact integer sum of squared Q20
    distances to the final centroid). A cluster that loses all its
    members drops out (consistently on every engine)."""
    final = kmeans_assign(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("inertia"),
        )
        .orderBy("cid")
    )


def kmeans_cluster_stats_sql(
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`kmeans_cluster_stats`: the Lloyd loop
    unrolled into one CTE pair (assign, update) per iteration."""
    with_clause, final_assign = kmeans_assign_ctes(
        k=k, iters=iters, id_col=id_col, vec_col=vec_col, table=table
    )
    return (
        f"{with_clause}\n"
        f"    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,\n"
        f"           CAST(SUM(dist) AS BIGINT) AS inertia\n"
        f"    FROM ({final_assign})\n"
        f"    GROUP BY cid ORDER BY cid"
    )


def kmeans_assign_ctes(
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    prefix: str = "",
) -> tuple[str, str]:
    """DuckDB twin of :func:`kmeans_assign`, split for reuse: returns
    ``(with_clause, final_assign_select)`` where the WITH clause unrolls
    the Lloyd loop and the final select yields ``(vid, v, cid, dist)``.
    Consumers append their own CTEs / final query (cluster stats here,
    within-cluster near-dup pruning in `semdedup.py`). ``prefix``
    namespaces every CTE so several codebooks can share one WITH
    clause (the per-subspace PQ oracle in operators/pq.py)."""
    P = prefix
    parts = [
        f"WITH {P}pts AS (SELECT {id_col} AS vid, {quantize_sql(vec_col)} AS v"
        f" FROM {table}),",
        f"{P}c0 AS (SELECT vid AS cid, v AS cv FROM {P}pts WHERE vid < {k})",
    ]
    prev = f"{P}c0"
    for i in range(1, iters + 1):
        dist = _dist_sql("p.v", "c.cv")
        parts.append(
            f""",
    {P}a{i} AS (
      SELECT vid, v, cid FROM (
        SELECT p.vid, p.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vid
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {P}pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    {P}d{i} AS (
      SELECT cid, u.d,
             CAST(FLOOR(CAST(SUM(v[u.d]) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS val
      FROM {P}a{i}, LATERAL unnest(generate_series(1, len(v))) AS u(d)
      GROUP BY cid, u.d
    ),
    {P}c{i} AS (SELECT cid, list(val ORDER BY d) AS cv FROM {P}d{i} GROUP BY cid)"""
        )
        prev = f"{P}c{i}"
    dist = _dist_sql("p.v", "c.cv")
    final_assign = f"""
      SELECT vid, v, cid, dist FROM (
        SELECT p.vid, p.v, c.cid, {dist} AS dist,
               ROW_NUMBER() OVER (PARTITION BY p.vid
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {P}pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    """
    return "\n".join(parts), final_assign


def simplified_silhouette(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Per-cluster simplified silhouette (Hruschka et al. 2004 — the
    centroid form sklearn documents as the scalable alternative to
    full pairwise silhouette): for each point, a = distance to its own
    centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b); report each cluster's mean s and size.

    The full-silhouette O(n^2) pairwise matrix is replaced by the k-row
    codebook broadcast: one narrow expression sorts the k (dist, cid)
    structs per point and reads the best and second-best — no explode,
    no shuffle of the point table; the only exchange is the final
    per-cluster aggregate. Distances are sqrt of the exact integer Q20
    squared distances (floats enter only at the last two arithmetic
    steps, identically in the SQL twin).
    """
    pts = emb.select(F.col(id_col).alias("vid"), quantize(vec_col).alias("v"))
    cents = _lloyd(pts, k, iters)
    carr = F.broadcast(
        cents.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
        )
    )
    pair = F.expr(
        "array_sort(transform(cents, c -> "
        f"struct({_dist_str('v', 'c.cv')} AS dist, c.cid AS cid)))"
    )
    scored = pts.crossJoin(carr).select(
        pair[0]["cid"].alias("cid"),
        F.sqrt(pair[0]["dist"].cast("double")).alias("a"),
        F.sqrt(pair[1]["dist"].cast("double")).alias("b"),
    )
    sil = F.when(
        F.greatest("a", "b") > 0.0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(0.0)
    return scored.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.avg(sil), round_to).alias("mean_silhouette"),
    )


def simplified_silhouette_sql(
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`simplified_silhouette`."""
    with_clause, _ = kmeans_assign_ctes(
        k=k, iters=iters, id_col=id_col, vec_col=vec_col, table=table
    )
    dist = _dist_sql("p.v", "c.cv")
    return f"""{with_clause},
    ranked AS (
      SELECT p.vid, c.cid, {dist} AS d,
             ROW_NUMBER() OVER (PARTITION BY p.vid
                                ORDER BY {dist}, c.cid) AS rn
      FROM pts p CROSS JOIN c{iters} c
    ),
    scored AS (
      SELECT vid,
             MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
             sqrt(MAX(CASE WHEN rn = 1 THEN CAST(d AS DOUBLE) END)) AS a,
             sqrt(MAX(CASE WHEN rn = 2 THEN CAST(d AS DOUBLE) END)) AS b
      FROM ranked WHERE rn <= 2 GROUP BY vid
    )
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(AVG(CASE WHEN greatest(a, b) > 0.0
                          THEN (b - a) / greatest(a, b)
                          ELSE 0.0 END), {round_to}) AS mean_silhouette
    FROM scored GROUP BY cid
    """


# ──────────────────────────────────────────────────────────────────────────
# wave 142: cluster validity — Calinski-Harabasz + Davies-Bouldin
# ──────────────────────────────────────────────────────────────────────────


def cluster_validity_indexes(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """The two remaining standard internal cluster-validity indexes
    beside simplified_silhouette:

      * Calinski-Harabasz (variance ratio) ``CH = (SSB/(k-1)) /
        (SSW/(n-k))`` — bigger = tighter/better-separated;
      * Davies-Bouldin (RMS-dispersion variant): ``s_c =
        sqrt(SSW_c/m_c)``, ``DB = mean_c max_{c'≠c} (s_c + s_c') /
        d(μ_c, μ_c')`` — smaller = better. (The RMS dispersion is the
        centroid-moment form; the per-point-mean-distance form would
        need an unordered sqrt sum — this variant keeps every input
        exact.)

    Exactness: Q20 fixed-point squared distances are exact BIGINTs
    (the module invariant), so SSW, SSB, m_c and every pairwise
    centroid distance are exact integers; CH is one double ratio, DB
    folds the <= k per-cluster maxima in sorted order. The global
    centroid uses the same floor(sum/count) convention as the Lloyd
    update.

    Scale shape: one Lloyd training (broadcast assignments), one
    per-cluster aggregate, k-row everything after. Output (one row):
    (n, k_used, ssw, ssb, calinski_harabasz, davies_bouldin).
    """
    pts = emb.select(F.col(id_col).alias("vid"), quantize(vec_col).alias("v"))
    cents = _lloyd(pts, k, iters)
    final = assign_to_centroids(pts, cents)
    per_c = final.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dist").cast("bigint").alias("ssw_c"),
    )
    # global centroid, same floor(sum/count) convention as Lloyd
    gdims = pts.select(F.posexplode("v").alias("d0", "x")).select(
        (F.col("d0") + 1).alias("d"), "x"
    )
    gv = (
        gdims.groupBy("d")
        .agg(
            F.floor(F.sum("x").cast("double") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("val")
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, val))),"
                " s -> s.val)"
            ).alias("gv")
        )
    )
    cj = cents.join(per_c, "cid").crossJoin(F.broadcast(gv))
    contrib = cj.select(
        "cid",
        "m",
        "ssw_c",
        "cv",
        (F.col("m") * F.expr(_dist_str("cv", "gv"))).cast("bigint").alias(
            "ssb_c"
        ),
    ).localCheckpoint(eager=False)
    # pairwise Davies-Bouldin ratios over the k-row table
    a = contrib.select(
        F.col("cid").alias("ca"), F.col("m").alias("ma"),
        F.col("ssw_c").alias("wa"), F.col("cv").alias("cva"),
    )
    b = contrib.select(
        F.col("cid").alias("cb"), F.col("m").alias("mb"),
        F.col("ssw_c").alias("wb"), F.col("cv").alias("cvb"),
    )
    s_a = F.sqrt(F.col("wa").cast("double") / F.col("ma").cast("double"))
    s_b = F.sqrt(F.col("wb").cast("double") / F.col("mb").cast("double"))
    r = (s_a + s_b) / F.sqrt(
        F.expr(_dist_str("cva", "cvb")).cast("double")
    )
    db_per = (
        a.join(b, F.col("ca") != F.col("cb"))
        .select("ca", r.alias("r"))
        .groupBy("ca")
        .agg(F.max("r").alias("rmax"))
    )
    db_row = db_per.agg(
        F.sort_array(F.collect_list(F.struct("ca", "rmax"))).alias("rs")
    ).select(
        (
            F.expr(
                "aggregate(rs, cast(0.0 as double), (acc, x) -> acc + x.rmax)"
            )
            / F.size("rs").cast("double")
        ).alias("db")
    )
    tot = contrib.agg(
        F.sum("m").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.sum("ssw_c").cast("bigint").alias("ssw"),
        F.sum("ssb_c").cast("bigint").alias("ssb"),
    )
    nn = F.col("n").cast("double")
    kk = F.col("k_used").cast("double")
    ch = (F.col("ssb").cast("double") / (kk - 1.0)) / (
        F.col("ssw").cast("double") / (nn - kk)
    )
    return tot.crossJoin(F.broadcast(db_row)).select(
        "n",
        "k_used",
        "ssw",
        "ssb",
        F.round(ch, round_to).alias("calinski_harabasz"),
        F.round("db", round_to).alias("davies_bouldin"),
    )


def cluster_validity_indexes_sql(
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: str = "embeddings",
    round_to: int = 6,
) -> str:
    """DuckDB twin of :func:`cluster_validity_indexes`."""
    with_clause, final_assign = kmeans_assign_ctes(
        k=k, iters=iters, id_col=id_col, vec_col=vec_col, table=table
    )
    dist_cg = _dist_sql("c.cv", "g.gv")
    dist_ab = _dist_sql("a.cv", "b.cv")
    return f"""{with_clause},
    fin AS ({final_assign}),
    per_c AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(dist) AS BIGINT) AS ssw_c
      FROM fin GROUP BY cid
    ),
    cents AS (SELECT cid, cv FROM c{iters}),
    gv AS (
      SELECT list(val ORDER BY d) AS gv FROM (
        SELECT u.d,
               CAST(FLOOR(CAST(SUM(v[u.d]) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS val
        FROM pts, LATERAL unnest(generate_series(1, len(v))) AS u(d)
        GROUP BY u.d
      )
    ),
    contrib AS (
      SELECT c.cid, p.m, p.ssw_c, c.cv,
             CAST(p.m * {dist_cg} AS BIGINT) AS ssb_c
      FROM cents c JOIN per_c p USING (cid) CROSS JOIN gv g
    ),
    db_per AS (
      SELECT a.cid AS ca,
             MAX((sqrt(CAST(a.ssw_c AS DOUBLE) / a.m)
                  + sqrt(CAST(b.ssw_c AS DOUBLE) / b.m))
                 / sqrt(CAST({dist_ab} AS DOUBLE))) AS rmax
      FROM contrib a JOIN contrib b ON b.cid <> a.cid
      GROUP BY a.cid
    ),
    db_row AS (
      SELECT list_reduce(list_prepend(0.0, list(rmax ORDER BY ca)),
                         (x, y) -> x + y) / COUNT(*) AS db
      FROM db_per
    ),
    tot AS (
      SELECT CAST(SUM(m) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k_used,
             CAST(SUM(ssw_c) AS BIGINT) AS ssw,
             CAST(SUM(ssb_c) AS BIGINT) AS ssb
      FROM contrib
    )
    SELECT n, k_used, ssw, ssb,
           ROUND((CAST(ssb AS DOUBLE) / (CAST(k_used AS DOUBLE) - 1.0))
                 / (CAST(ssw AS DOUBLE)
                    / (CAST(n AS DOUBLE) - CAST(k_used AS DOUBLE))),
                 {round_to}) AS calinski_harabasz,
           ROUND(db, {round_to}) AS davies_bouldin
    FROM tot CROSS JOIN db_row
    """
