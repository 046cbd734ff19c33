"""Distributed connected components — near-duplicate CLUSTER resolution.

The LSH/SimHash operators (operators/dedup.py) emit candidate PAIRS,
but a corpus dedup needs clusters: near-dup similarity is not
transitive, yet production pipelines (C4, RefinedWeb, Dolma) resolve
the pair graph into connected components and keep one canonical
document per component. This module is that missing middle stage:

    pairs (a_id, b_id)  ->  per-node cluster_id (= min doc_id reachable)

Algorithm: two-phase (the partition-local-then-global shape REPOSE,
ICDE'21, uses for pruning). Each partition first contracts its own
edges to partition-local components in one Arrow pass; iterative
min-label propagation ("hash-min": every node takes the min of its
label and its neighbors' labels until no label changes) then runs only
on the contracted representative graph, falling back to star
contraction when the diameter budget runs out.

Scale notes (the 100 TB story):
  * One round = one shuffle of (node, label) pairs on node id — never
    document bodies; the edge list itself is fixed-width ints.
  * Rounds needed = contracted graph diameter. Near-dup components
    are dense and tiny (LSH buckets make them clique-ish), so diameter
    is typically 2-4. For adversarial long-chain graphs, the
    alternating large-star/small-star contraction of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SoCC'14), converges
    in O(log^2 n) and drops in behind the same interface.
  * Labels only ever decrease, so SUM(label) strictly decreases while
    any node is unconverged — convergence is detected with a single
    scalar aggregate per round instead of a join-and-compare.
  * ``localCheckpoint`` truncates lineage each round; without it the
    plan doubles per iteration and the driver, not the data, becomes
    the bottleneck. Caveat (applies to every localCheckpoint in this
    repo): blocks live on executors only, so truncated lineage cannot
    recompute a block lost to executor failure or dynamic-allocation
    scale-down — the job fails instead. On a cluster running dynamic
    allocation, substitute persist(StorageLevel.DISK_ONLY) (lineage
    retained, recomputable) or reliable checkpoint() to HDFS/S3.

Reference parity: the reference has no graph stage (its dedup story is
row-identity via primary keys, e.g. school_outcomes_etl.py's keyed
loads); this is part of the beyond-parity training-data suite
(SURVEY.md §2 "LLM-data ops").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.io import spill


def symmetrize(edges: DataFrame, src: str = "a_id", dst: str = "b_id") -> DataFrame:
    """Undirected edge list -> both directions, columns (src, dst)."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the MIN node id reachable from it.

    ``nodes`` is the full node universe (one row per ``id_col``) so
    isolated nodes — documents with no near-dup edge, the vast majority
    of a real corpus — come out as singleton clusters without riding
    through any join. Returns (id_col, cluster_id).

    Two-phase local contraction (:func:`_cc_two_phase`): each
    partition's edges are union-found LOCALLY in one Arrow pass (no
    shuffle touches the raw edge list at all — not even the
    symmetrize+distinct the iterative forms pay), then the
    message-passing rounds run only on the CONTRACTED representative
    graph — the boundary components that actually span partitions. On
    a real corpus that graph is orders of magnitude smaller than the
    edge list, and the round count is the contracted (not raw)
    diameter. The contracted rounds use
    :func:`connected_components_hashmin`, falling back to
    :func:`connected_components_star` instead of failing when
    ``max_iter`` rounds are exhausted.
    """
    return _cc_two_phase(edges, nodes, id_col, src, dst, max_iter)


def connected_components_hashmin(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Iterative hash-min core: min-label propagation + path halving,
    O(log diameter) rounds over the whole edge list. Same contract as
    :func:`connected_components`. Raises ``RuntimeError`` if
    ``max_iter`` rounds don't converge: silent partial labels would
    split clusters, which for dedup means silently keeping duplicates.
    """
    sym = symmetrize(edges, src, dst).distinct().localCheckpoint(eager=False)
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).cast("long").alias("lbl")
    ).localCheckpoint(eager=False)

    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(max_iter):
        # (1) hash-min: take the min label over graph neighbors
        nbr = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
        )
        # (2) pointer jump (path halving): lbl <- lbl(lbl). Plain
        # hash-min needs diameter rounds (measured 15 on the sf0.1
        # jaccard>=0.6 graph — near-dup chains are long); composing
        # each round with one shortcut join converges in O(log d).
        jump = stepped.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("jump_lbl")
        )
        labels = (
            stepped.join(jump, "lbl", "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce("jump_lbl", "lbl")
                ).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:  # labels only decrease -> fixed point
            return labels.select(
                F.col("node").alias(id_col), F.col("lbl").alias("cluster_id")
            )
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components_hashmin did not converge in {max_iter} "
        "rounds (graph diameter too large — switch to star-contraction)"
    )


#: Contraction partition sizing: one local-CC task per this many
#: (long, long) edge pairs (64 MB of raw pairs; the numpy working set
#: stays a few hundred MB). Only consulted when the pairs' MEASURED
#: count says the upstream partitioning is needlessly fragmented.
_CC_CONTRACT_PARTITION_EDGES = 4_000_000


def _local_contract(edges: DataFrame) -> DataFrame:
    """Partition-local connected components over a ``(src, dst)`` long
    edge list: one Arrow pass emitting ``(node, rep)`` where ``rep`` is
    the MIN node id of the node's partition-local component.

    The kernel is vectorized min-label propagation with pointer
    jumping over numpy index arrays (no per-edge Python loop): labels
    start as each node's own index into the sorted id array (so the
    min index IS the min id), each sweep takes the neighbor min across
    all edges (one ``np.minimum.reduceat`` over the edge endpoints,
    which are sorted once per partition) and then halves label-pointer
    chains (``lbl = lbl[lbl]``), and the loop stops at the fixed point —
    labels are monotone non-increasing, so it terminates. Memory per
    task is a few int64 arrays twice the size of the partition's edge
    list.

    This is the contraction half of the classic two-phase distributed
    CC: it never shuffles (runs wherever the edges already are), and
    everything downstream sees only the per-partition representative
    mapping — the cross-partition boundary structure.
    """
    import pandas as pd  # noqa: F401 — executor-side import

    def run(batches):
        import numpy as np
        import pandas as pd

        chunks_a, chunks_b = [], []
        for pdf in batches:
            chunks_a.append(pdf["src"].to_numpy(dtype="int64", copy=False))
            chunks_b.append(pdf["dst"].to_numpy(dtype="int64", copy=False))
        n = sum(map(len, chunks_a))
        if not n:
            return
        a = np.concatenate(chunks_a)
        b = np.concatenate(chunks_b)
        # sort the 2n edge endpoints once: each node is one run of the
        # sorted order, and each endpoint knows the node at its other end
        ends = np.concatenate([a, b])
        order = np.argsort(ends)
        srt = ends[order]
        first = np.r_[True, srt[1:] != srt[:-1]]
        starts = np.flatnonzero(first)
        ids = srt[starts]
        pos = np.empty(2 * n, dtype="int64")
        pos[order] = np.cumsum(first) - 1  # endpoint -> index into ids
        nbr = pos[(order + n) % (2 * n)]
        lbl = np.arange(len(ids), dtype="int64")
        while True:
            prev = lbl
            lbl = np.minimum(prev, np.minimum.reduceat(prev[nbr], starts))
            lbl = lbl[lbl]  # pointer jump: halve label chains
            if np.array_equal(lbl, prev):
                break
        yield pd.DataFrame({"node": ids, "rep": ids[lbl]})

    return edges.mapInPandas(run, "node long, rep long")


def _cc_two_phase(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    """Two-phase connected components: partition-local union-find contraction, then min-label rounds on
    the contracted representative graph only, then one composition
    join. Output contract identical to the iterative forms: every node
    labelled with the MIN reachable node id; isolated nodes are
    singletons.

    Scale shape: the raw edge list moves AT MOST once (a round-robin
    co-location shuffle of 16-byte pairs, skipped when its measured
    size already fills its partitions) and is then touched by exactly
    ONE local pass — the iterative forms shuffle it once to symmetrize
    and then join it every round. What shuffles afterwards is the
    (node, rep) mapping (grouped once) and the rep graph — nodes whose
    local components span partitions. The round count becomes the
    CONTRACTED diameter, which for bench-scale inputs (one or few
    co-located partitions) is zero.
    """
    # Materialize the narrow (src, dst) long pairs ONCE (eager
    # checkpoint) and contract over right-sized partitions. Upstream
    # joins fragment a small edge list over many map outputs (observed:
    # 4.4k edges across 64 partitions, leaving the local phase nothing
    # to contract), so when the MEASURED edge count says the pairs
    # occupy more partitions than their bytes warrant, one round-robin
    # shuffle of the 16-byte pairs co-locates them — the single
    # cheapest move the problem admits (guide §8: move the light rows
    # once, then decide locally). The count is a sub-millisecond pass
    # over the checkpointed pairs (Catalyst size ESTIMATES are garbage
    # downstream of joins — measured 1e22 for a 4.4k-row frame — so the
    # decision uses the exact count). At real scale the edge list
    # already fills its partitions and the repartition is a no-op.
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).localCheckpoint(eager=True)
    target = max(1, -(-e.count() // _CC_CONTRACT_PARTITION_EDGES))
    if e.rdd.getNumPartitions() > target:
        e = e.repartition(target)
    # one row per (partition-local) node: its min local rep and the set
    # of reps it was assigned across partitions. Eager checkpoint: the
    # mapping feeds the rep graph, the composition join and (when the
    # rep graph is empty) the final labels — without the cut each
    # branch re-runs the contraction kernel.
    node_min = (
        _local_contract(e)
        .groupBy("node")
        .agg(F.min("rep").alias("mrep"), F.collect_set("rep").alias("rs"))
        .localCheckpoint(eager=True)
    )
    # a node assigned different reps by different partitions bridges
    # those local components: edges (min rep, other rep) contract them;
    # tiny by construction (only boundary-spanning nodes contribute)
    rep_edges = (
        node_min.filter(F.size("rs") > 1)
        .select(F.col("mrep").alias("a"), F.explode("rs").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    if rep_edges.isEmpty():
        lab = node_min.select("node", F.col("mrep").alias("lbl"))
    else:
        # Spill the rep graph to parquet before handing it to the
        # iterative core. Besides cutting the explode lineage out of
        # every round's plan, this matters for robustness: a
        # localCheckpoint of this plan produces a LogicalRDD whose
        # frozen origin constraints break Catalyst's constraint rewrite
        # when the fixed-point loops self-union it (observed
        # "java.util.NoSuchElementException: key not found: v#..L"
        # from PruneFilters under ANY session config) — a clean scan
        # has no such baggage. The rep graph is the cross-partition
        # boundary structure, orders of magnitude smaller than the
        # edge list.
        clean = spill(edges.sparkSession, lambda: rep_edges)
        rep_nodes = (
            clean.select(F.col("a").alias("rep"))
            .unionByName(clean.select(F.col("b").alias("rep")))
            .distinct()
        )
        try:
            rlab = connected_components_hashmin(
                clean, rep_nodes, "rep", "a", "b", max_iter
            )
        except RuntimeError:
            # star's round count is O(log^2 n) regardless of diameter,
            # so the fallback gets its own bound rather than inheriting
            # a deliberately small one
            rlab = connected_components_star(
                clean, rep_nodes, "rep", "a", "b", max_iter=max(max_iter, 50)
            )
        # a node whose min rep never bridges partitions keeps it as-is
        lab = (
            node_min.select("node", "mrep")
            .join(
                rlab.withColumnRenamed("rep", "mrep").withColumnRenamed(
                    "cluster_id", "lbl"
                ),
                "mrep",
                "left",
            )
            .select("node", F.coalesce("lbl", "mrep").alias("lbl"))
        )
    return (
        nodes.select(F.col(id_col))
        .join(lab.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("lbl"), F.col(id_col).cast("long")).alias(
                "cluster_id"
            ),
        )
    )


# --------------------------------------------------------------------------
# Kiveris et al. alternating star contraction (SoCC'14, "Connected
# Components in MapReduce and Beyond", alg. 2-3) — the adversarial-
# diameter core. Public algorithm; re-derived here for DataFrames.
# --------------------------------------------------------------------------


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round. Input: symmetric edge list (u, v), u != v.
    For each node u with neighborhood N(u), m = min(N(u) ∪ {u}); every
    strictly LARGER neighbor v > u is re-pointed at m: emit (v, m).
    Leaves small neighbors untouched, so star centers keep their
    subtrees; provably halves component height every O(1) rounds when
    alternated with small-star."""
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("mn"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """One small-star round. Orient every edge child=max -> parent=min,
    then for each node u let m = min over its SMALLER neighbors ∪ {u}
    and point all of them (and u itself) at m: emit (v, m) ∀ v ∈
    N_small(u) ∪ {u}. Flattens each star's small side."""
    oriented = directed.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    repointed = oriented.join(m, "u").select(
        F.col("v").alias("u"), F.col("mn").alias("v")
    )
    self_edge = m.select("u", F.col("mn").alias("v"))
    return (
        repointed.unionByName(self_edge)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction — O(log^2 n) rounds on ANY graph, independent of
    diameter (Kiveris et al. SoCC'14). Same contract as
    :func:`connected_components`: returns (id_col, cluster_id) with
    cluster_id = min reachable node id, isolated nodes as singletons.

    Scale notes: each round shuffles only fixed-width (node, node)
    pairs — two groupBy-min + join per round, never payloads. The edge
    set only shrinks toward the star forest, so per-round cost decays.
    Convergence = the oriented edge set reaches a fixed point (checked
    exactly with a set-difference count, not a lossy checksum); at the
    fixed point every edge is (member -> component min).
    """
    cur = (
        symmetrize(edges, src, dst)
        .select(F.col("src").cast("long").alias("u"), F.col("dst").cast("long").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for rounds in range(1, max_iter + 1):
        # large-star wants full neighborhoods -> re-symmetrize the
        # directed star edges from the previous round
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        stepped = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        n_cur, n_stepped = cur.count(), stepped.count()
        if n_cur == n_stepped and stepped.exceptAll(cur).count() == 0:
            if stats is not None:
                stats["rounds"] = rounds
            break
        cur = stepped
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds (O(log^2 n) bound exceeded — malformed edge input?)"
        )
    # fixed point: cur holds (member, center) for every non-center
    # member; centers and isolated nodes label themselves
    labels = nodes.select(
        F.col(id_col).cast("long").alias("u")
    ).join(cur, "u", "left")
    return labels.select(
        F.col("u").alias(id_col),
        F.coalesce("v", "u").alias("cluster_id"),
    )


def canonicalize(
    components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Decorate a component labeling with the dedup decision: cluster
    size and ``keep`` (true for the canonical member = the cluster id
    itself, i.e. min-id-wins — the same keep-first rule as
    operators/dedup.dedup_exact)."""
    w = Window.partitionBy("cluster_id")
    return components.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("keep"),
    )


def canonicalize_by(
    components: DataFrame,
    quality: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship with a pluggable policy: instead of min-id-wins
    (:func:`canonicalize`), keep the cluster member with the HIGHEST
    ``quality_col`` (ties -> smallest id) — the "keep the best
    duplicate" rule real corpus dedups want (longest version, highest
    quality score, most recent crawl) once a ranking signal exists.

    ``quality`` is (id_col, quality_col); the join rides the same
    id partitioning the labeling produced, and the survivor pick is a
    rank-limited window over CLUSTER members (WindowGroupLimit — heap
    per cluster, no full sort). Returns one row per cluster:
    (cluster_id, survivor_id, cluster_size, best_quality).

    Members with no quality row are NOT dropped: the join is left-outer
    and the survivor ordering puts null quality last, so they still
    count toward cluster_size and can only win a cluster whose every
    member lacks a score (then min-id breaks the tie).
    """
    scored = components.join(quality, id_col, "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("survivor_id"),
            F.col("cluster_size").cast("long"),
            F.col(quality_col).alias("best_quality"),
        )
    )
