"""Connected components over near-duplicate pair graphs (dedup clustering).

Beyond-reference capability: pairwise near-dup detectors (MinHash/SimHash/
embedding — ``operators/dedup.py``, ``operators/similarity.py``) emit *edges*;
curation needs *clusters* — one canonical keeper per group of transitively
connected duplicates (A≈B, B≈C ⇒ {A,B,C} is one cluster even if A≉C). That
transitive closure is a connected-components computation on a graph that, at
100 TB, does not fit on any driver.

Spark-native formulation: iterative min-label propagation with pointer
jumping, all as DataFrame joins/aggregations —

* each node starts labeled with itself;
* **neighbor-min step**: every node takes ``min(own label, neighbor labels)``
  (an equi-join of edges with labels + ``groupBy(node).min``, map-side
  partial aggregation);
* **pointer-jump step**: ``label := label(label)`` (labels self-join) — the
  path-halving trick from Stergiou et al. / the MapReduce CC literature
  (hash-to-min family), cutting convergence from O(diameter) to
  ~O(log diameter) rounds;
* converge when no label changes (cheap ``limit(1).count()`` existence probe).

Each round ends in ``localCheckpoint`` — truncating lineage so the iteration
count doesn't nest query plans (the standard Spark iterative-algorithm
pattern; on a cluster use reliable ``checkpoint`` to survive executor loss).

Small-graph fast path: iterative Spark jobs cost ~seconds of scheduler
latency per round regardless of data size, which swamps small graphs. Below
``local_edge_threshold`` edges (same philosophy as Spark's own
``autoBroadcastJoinThreshold`` — a bounded-size escape hatch, default 2M
edges ≈ 32 MB of longs) the symmetric edge list is collected once and solved
with union-find on the driver, then joined back as a broadcast label map.
The distributed loop remains the scale path and is exercised directly in
tests with ``local_edge_threshold=0``.

Scale notes:
* Edges are shuffled on node id each round — linear in |E|, never all-pairs.
  Exact-duplicate groups should enter as **star edges** (member→keeper, see
  ``exact_dup_star_edges``) rather than cliques, keeping |E| linear in group
  size.
* Skewed super-nodes (one doc near-dup to millions) make the neighbor-min
  groupBy skew; ``functions/skew.py`` salting applies (min is associative).
* Driver involvement is one scalar existence check per round — no label data
  ever collects to the driver.
"""
from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import CacheScope, persist

logger = logging.getLogger(__name__)


def fresh_stats_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` with the origin statistics DROPPED — the safe
    per-round barrier for iterative DataFrame loops.

    Since SPARK-39748, ``Dataset.localCheckpoint`` attaches the origin
    plan's statistics to the resulting ``LogicalRDD``. Inside an iterative
    loop that is a time bomb: round N's plan joins round N-1's checkpoint
    against itself, size-only estimation MULTIPLIES child ``sizeInBytes``
    (``SizeInBytesOnlyStatsPlanVisitor.default``), and the product is
    propagated into round N's checkpoint — so the estimate's BigInt bit
    length DOUBLES per round (measured: 38 → 6,897 bits in 8 rounds) until
    ``java.math.BigInteger`` itself overflows at ~2³¹ bits and the job dies
    with ``ArithmeticException: BigInteger would overflow supported range``
    (reproduced at round ~22 on a 530k-edge forced-distributed CC run).

    Rebuilding the DataFrame over the already-materialized checkpoint RDD
    via ``internalCreateDataFrame`` gives the leaf fresh default statistics,
    constant across rounds (measured: 63 bits every round). Rows are the
    checkpointed rows — values and schema unchanged. Join-strategy impact:
    none by design — the iterative loops here either pin strategies with
    explicit ``broadcast()`` hints (k-means) or are built around shuffle
    joins (CC, PageRank), and compounded estimates were already far past
    any broadcast threshold from round 2 on.

    If the (package-private) JVM seam ever moves, falls back to the plain
    checkpoint and warns — correctness is unchanged, the overflow hazard
    returns for >20-round loops.
    """
    ckpt = df.localCheckpoint()
    spark = df.sparkSession
    try:
        jdf = ckpt._jdf
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jnew, spark)
    except Exception:  # pragma: no cover - internal JVM API moved
        logger.warning(
            "fresh_stats_checkpoint: internalCreateDataFrame unavailable; "
            "falling back to plain localCheckpoint (size-estimate overflow "
            "possible beyond ~20 iterative rounds)"
        )
        return ckpt


def exact_dup_star_edges(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(u, v) star edges linking each exact duplicate to its group keeper
    (min id per content digest). Linear in group size — never a clique."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    keeper = F.min(id_col).over(w)
    return (
        docs.select(F.col(id_col).alias("u"), keeper.alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _local_union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find: node -> min member of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 50,
    local_edge_threshold: int = 2_000_000,
    scope: CacheScope | None = None,
) -> DataFrame:
    """(node, cluster_id) where ``cluster_id`` is the minimum node id in the
    node's connected component.

    ``nodes`` (optional) adds isolated vertices (they become singleton
    clusters); otherwise the vertex set is the edge endpoints. Raises if the
    propagation hasn't converged after ``max_iter`` rounds. Round count is
    NOT simply log2(diameter): path graphs converge in exactly
    ~log2(L) rounds (measured: L=8192 → 14), but a giant SPARSE component
    stitched from many clusters (e.g. random detector collisions chaining
    a corpus's dup groups) re-propagates every time a smaller label wave
    overtakes a local minimum — a 50k-node giant component needed 27
    rounds (SCALE.md round 8) while its cluster count had stabilized by
    round 11. The default cap of 50 keeps double that measured worst case;
    the per-round existence probe makes extra headroom cost nothing once
    converged.

    Graphs with at most ``local_edge_threshold`` distinct edges are solved
    with driver-side union-find + a broadcast label join (see module
    docstring); pass ``0`` to force the distributed loop.
    """
    e = edges.select(
        F.col(src).cast("long").alias("eu"), F.col(dst).cast("long").alias("ev")
    ).where(F.col("eu").isNotNull() & F.col("ev").isNotNull())
    # materialize the distinct edge list ONCE — it is re-used (counted, then
    # joined every round or collected), and recomputing its lineage (often a
    # full near-dup detection) per use turns O(rounds) into O(rounds ×
    # detector). A *persist* barrier (releasable via ``scope``), not a
    # localCheckpoint: the loop's own per-round checkpoints handle lineage
    # truncation, and checkpoint blocks have no deterministic release API.
    dedup_e = persist(e.distinct(), scope)

    if nodes is not None:
        base = nodes.select(F.col(node_col).cast("long").alias("node")).distinct()
    else:
        base = (
            dedup_e.select(F.col("eu").alias("node"))
            .union(dedup_e.select(F.col("ev").alias("node")))
            .distinct()
        )

    spark = edges.sparkSession
    n_edges = dedup_e.count()

    if n_edges <= local_edge_threshold:
        # Small graph: one collect of the (bounded) edge list, exact
        # union-find on the driver, broadcast the label map back. No
        # iterative jobs at all — the label map is itself bounded by 2×|E|.
        comp = _local_union_find(
            [(r.eu, r.ev) for r in dedup_e.collect()]
        )
        if comp:
            label_df = F.broadcast(
                spark.createDataFrame(
                    list(comp.items()), schema="node long, mapped long"
                )
            )
            out = base.join(label_df, "node", "left").select(
                "node", F.coalesce("mapped", "node").alias("cluster_id")
            )
        else:
            out = base.select("node", F.col("node").alias("cluster_id"))
        return out

    sym = (
        dedup_e.union(dedup_e.select(F.col("ev").alias("eu"), F.col("eu").alias("ev")))
        .distinct()
        .localCheckpoint()
    )

    # Size the per-round label partitioning to the vertex count (~1M labels
    # per partition): the loop runs O(log) rounds of tiny jobs, and paying
    # full shuffle-partition task counts per round is pure scheduler latency
    # at small n while a cluster-scale graph still fans out. Every shuffle
    # input in the loop is an explicit repartition(n_parts, key), so both
    # sides of each join arrive co-partitioned and the planner keeps the
    # count; session conf is never touched. At least 2: a one-partition
    # repartition plans as SinglePartition, which a join re-shuffles at the
    # session's shuffle width.
    n_nodes = base.count()
    n_parts = max(
        2, min(spark.sparkContext.defaultParallelism * 4, 1 + n_nodes // 1_000_000)
    )
    sym_by_ev = sym.repartition(n_parts, "ev")

    # fresh_stats_checkpoint, NOT plain localCheckpoint: each round's
    # estimate would otherwise compound into the next round's leaf and
    # overflow BigInteger around round 22 (see the helper's docstring)
    labels = fresh_stats_checkpoint(
        base.repartition(n_parts, "node").select("node", F.col("node").alias("comp"))
    )
    for round_no in range(1, max_iter + 1):
        # the checkpoint drops partitioning; one exchange re-keys the labels
        # for both of this round's node-keyed joins (reused in the plan)
        by_node = labels.repartition(n_parts, "node")
        nbr_min = (
            sym_by_ev.join(by_node, sym_by_ev.ev == by_node.node)
            .repartition(n_parts, "eu")
            .groupBy(F.col("eu").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = by_node.join(nbr_min, "node", "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        jump_to = stepped.select(
            F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
        )
        by_comp = stepped.repartition(n_parts, "comp")
        # the convergence flag rides inside the round's own checkpoint, so
        # the probe below is a filter over materialized data — no extra
        # join (and no extra codegen shape) per round
        jumped = fresh_stats_checkpoint(
            by_comp.join(jump_to, by_comp.comp == jump_to.jnode, "left").select(
                "node",
                F.coalesce(F.col("jcomp"), F.col("comp")).alias("comp"),
                (F.coalesce(F.col("jcomp"), F.col("comp")) != F.col("old_comp"))
                .alias("moved"),
            )
            .repartition(n_parts, "node")
        )
        changed = jumped.where(F.col("moved")).limit(1).count()
        labels = jumped.select("node", "comp")
        if changed == 0:
            logger.info(
                "connected_components: converged after %d rounds "
                "(%d edges, %d nodes)", round_no, n_edges, n_nodes,
            )
            return labels.select("node", F.col("comp").alias("cluster_id"))
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def dedup_clusters(
    docs: DataFrame,
    pair_edges: DataFrame,
    id_col: str = "doc_id",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Cluster every document (singletons included) by exact-dup star edges ∪
    the supplied near-dup ``pair_edges`` (columns ``doc_a``/``doc_b``).

    Output: (doc_id, cluster_id, cluster_size, is_keeper) — the curation
    contract: keep rows where ``is_keeper = 1``, audit the rest.
    """
    edges = exact_dup_star_edges(docs, id_col=id_col).union(
        pair_edges.select(
            F.col("doc_a").cast("long").alias("u"),
            F.col("doc_b").cast("long").alias("v"),
        )
    )
    comp = connected_components(
        edges, nodes=docs.select(F.col(id_col).alias("node")), scope=scope
    )
    # sizes has one row per cluster — singleton-heavy corpora make that
    # ~|nodes| rows, so no broadcast hint: the shuffle join is the safe plan
    # at scale (and AQE upgrades it to broadcast at runtime whenever the agg
    # comes out small). A window over cluster_id would funnel any
    # mega-cluster through a single partition; the join keeps skew bounded.
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(
            F.col("node").alias(id_col),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).cast("long").alias("is_keeper"),
        )
    )


def select_cluster_keepers(
    clustered: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Policy-based cluster representative: per cluster keep the member with
    the highest ``score_col`` (ties → lowest ``id_col``).

    ``dedup_clusters``' default keeper (min doc id) is arbitrary; curation
    pipelines keep the *best* member — longest, highest quality score,
    freshest crawl. Input is (id, cluster, score) rows (typically
    ``dedup_clusters`` output joined to a quality annotation); output is ONE
    row per cluster: ``(cluster_col, cluster_size, keeper_<id>,
    keeper_score)``.

    Scale notes: a single ``min_by`` aggregation keyed by cluster — map-side
    partial aggregation applies (each partition contributes one candidate
    per cluster), so a mega-cluster never funnels its members through one
    partition the way a ``row_number`` window would. The tie-break rides
    inside the ordering struct ``(-score, id)``: lexicographic struct
    comparison makes one aggregate both maximize the score and break ties
    deterministically toward the smallest id. The *score* must be numeric
    (it is negated for the ordering); the id can be any orderable type —
    numeric or string doc ids both work.
    """
    order = F.struct((-F.col(score_col)).alias("s"), F.col(id_col).alias("tb"))
    return clustered.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min_by(F.col(id_col), order).alias(f"keeper_{id_col}"),
        F.max(F.col(score_col)).alias("keeper_score"),
    )


__all__ = [
    "connected_components",
    "dedup_clusters",
    "exact_dup_star_edges",
    "select_cluster_keepers",
]
