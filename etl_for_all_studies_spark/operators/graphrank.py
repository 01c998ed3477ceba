"""Weighted PageRank over an edge list — the second iterative-graph member
of the engine (connected components in ``dedup_graph.py`` is the first).

Rank flows along weighted directed edges with damping ``d``:

    rank'(v) = (1 - d)/N + d · Σ_{(u,v) ∈ E} rank(u) · w(u,v) / out_w(u)

Spark-first shape — each iteration is pure DataFrame algebra:

* ``out_w``: one map-side-combined aggregation per source (computed once,
  persisted via the caller's ``CacheScope``);
* contributions: edges ⋈ current ranks (shuffle keyed by src), summed per
  destination (shuffle keyed by dst) — two bounded shuffles per iteration,
  both on graph keys, never node×node;
* nodes without in-edges keep the teleport term via a left join from the
  node set (no rank row is ever lost);
* dangling nodes (no out-edges) leak their rank mass — the simplified
  PageRank variant; total mass is not conserved but ordering is standard.
  Document-ranking use cases here care about relative order only.

Cross-engine determinism: per-destination contribution sums are
floating-point and their order differs between engines, so each iteration's
ranks are snapped to a 1e-6 grid with the suite's biased-floor rounding
(``floor(x·10⁶ + 0.5001)/10⁶`` — the 1e-4 bias swallows sub-1e-9 summation
noise at the rounding threshold). Same discipline as ``kmeans_fit``'s
centroid quantization; the DuckDB oracle unrolls the identical iterations.

Lineage: iterations chain linearly (each round references the previous
exactly once), so five rounds evaluate in one pass; for deep runs pass
``checkpoint_every`` to truncate lineage like ``connected_components``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import CacheScope, persist
from ..functions.stats import round6


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 5,
    checkpoint_every: int = 0,
    scope: CacheScope | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped iterations from a uniform start.

    ``weight_col=None`` treats every edge as weight 1. Parallel edges are
    legal (their weights add). Ranks are 1e-6-grid quantized each iteration
    (see module docstring).
    """
    # the edge list is the root of THREE derivations (node set, out-weights,
    # normalized shares) and often arrives with an expensive lineage (e.g.
    # the co-visitation pair join) — persist it once so nodes/out_w/ew share
    # a single materialization instead of re-running the upstream DAG
    e = persist(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            (F.col(weight_col) if weight_col else F.lit(1.0)).cast("double").alias("w"),
        ),
        scope,
    )
    nodes = persist(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        scope,
    )
    n = nodes.count()  # bounded driver scalar (one long), like kmeans' k
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = persist(
        e.join(out_w, "src").select("src", "dst", (F.col("w") / F.col("out_w")).alias("share")),
        scope,
    )

    ranks = nodes.select("node", round6(F.lit(1.0 / n)).alias("rank"))
    teleport = (1.0 - damping) / n
    for i in range(n_iter):
        contribs = (
            ew.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("in_mass"))
        )
        ranks = nodes.join(
            contribs.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            round6(
                F.lit(teleport)
                + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # stats-resetting barrier: plain localCheckpoint compounds size
            # estimates across rounds (dedup_graph.fresh_stats_checkpoint)
            from .dedup_graph import fresh_stats_checkpoint

            ranks = fresh_stats_checkpoint(ranks)
    return ranks


__all__ = ["pagerank"]
