"""Similarity search over embedding columns (``array<float>``).

Beyond-reference capability (BASELINE.json north star):

* **brute-force cosine top-k** — the correctness baseline: query×corpus join
  with a JVM-side dot product (``aggregate``/``zip_with``), windowed top-k.
  Right answer, O(Q·N) — fine for small Q, and the oracle for the ANN path.
* **IVF (inverted-file) ANN** — the scale path: pick C centroids, assign
  every vector to its nearest centroid (narrow per-row computation against a
  broadcast centroid list), then search only the query's probe cells. The
  candidate join is an equi-join on ``cell``, so the shuffle is keyed by
  cell — never all-pairs. Recall is tunable via ``n_probes``.
* **IVF near-duplicates** — semantic dedup at scale: both sides multi-probe
  into cells, candidate pairs come from an equi-join on ``cell`` (bounded by
  Σ|cell|², never n²), then cosine-verified — the same candidates→verify
  shape as ``minhash_dedup``. The brute-force form is kept as the oracle.

Cost model: cosine is evaluated per *pair*, so all pair-scoring paths
pre-normalize each vector **once per row** (`unit vectors`) and score pairs
with a single dot product — 1/3 the per-pair higher-order-function work of
dot/(|a|·|b|). The unit-vector tables are persisted before any pair fan-out:
HOF expressions get no common-subexpression elimination, so without the
barrier Catalyst re-inlines the normalization into every pair row.

All pure DataFrame ops; no Python in the row path.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import CacheScope, persist
from ..functions.stats import round6
from ..partitioning import compute_spread
from .dedup_graph import fresh_stats_checkpoint


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over two array columns (float64 accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def unit_vectors(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_alias: str = "vid",
    vec_alias: str = "uv",
) -> DataFrame:
    """(id, unit-normalized float64 vector). Zero vectors normalize to NULL
    elements (``nullif`` guard) so downstream cosines are NULL, never ∞/ANSI
    errors. The norm is materialized as a column *before* the per-element
    divide — inlining it into the ``transform`` lambda would re-evaluate the
    O(dim) norm aggregate once per element (HOFs get no CSE)."""
    return (
        # spread before the O(dim)/row norm+divide: a single-split embedding
        # scan would serialize the normalization pass onto one task
        # (partitioning.py; guarded no-op on wide scans)
        compute_spread(
            df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias("__v"))
        )
        .withColumn("__nrm", F.nullif(norm(F.col("__v")), F.lit(0.0)))
        .select(
            id_alias,
            F.transform(
                F.col("__v"), lambda x: x.cast("double") / F.col("__nrm")
            ).alias(vec_alias),
        )
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, cos_sim, rank).

    Self-matches are excluded; ties break deterministically on neighbor id.
    """
    q = persist(
        unit_vectors(
            queries, id_col=id_col, vec_col=vec_col, id_alias="query_id", vec_alias="qv"
        ),
        scope,
    )
    c = persist(
        unit_vectors(
            corpus, id_col=id_col, vec_col=vec_col, id_alias="neighbor_id", vec_alias="cv"
        ),
        scope,
    )
    scored = (
        _spread(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin a (small, usually cached single-block) side across the
    session's task slots before a pair fan-out. A filtered scan of a small
    parquet table arrives as ONE partition, so a crossJoin/nested-loop join
    streaming it scores every pair in a single task — correct, but serial.
    One cheap shuffle of the *pre-fan-out* rows buys full-core pair scoring;
    at cluster scale the same spread distributes pair work across executors
    instead of leaving it on the partition that happened to hold the data.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _assign_cells_from_units(
    units: DataFrame, ucent: DataFrame, *, n_probes: int
) -> DataFrame:
    """Cell assignment over pre-normalized vectors: ``units`` (vid, uv) ×
    broadcast ``ucent`` (cell, ucv) → (vid, cell, probe_rank ≤ n_probes)."""
    scored = units.join(F.broadcast(ucent)).select(
        "vid", "cell", dot(F.col("uv"), F.col("ucv")).alias("sim")
    )
    w = Window.partitionBy("vid").orderBy(F.col("sim").desc(), F.col("cell").asc())
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= n_probes)
        .select("vid", "cell", "probe_rank")
    )


def _unit_centroids(centroids: DataFrame, vec_col: str) -> DataFrame:
    return unit_vectors(
        centroids, id_col="cell", vec_col=vec_col, id_alias="cell", vec_alias="ucv"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    k: int = 3,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scope: CacheScope | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest cell; each query
    scans only its ``n_probes`` nearest cells. Returns
    (query_id, neighbor_id, cos_sim, rank)."""
    ucent = _unit_centroids(centroids, vec_col)
    uc = persist(unit_vectors(corpus, id_col=id_col, vec_col=vec_col), scope)
    uq = persist(unit_vectors(queries, id_col=id_col, vec_col=vec_col), scope)
    corpus_cells = _assign_cells_from_units(uc, ucent, n_probes=1).select(
        F.col("vid").alias("neighbor_id"), "cell"
    )
    query_cells = _assign_cells_from_units(uq, ucent, n_probes=n_probes).select(
        F.col("vid").alias("query_id"), "cell"
    )
    q = uq.select(F.col("vid").alias("query_id"), F.col("uv").alias("qv"))
    c = uc.select(F.col("vid").alias("neighbor_id"), F.col("uv").alias("cv"))
    candidates = (
        query_cells.join(corpus_cells, on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        candidates.join(q, on="query_id")
        .join(c, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_duplicates(
    vectors: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — **brute-force form**,
    O(n²): the correctness oracle for bounded inputs. The scale path is
    :func:`embedding_near_duplicates_ivf` (cell-bucketed candidates)."""
    u = persist(unit_vectors(vectors, id_col=id_col, vec_col=vec_col), scope)
    a = _spread(u.select(F.col("vid").alias("doc_a"), F.col("uv").alias("va")))
    b = u.select(F.col("vid").alias("doc_b"), F.col("uv").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dot(F.col("va"), F.col("vb")).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_candidates(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scope: CacheScope | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(candidates, unit_vectors) for IVF-bucketed near-dup: every vector is
    multi-probed into its ``n_probes`` nearest cells, candidate pairs are an
    equi-join on ``cell`` — a pair is considered iff the two probe-cell sets
    intersect, so work is Σ|cell|² over cells, never n². Exposed separately
    so callers (and tests) can measure candidate volume vs n²."""
    ucent = _unit_centroids(centroids, vec_col)
    u = persist(unit_vectors(vectors, id_col=id_col, vec_col=vec_col), scope)
    cells = _assign_cells_from_units(u, ucent, n_probes=n_probes)
    a = cells.select(F.col("vid").alias("doc_a"), "cell")
    b = cells.select(F.col("vid").alias("doc_b"), "cell")
    candidates = (
        a.join(b, on="cell")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return candidates, u


def embedding_near_duplicates_ivf(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float = 0.95,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Semantic near-dup at scale: IVF-cell candidates → cosine verify —
    the embedding analog of ``minhash_dedup``'s candidates→verify shape
    (``operators/dedup.py``). Output matches
    :func:`embedding_near_duplicates` wherever the pair's probe cells
    intersect; recall is tuned by ``n_probes`` and centroid spread (a pair of
    true near-dups has near-identical vectors, so both probe the same nearest
    cells — multi-probing both sides covers centroid-boundary pairs)."""
    candidates, u = embedding_near_dup_candidates(
        vectors, centroids, n_probes=n_probes, id_col=id_col, vec_col=vec_col, scope=scope
    )
    va = u.select(F.col("vid").alias("doc_a"), F.col("uv").alias("va"))
    vb = u.select(F.col("vid").alias("doc_b"), F.col("uv").alias("vb"))
    return (
        candidates.join(va, on="doc_a")
        .join(vb, on="doc_b")
        .select("doc_a", "doc_b", dot(F.col("va"), F.col("vb")).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_near_duplicates_ivf_incremental(
    new_vectors: DataFrame,
    seen_vectors: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float = 0.95,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs touching a NEW batch only: (new×seen) ∪ (new×new) —
    ``seen×seen`` is never recomputed. The embedding twin of
    ``dedup.incremental_minhash_dedup`` and the per-crawl-batch shape for
    semantic dedup at 100 TB: existing keepers are fixed, so only pairs
    involving new vectors can change the kept set, and the seen side's cell
    assignments are precomputed/stored in production (recomputed here from
    the same frozen centroids — bit-identical either way).

    Candidate cost: cell equi-joins proportional to the NEW batch's cell
    collisions — new×seen is Σ_cell |new_cell|·|seen_cell| and new×new is
    Σ_cell |new_cell|², both independent of |seen|². Verification is one
    dot product per candidate over the persisted unit vectors.

    Vector ids must be disjoint across the two inputs (warehouse contract).
    Output: (doc_a, doc_b, vs_seen, cos_sim) with doc_a < doc_b; ``vs_seen``
    = 1 iff one side is a seen vector.
    """
    ucent = _unit_centroids(centroids, vec_col)
    un = persist(unit_vectors(new_vectors, id_col=id_col, vec_col=vec_col), scope)
    us = persist(unit_vectors(seen_vectors, id_col=id_col, vec_col=vec_col), scope)
    cn = _assign_cells_from_units(un, ucent, n_probes=n_probes)
    cs = _assign_cells_from_units(us, ucent, n_probes=n_probes)

    na = cn.select(F.col("vid").alias("id_n"), "cell")
    sa = cs.select(F.col("vid").alias("id_s"), "cell")
    new_seen = (
        na.join(sa, on="cell")
        .select(
            F.least("id_n", "id_s").alias("doc_a"),
            F.greatest("id_n", "id_s").alias("doc_b"),
            F.lit(1).alias("vs_seen"),
        )
    )
    nb = cn.select(F.col("vid").alias("id_b"), "cell")
    new_new = (
        na.join(nb, on="cell")
        .where(F.col("id_n") < F.col("id_b"))
        .select(
            F.col("id_n").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.lit(0).alias("vs_seen"),
        )
    )
    candidates = new_seen.unionByName(new_new).dropDuplicates(["doc_a", "doc_b"])

    alls = un.unionByName(us)
    va = alls.select(F.col("vid").alias("doc_a"), F.col("uv").alias("va"))
    vb = alls.select(F.col("vid").alias("doc_b"), F.col("uv").alias("vb"))
    return (
        candidates.join(va, on="doc_a")
        .join(vb, on="doc_b")
        .select(
            "doc_a", "doc_b", "vs_seen",
            dot(F.col("va"), F.col("vb")).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² — sequential left-to-right fold, same evaluation order as
    the oracle's ``list_reduce``, so distances from identical inputs are
    bitwise identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_predict(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2; ties → lowest cell id):
    (vec_id, cell, sq_dist). Centroids are broadcast — a narrow per-row
    computation, no shuffle beyond the argmin window keyed by vector id."""
    vecs = vectors.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    scored = vecs.join(F.broadcast(centroids)).select(
        "vid", "cell", _sq_dist(F.col("v"), F.col("c")).alias("sq_dist")
    )
    w = Window.partitionBy("vid").orderBy(F.col("sq_dist").asc(), F.col("cell").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("vid").alias(id_col), "cell", "sq_dist")
    )


def kmeans_fit(
    vectors: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, pure DataFrame ops —
    semantic corpus clustering (topic buckets for mixing/curation; centroid
    tables feed the IVF operators). Returns (cell, c:array<double>).

    Deterministic by construction, so the run is reproducible AND an
    unrolled-CTE DuckDB oracle can replay it exactly:

    * init = the ``k`` lowest-id vectors (their ids name the cells);
    * assignment = argmin squared-L2, ties → lowest cell — the fold order of
      the distance sum matches ``list_reduce`` (see :func:`_sq_dist`);
    * update = element-wise mean **quantized to a 1e-6 grid** — AVG over a
      shuffled partitioning is not order-stable at the 1e-15 level, and an
      unquantized centroid would let that noise flip argmin near-ties; the
      grid absorbs it (quantizing centroids is standard practice — PQ/IVF
      codebooks are far coarser);
    * empty cells keep their previous centroid.

    Scale shape per iteration: broadcast-join argmin (narrow) + one
    ``posexplode`` aggregation shuffling n·dim (cell, pos, val) rows with
    map-side partial AVG; the centroid table (k·dim) is checkpointed per
    round so the loop never nests plans. Iterations are O(n·dim) with no
    pairwise blowup — the same per-round cost profile as
    ``connected_components``' label loop.
    """
    vecs = (
        vectors.select(
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .persist()
    )
    cent = (
        vecs.orderBy("vid")
        .limit(k)
        .select(F.col("vid").alias("cell"), F.col("v").alias("c"))
        .localCheckpoint()
    )
    for _ in range(n_iter):
        asg = kmeans_predict(
            vecs, cent, id_col="vid", vec_col="v"
        ).select(F.col("vid"), "cell")
        means = (
            asg.join(vecs, "vid")
            .select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(round6(F.avg("val")).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("c_new"))
        )
        # stats-resetting barrier: plain localCheckpoint compounds size
        # estimates across rounds (dedup_graph.fresh_stats_checkpoint);
        # kmeans_predict pins the centroid join with an explicit
        # broadcast() hint, so the reset costs no join strategy
        cent = fresh_stats_checkpoint(
            cent.join(means, "cell", "left").select(
                "cell", F.coalesce("c_new", "c").alias("c")
            )
        )
    vecs.unpersist()
    return cent


__all__ = [
    "brute_force_topk",
    "dot",
    "embedding_near_dup_candidates",
    "embedding_near_duplicates",
    "embedding_near_duplicates_ivf",
    "embedding_near_duplicates_ivf_incremental",
    "ivf_topk",
    "kmeans_fit",
    "kmeans_predict",
    "norm",
    "unit_vectors",
]
