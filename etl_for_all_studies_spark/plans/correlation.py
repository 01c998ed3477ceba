"""All-pairs per-study Spearman correlation with p-values and BH FDR.

Re-expresses the reference's correlation engine
(``src/etl_for_all_studies/correlation.py:95-162``) as one declarative plan:

  pair self-join (O-24/O-25) → gates (O-33/O-34) → average ranks (O-35) →
  Pearson-on-ranks ``corr()`` (O-36) → normal-approx p (O-37) → NaN-ρ drop
  (O-38) → BH FDR per study (O-40) → p NULL→1.0 at store time (O-39).

``compute_gene_pair_correlations`` classifies each study with one cheap
aggregation and sends it through one of three pair builders, all feeding
the one gates → ρ → p → BH tail (``_correlate``). Results are identical on
every route (tests pin them equal); only the physical plan differs:

* ragged studies (some gene misses some sample) → ``_ragged_pairs``: ranks
  are computed **within each pair's shared sample set** after the
  self-join — bit-faithful to the reference, which intersects per pair
  (``correlation.py:118``). Cost: windows over the pair-expanded table.
* dense studies up to ``_WIDE_GENE_THRESHOLD`` genes → ``_dense_pairs``:
  ranks computed once per (study, gene) **before** the self-join —
  identical results when every gene covers every sample, at a fraction of
  the cost (one window over the long table; the join's equi-keys (study,
  sample) drive a sort-merge join and the aggregation is map-side partial).
* wider dense studies → ``_block_pairs``: the same pre-ranked pairs,
  enumerated in gene blocks so one (study, sample) key's quadratic fan-out
  spreads over B(B+1)/2 reducers.

The join is equi on (study_key, gsm_accession) with ``gene_a < gene_b`` —
Catalyst plans the equi part as the join key and the inequality as a
post-join filter; AQE handles skewed studies.
"""
from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import (
    average_rank,
    benjamini_hochberg,
    benjamini_hochberg_scalable,
    spearman_p_value_expr,
    spearman_p_value_t_expr,
)

MIN_SAMPLES_FOR_CORRELATION = 2  # reference correlation.py:65

# Dense studies wider than this take the block route. Measured dense/block
# crossover (SCALE.md round-8 envelope series: dense wins at 1k genes, block
# wins from 2k up, both regimes) — 1024 is the last power-of-two width where
# the dense plan's single-reducer-per-sample fan-out (~0.5M pairs) still
# beats block's B+1× input replication.
_WIDE_GENE_THRESHOLD = 1024

# Block sizing: keep each block pair's output near (_GENES_PER_BLOCK)² ≈ 4M
# rows per (sample, block-pair) task. Measured round-8 envelope sweep
# (SCALE.md): at 20k genes B=10 (2k genes/block) was the sweet spot; smaller
# blocks buy nothing locally and pay B+1× input replication, larger blocks
# push per-task output toward the single-reducer pathology the block route
# exists to remove.
_GENES_PER_BLOCK = 2000


def _utc_now_iso() -> str:
    return dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")


def _split_dense_studies(
    e: DataFrame,
) -> tuple[list[int], list[int], list[int], dict[int, int]]:
    """Classify studies as dense (every gene covers every sample exactly
    once), WIDE dense (dense with ``n_genes > _WIDE_GENE_THRESHOLD`` — the
    beyond-envelope shape that needs block pair enumeration), or ragged.
    Also returns the per-study gene counts the classification aggregation
    already paid for, so the router can size the block count from the
    widest study instead of a guess.

    A study is dense iff (a) no (gene, sample) cell repeats and (b) the
    distinct cells fill the full gene × sample grid. Two-phase screen so the
    router's fixed cost stays small (it is pure latency on every call):

    1. ONE aggregation computes (total, n_genes, n_samples). If
       ``total != n_genes · n_samples`` the study cannot be dense — this
       rejects ragged matrices (the common case at warehouse scale) without
       ever paying a distinct over (gene, sample) pairs. The screen's Expand
       is over two single columns, not a two-column struct.
    2. Only screen-passing candidates get the exact no-duplicate-cells
       verification: a distinct count over (gene, sample), filtered to just
       those studies. A truly dense study pays it (and then saves far more
       on the pre-ranked plan); a duplicated-cell impostor is demoted to
       ragged, so routing can never change results.
    """
    per_study = e.groupBy("study_key").agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("gene_key").alias("n_genes"),
        F.count_distinct("gsm_accession").alias("n_samples"),
    )
    rows = per_study.withColumn(
        "candidate", F.col("total") == F.col("n_genes") * F.col("n_samples")
    ).collect()
    candidates = [r["study_key"] for r in rows if r["candidate"]]
    expected = {r["study_key"]: r["total"] for r in rows}

    dense: list[int] = []
    if candidates:
        cells = (
            e.where(F.col("study_key").isin(candidates))
            .select("study_key", "gene_key", "gsm_accession")
            .distinct()
            .groupBy("study_key")
            .agg(F.count(F.lit(1)).alias("cells"))
            .collect()
        )
        dense = [r["study_key"] for r in cells if r["cells"] == expected[r["study_key"]]]
    genes = {r["study_key"]: r["n_genes"] for r in rows}
    wide = [k for k in dense if genes[k] > _WIDE_GENE_THRESHOLD]
    dense = [k for k in dense if k not in set(wide)]
    ragged = [r["study_key"] for r in rows if r["study_key"] not in set(dense) | set(wide)]
    return dense, wide, ragged, genes


def _derive_n_blocks(max_genes: int) -> int:
    """Blocks for the widest routed study: ceil(width / 2k), min 2 (one
    block would make the block plan a strictly worse dense plan)."""
    return max(2, -(-max_genes // _GENES_PER_BLOCK))


def _ranked(e: DataFrame) -> DataFrame:
    """Average rank once per (study, gene) — valid on dense studies only."""
    return e.withColumn(
        "rank", average_rank(["study_key", "gene_key"], "expression_value")
    )


def _self_join(e: DataFrame) -> DataFrame:
    """Pairs of genes sharing a (study, sample), ``gene_a < gene_b``, with
    each side's value (``va``/``vb``) and, on a pre-ranked input, each
    side's rank (``ra``/``rb``)."""
    a = e.alias("a")
    b = e.alias("b")
    sides = [
        F.col("a.expression_value").alias("va"),
        F.col("b.expression_value").alias("vb"),
    ]
    if "rank" in e.columns:
        sides += [F.col("a.rank").alias("ra"), F.col("b.rank").alias("rb")]
    return a.join(
        b,
        on=[
            F.col("a.study_key") == F.col("b.study_key"),
            F.col("a.gsm_accession") == F.col("b.gsm_accession"),
            F.col("a.gene_key") < F.col("b.gene_key"),
        ],
    ).select(
        F.col("a.study_key").alias("study_key"),
        F.col("a.gene_key").alias("gene_a_key"),
        F.col("b.gene_key").alias("gene_b_key"),
        *sides,
    )


def _ragged_pairs(e: DataFrame) -> DataFrame:
    """Ragged route: ranks within the pair's shared sample set — exact
    reference semantics for ragged matrices (correlation.py:118 intersects
    first)."""
    pair_cols = ["study_key", "gene_a_key", "gene_b_key"]
    return (
        _self_join(e)
        .withColumn("ra", average_rank(pair_cols, "va"))
        .withColumn("rb", average_rank(pair_cols, "vb"))
    )


def _dense_pairs(e: DataFrame) -> DataFrame:
    """Dense route: pre-ranked self-join."""
    return _self_join(_ranked(e))


def _block_pairs(e: DataFrame, n_blocks: int) -> DataFrame:
    """Wide dense route: bucketed pair enumeration over the pre-ranked long
    table. The plain dense join keys the shuffle on (study, sample), so ONE
    task must emit all n_genes²/2 pairs for its sample — at 20k genes that
    is 2·10⁸ rows from a single task, an unsplittable hot key (AQE splits
    skewed *partitions*, not single keys). Here every unordered gene pair
    {g₁, g₂} with blocks p ≤ q is produced by exactly one block pair (p, q):

    * as the LEFT side, a row with block g is replicated to block pairs
      (g, g), (g, g+1), …, (g, B−1) — a per-row ``sequence`` explode;
    * as the RIGHT side, to (0, g), …, (g, g).

    The join is then a pure equi-join on (study, sample, block_a, block_b) —
    the block columns join the shuffle key, so each task emits at most
    (n_genes/B)² pairs, at the cost of replicating each input row B+1 times
    (the classic triangle-enumeration tradeoff). Off-diagonal block pairs
    contain each unordered pair once with arbitrary side order (blocks
    differ ⇒ genes differ), so the output is canonicalized with
    least/greatest + a conditional swap of the value/rank columns; diagonal
    pairs keep the usual ``gene_a < gene_b`` predicate. Block id is
    ``pmod(hash(gene_key), B)`` — hash, not range, so dense and sparse
    gene-key spaces both balance.
    """
    e = _ranked(e)
    blk = F.pmod(F.hash(F.col("gene_key")), F.lit(n_blocks)).alias("blk")
    base = e.select("*", blk)
    left = base.select(
        "*",
        F.explode(
            F.sequence(F.col("blk"), F.lit(n_blocks - 1))
        ).alias("blk_b"),
    ).withColumnRenamed("blk", "blk_a")
    right = base.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a"),
    ).withColumnRenamed("blk", "blk_b")
    # PIN the join parallelism: AQE's coalescing sizes partitions by shuffle
    # INPUT bytes, but this join amplifies output ~n_genes/B× per input row —
    # on a wide-gene study the tiny replicated input coalesces into one
    # partition and the whole quadratic fan-out lands on a single reducer,
    # recreating exactly the hot-spot the block route exists to remove. An
    # explicit numbered repartition on the join keys is non-coalescible, so
    # the B(B+1)/2 × samples key groups keep their full reducer spread.
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = left.repartition(
        n_part, "study_key", "gsm_accession", "blk_a", "blk_b"
    )
    a = left.alias("a")
    b = right.alias("b")
    joined = a.join(
        b,
        on=[
            F.col("a.study_key") == F.col("b.study_key"),
            F.col("a.gsm_accession") == F.col("b.gsm_accession"),
            F.col("a.blk_a") == F.col("b.blk_a"),
            F.col("a.blk_b") == F.col("b.blk_b"),
        ],
    ).where(
        # diagonal block: classic ordered-pair predicate; off-diagonal: the
        # sides are distinct blocks, every unordered pair appears once
        (F.col("a.blk_a") != F.col("a.blk_b"))
        | (F.col("a.gene_key") < F.col("b.gene_key"))
    )
    swap = F.col("a.gene_key") > F.col("b.gene_key")

    def pick(col: str, flipped: bool) -> F.Column:
        first, second = ("b", "a") if flipped else ("a", "b")
        return F.when(swap, F.col(f"{first}.{col}")).otherwise(F.col(f"{second}.{col}"))

    return joined.select(
        F.col("a.study_key").alias("study_key"),
        F.least(F.col("a.gene_key"), F.col("b.gene_key")).alias("gene_a_key"),
        F.greatest(F.col("a.gene_key"), F.col("b.gene_key")).alias("gene_b_key"),
        pick("expression_value", True).alias("va"),
        pick("expression_value", False).alias("vb"),
        pick("rank", True).alias("ra"),
        pick("rank", False).alias("rb"),
    )


def _correlate(
    paired: DataFrame,
    *,
    bucketed_bh: bool,
    computed_at: str,
    min_samples: int = MIN_SAMPLES_FOR_CORRELATION,
    pvalue_dist: str = "normal",
    scope=None,
) -> DataFrame:
    """The shared tail: (study, gene_a, gene_b, va, vb, ra, rb) pair rows →
    gates → ρ → p → BH q → fact_gene_pair_corr rows.

    ``bucketed_bh`` is set for the block route only: its pair families are
    n_genes²/2 rows, and the classic per-family window would funnel exactly
    the fan-out ``_block_pairs`` spread across reducers back into ONE task.
    The bucketed BH keeps every stage partitioned by (study, p-bucket) with
    bit-identical output (pinned by
    ``test_bh_scalable_matches_classic_and_oracle``). On reference-envelope
    families the window form is cheaper (SCALE.md, "BH follows the route").
    """
    stats = (
        paired.groupBy("study_key", "gene_a_key", "gene_b_key")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            # Pearson-on-ranks assembled from covariance/variance aggregates
            # instead of corr(): ANSI-safe on zero-variance series (corr()
            # raises DIVIDE_BY_ZERO under ANSI; the reference's semantics are
            # "NaN ρ → drop the pair", O-38), numerically identical otherwise.
            F.covar_samp("ra", "rb").alias("cov_ab"),
            F.var_samp("ra").alias("var_a"),
            F.var_samp("rb").alias("var_b"),
        )
        # O-33 min-samples gate + O-34 constant-series gate + O-38 NaN-ρ drop.
        # var(rank) > 0 ⇔ ≥2 distinct values — the reference's
        # len(set(values)) < 2 gate without a count_distinct (which would
        # force an Expand tripling the aggregation input).
        .where(
            (F.col("n_samples") >= min_samples)
            & (F.col("var_a") > 0)
            & (F.col("var_b") > 0)
        )
        # single sqrt of the variance product (not sd_a*sd_b) keeps perfect
        # monotone pairs at exactly ±1.0; clamp guards residual FP noise
        .withColumn(
            "rho_spearman",
            F.least(
                F.greatest(
                    F.col("cov_ab") / F.sqrt(F.col("var_a") * F.col("var_b")),
                    F.lit(-1.0),
                ),
                F.lit(1.0),
            ),
        )
        .where(F.col("rho_spearman").isNotNull() & ~F.isnan("rho_spearman"))
        .drop("cov_ab", "var_a", "var_b")
        .withColumn(
            "p_value",
            spearman_p_value_expr(F.col("rho_spearman"), F.col("n_samples"))
            if pvalue_dist == "normal"
            else spearman_p_value_t_expr(F.col("rho_spearman"), F.col("n_samples")),
        )
        # normalize any NaN to NULL so BH's valid-p accounting is uniform
        .withColumn(
            "p_value",
            F.when(F.isnan("p_value"), F.lit(None).cast("double")).otherwise(
                F.col("p_value")
            ),
        )
    )

    if bucketed_bh:
        with_q = benjamini_hochberg_scalable(
            stats, p_col="p_value", q_col="q_value", family_cols=["study_key"],
            scope=scope,
        )
    else:
        with_q = benjamini_hochberg(
            stats, p_col="p_value", q_col="q_value", family_cols=["study_key"]
        )

    return with_q.select(
        "gene_a_key",
        "gene_b_key",
        F.lit(None).cast("long").alias("illness_key"),  # always NULL, correlation.py:153
        F.col("rho_spearman"),
        F.coalesce(F.col("p_value"), F.lit(1.0)).alias("p_value"),  # O-39
        F.col("q_value"),
        F.col("n_samples").cast("int").alias("n_samples"),
        F.lit(computed_at).alias("computed_at"),
        "study_key",
    )


def compute_gene_pair_correlations(
    expression: DataFrame,
    *,
    min_samples: int = MIN_SAMPLES_FOR_CORRELATION,
    computed_at: str | None = None,
    pvalue_dist: str = "normal",
    scope=None,
) -> DataFrame:
    """Long-form expression → fact_gene_pair_corr rows.

    ``expression`` needs columns (study_key, gene_key, gsm_accession,
    expression_value); output matches ``schemas.FACT_GENE_PAIR_CORR``.

    Each study is classified (``_split_dense_studies``) and routed: dense
    studies through the pre-ranked plan, WIDE dense studies
    (``n_genes > _WIDE_GENE_THRESHOLD``) through the block-bucketed plan
    with B derived from the widest of them (``_derive_n_blocks``), and
    ragged ones through the per-pair plan — identical results every way,
    since the physical plans only diverge on ragged matrices.

    ``pvalue_dist`` pins the SURVEY §7.4.2 fork: ``"normal"`` (default) is
    the reference's no-SciPy fallback — a closed-form JVM-side expression;
    ``"t"`` is SciPy's primary Student-t semantics — ALSO a pure JVM
    expression (incomplete-beta continued fraction as a ``sequence`` fold,
    ``functions/stats.py::spearman_p_value_t_expr``; < 1e-12 vs SciPy), so
    neither p-value path has Python in the row path. ``scope`` (a
    ``caching.CacheScope``) releases the block route's BH barrier.
    """
    ts = computed_at or _utc_now_iso()
    e = expression.select("study_key", "gene_key", "gsm_accession", "expression_value")

    def only(keys: list[int]) -> DataFrame:
        return e.where(F.col("study_key").isin(keys))

    dense_keys, wide_keys, ragged_keys, genes = _split_dense_studies(e)
    routes: list[tuple[DataFrame, bool]] = []  # (pair rows, bucketed BH)
    if dense_keys:
        routes.append((_dense_pairs(only(dense_keys)), False))
    if wide_keys:
        n_blocks = _derive_n_blocks(max(genes[k] for k in wide_keys))
        routes.append((_block_pairs(only(wide_keys), n_blocks), True))
    if ragged_keys or not routes:
        routes.append((_ragged_pairs(only(ragged_keys)), False))
    return functools.reduce(
        DataFrame.unionByName,
        [
            _correlate(
                paired, bucketed_bh=bucketed, computed_at=ts,
                min_samples=min_samples, pvalue_dist=pvalue_dist, scope=scope,
            )
            for paired, bucketed in routes
        ],
    )


__all__ = ["MIN_SAMPLES_FOR_CORRELATION", "compute_gene_pair_correlations"]
