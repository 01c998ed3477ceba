"""All-pairs per-study Spearman correlation with p-values and BH FDR.

Re-expresses the reference's correlation engine
(``src/etl_for_all_studies/correlation.py:95-162``): per-pair ranks over
the shared samples (O-24/O-25/O-35) → gates (O-33/O-34/O-38) → ρ (O-36) →
p (O-37) → BH FDR per study (O-40) → p NULL→1.0 at store time (O-39).

``compute_gene_pair_correlations`` routes each study to one of two pair
builders. Both emit gated ``(study_key, gene_a_key, gene_b_key, n_samples,
rho_spearman)`` rows into the one JVM p → BH → select tail (``_correlate``):

* ``_kernel_pairs`` — every study but the wide dense ones: one grouped
  Arrow kernel per study (``_study_spearman``), ranking each pair within
  its shared samples as the reference does (``correlation.py:118``),
  from one exchange of the cells and no pair-expanded rows;
* ``_block_pairs`` — dense studies wider than ``_WIDE_GENE_THRESHOLD``:
  ranks once per gene, pairs enumerated in gene blocks so one (study,
  sample) key's fan-out spreads over B(B+1)/2 reducers, bucketed BH.

Tests pin both to the retired pair-expanded plan and the DuckDB oracle.
"""
from __future__ import annotations

import datetime as dt
import functools
import math

import numpy as np
import pyarrow as pa
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

# Dense studies wider than this take the block route: the measured
# dense-join/block crossover lies between 1k and 2k genes (SCALE.md, round-8
# envelope series); the kernel/block crossover is not measured yet.
_WIDE_GENE_THRESHOLD = 1024

# Block sizing: ~(2k genes)² ≈ 4M pair rows per (sample, block-pair) task,
# the sweet spot of the round-8 sweep at 20k genes (B=10; SCALE.md).
_GENES_PER_BLOCK = 2000

# The kernel ranks a study in gene blocks whose (partner genes × rows)
# float64 arrays hold about this many elements: 8 MB each at any width.
_KERNEL_BLOCK_ELEMS = 1 << 20


def _utc_now_iso() -> str:
    return dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")


def _split_wide_dense(e: DataFrame) -> tuple[list[int], dict[int, int]]:
    """``(kernel study keys, {wide dense study: n_genes})``. Wide dense
    means more than ``_WIDE_GENE_THRESHOLD`` genes, each covering every
    sample once. ONE aggregation gives (total, n_genes, n_samples) per
    study; only a wide study with ``total == n_genes · n_samples`` pays
    the exact distinct-cells check. The kernel is exact on every shape,
    so routing never changes results."""
    rows = (
        e.groupBy("study_key")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_distinct("gene_key").alias("n_genes"),
            F.count_distinct("gsm_accession").alias("n_samples"),
        )
        .collect()
    )
    candidates = {
        r["study_key"]: r
        for r in rows
        if r["n_genes"] > _WIDE_GENE_THRESHOLD
        and r["total"] == r["n_genes"] * r["n_samples"]
    }
    wide: dict[int, int] = {}
    if candidates:
        cells = (
            e.where(F.col("study_key").isin(list(candidates)))
            .select("study_key", "gene_key", "gsm_accession")
            .distinct()
            .groupBy("study_key")
            .agg(F.count(F.lit(1)).alias("cells"))
            .collect()
        )
        wide = {
            r["study_key"]: candidates[r["study_key"]]["n_genes"]
            for r in cells
            if r["cells"] == candidates[r["study_key"]]["total"]
        }
    return [r["study_key"] for r in rows if r["study_key"] not in wide], wide


def _derive_n_blocks(max_genes: int) -> int:
    """Blocks for the widest routed study: ceil(width / 2k), min 2 (one
    block would make the block plan a strictly worse dense plan)."""
    return max(2, -(-max_genes // _GENES_PER_BLOCK))


def _study_spearman(key, table: pa.Table, min_samples: int) -> pa.Table:
    """``applyInArrow`` body: one study's rows → its gated pair rows.

    Pair (a, b) sees one row per (a-cell, b-cell) sharing a sample, as a
    self-join would: a (gene, sample) cell present k times meets each
    partner cell k times. Average ranks are taken in that multiset, NULL
    first and NaN last as a Spark window orders them; ρ is Pearson on the
    ranks; gates: n ≥ ``min_samples``, both rank variances > 0, ρ not NaN.

    Masked ranks in O(G²·S): with ``C[g, s]`` the cell count of gene g at
    sample s, a's row at sample s weighs ``C[b, s]`` in pair (a, b). Along
    a's rows sorted by value once, one cumulative sum of those weights
    gives every partner's rank: ``below`` (weight before the row's tie
    group) + ``(ties + 1) / 2`` (weight inside it). Ranks are kept centred
    on the pair's mean ``(n + 1) / 2``: half-integers, so every sum below
    is exact in float64 and ρ does not depend on row order. Rows are still
    sorted by (gene_key, gsm_accession) before any sum.
    """
    t = table.sort_by([("gene_key", "ascending"), ("gsm_accession", "ascending")])
    genes, g = np.unique(t["gene_key"].to_numpy(), return_inverse=True)
    s_enc = t["gsm_accession"].combine_chunks().dictionary_encode()
    s = s_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    n_genes, n_samp = len(genes), len(s_enc.dictionary)
    vals = t["expression_value"].combine_chunks()
    null = vals.is_null().to_numpy(zero_copy_only=False)
    v = vals.fill_null(0.0).to_numpy(zero_copy_only=False)

    # value order within each gene: NULL first, ascending, NaN last; the
    # sort is stable, so (gene_key, gsm_accession) order breaks ties
    order = np.lexsort((v, ~null, g))
    gv, sv, vv, nv = g[order], s[order], v[order], null[order]
    tie = (gv[1:] == gv[:-1]) & (nv[1:] == nv[:-1]) & (
        (vv[1:] == vv[:-1]) | (np.isnan(vv[1:]) & np.isnan(vv[:-1]))
    )
    new_tie = np.concatenate(([True], ~tie))
    tie_start = np.flatnonzero(new_tie)
    tie_id = np.cumsum(new_tie) - 1
    tie_lo, tie_hi = tie_start[tie_id], np.append(tie_start[1:], len(gv))[tie_id]
    gene_lo = np.searchsorted(g, np.arange(n_genes + 1))  # same in both orders
    seg_lo = gene_lo[gv]
    # cells are contiguous in (gene_key, gsm_accession) order; ``order``
    # maps each value-ordered row back to it
    cell_new = np.concatenate(([True], (g[1:] != g[:-1]) | (s[1:] != s[:-1])))
    cf = np.bincount(g * n_samp + s, minlength=n_genes * n_samp)
    cf = cf.reshape(n_genes, n_samp).astype(np.float64)
    npairs = cf @ cf.T  # rows each pair sees; exact (integers < 2^53)

    def ranks(blk: range, partners: range) -> tuple[np.ndarray, np.ndarray]:
        """Centred ranks of genes ``blk``'s rows against each partner:
        (Σ w·c² per [partner, gene], Σ c per [partner, gene, sample])."""
        lo, hi = gene_lo[blk.start], gene_lo[blk.stop]
        p = slice(partners.start, partners.stop)
        w = cf[p][:, sv[lo:hi]]
        cum = np.zeros((w.shape[0], hi - lo + 1))
        np.cumsum(w, axis=1, out=cum[:, 1:])
        start = cum[:, tie_lo[lo:hi] - lo]
        below = start - cum[:, seg_lo[lo:hi] - lo]
        ties = cum[:, tie_hi[lo:hi] - lo] - start
        c = (2.0 * below + ties - npairs[p][:, gv[lo:hi]]) / 2.0
        c[w == 0] = 0.0
        ss = np.add.reduceat(w * c * c, gene_lo[blk.start:blk.stop] - lo, axis=1)
        by_cell = np.empty_like(c)
        by_cell[:, order[lo:hi] - lo] = c
        cell_lo = np.flatnonzero(cell_new[lo:hi])
        per_sample = np.zeros((w.shape[0], len(blk) * n_samp))
        cell = (g[lo:hi][cell_lo] - blk.start) * n_samp + s[lo:hi][cell_lo]
        per_sample[:, cell] = np.add.reduceat(by_cell, cell_lo, axis=1)
        return ss, per_sample.reshape(w.shape[0], len(blk), n_samp)

    widest = int(np.diff(gene_lo).max())
    step = max(1, math.isqrt(_KERNEL_BLOCK_ELEMS // max(widest, n_samp)))
    blocks = [range(i, min(i + step, n_genes)) for i in range(0, n_genes, step)]
    out = []
    for i, bi in enumerate(blocks):
        for bj in blocks[i:]:
            ss_i, cs_i = ranks(bi, bj)  # [b, a], [b, a, s]
            ss_j, cs_j = (ss_i, cs_i) if bj is bi else ranks(bj, bi)  # [a, b]
            a, b = np.meshgrid(np.asarray(bi), np.asarray(bj), indexing="ij")
            with np.errstate(invalid="ignore", divide="ignore"):
                rho = np.einsum("bas,abs->ab", cs_i, cs_j) / np.sqrt(ss_i.T * ss_j)
            ok = (a < b) & (npairs[a, b] >= min_samples) & (ss_i.T > 0) & (ss_j > 0)
            ok &= ~np.isnan(rho)
            out.append((a[ok], b[ok], np.clip(rho[ok], -1.0, 1.0)))
    a, b, rho = (np.concatenate(col) for col in zip(*out))
    return pa.table({
        "study_key": np.full(len(a), key[0].as_py(), dtype=np.int64),
        "gene_a_key": genes[a],
        "gene_b_key": genes[b],
        "n_samples": npairs[a, b].astype(np.int64),
        "rho_spearman": rho,
    })


def _kernel_pairs(e: DataFrame, min_samples: int) -> DataFrame:
    """Gated pair rows of every study in ``e``, one kernel call per study.
    Rows with a NULL study, gene or sample key never meet a partner on an
    equi-join, so they are dropped first. The numbered repartition is the
    grouping's exchange; AQE does not coalesce it, so a few small studies
    do not share one task."""
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keys = ["study_key", "gene_key", "gsm_accession"]
    keyed = e.dropna(subset=keys).repartition(n_part, "study_key")

    def kernel(key, table):  # no annotations: applyInArrow infers its API from them
        return _study_spearman(key, table, min_samples)

    return keyed.groupBy("study_key").applyInArrow(
        kernel,
        schema="study_key long, gene_a_key long, gene_b_key long, "
        "n_samples long, rho_spearman double",
    )


def _block_pairs(
    e: DataFrame, n_blocks: int, min_samples: int = MIN_SAMPLES_FOR_CORRELATION
) -> DataFrame:
    """Wide dense route: gated pair rows from a bucketed pair enumeration
    over the pre-ranked long table (ranking once per gene is exact because
    every gene covers every sample once). A (study, sample)-keyed join
    makes ONE task emit all n_genes²/2 pairs of its sample — an
    unsplittable hot key (AQE splits skewed *partitions*, not keys). Here
    each unordered pair with blocks p ≤ q comes from exactly one block pair
    (p, q): a LEFT row of block g is replicated to (g, g), …, (g, B−1), a
    RIGHT row to (0, g), …, (g, g). The equi-join on (study, sample, blk_a,
    blk_b) bounds each task at (n_genes/B)² pairs for B+1× input
    replication. Off-diagonal pairs arrive in arbitrary side order and are
    canonicalized with least/greatest + a conditional rank swap; diagonal
    blocks keep ``gene_a < gene_b``. Block id is ``pmod(hash(gene_key), B)``
    — hash, not range, so dense and sparse gene-key spaces both balance.
    """
    e = e.withColumn(
        "rank", average_rank(["study_key", "gene_key"], "expression_value")
    )
    base = e.select("*", F.pmod(F.hash("gene_key"), F.lit(n_blocks)).alias("blk"))
    left = base.select(
        "*", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("blk_b")
    ).withColumnRenamed("blk", "blk_a")
    right = base.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("blk_a")
    ).withColumnRenamed("blk", "blk_b")
    # PIN the join parallelism: AQE's coalescing sizes partitions by shuffle
    # INPUT bytes, but this join amplifies output ~n_genes/B× per input row —
    # on a wide-gene study the tiny replicated input coalesces into one
    # partition and the whole quadratic fan-out lands on a single reducer,
    # recreating exactly the hot-spot the block route exists to remove. An
    # explicit numbered repartition on the join keys is non-coalescible, so
    # the B(B+1)/2 × samples key groups keep their full reducer spread.
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = left.repartition(n_part, "study_key", "gsm_accession", "blk_a", "blk_b")
    joined = a.alias("a").join(
        right.alias("b"),
        on=[
            F.col("a.study_key") == F.col("b.study_key"),
            F.col("a.gsm_accession") == F.col("b.gsm_accession"),
            F.col("a.blk_a") == F.col("b.blk_a"),
            F.col("a.blk_b") == F.col("b.blk_b"),
        ],
    ).where(
        (F.col("a.blk_a") != F.col("a.blk_b"))
        | (F.col("a.gene_key") < F.col("b.gene_key"))
    )
    swap = F.col("a.gene_key") > F.col("b.gene_key")
    paired = joined.select(
        F.col("a.study_key").alias("study_key"),
        F.least("a.gene_key", "b.gene_key").alias("gene_a_key"),
        F.greatest("a.gene_key", "b.gene_key").alias("gene_b_key"),
        F.when(swap, F.col("b.rank")).otherwise(F.col("a.rank")).alias("ra"),
        F.when(swap, F.col("a.rank")).otherwise(F.col("b.rank")).alias("rb"),
    )
    return (
        paired.groupBy("study_key", "gene_a_key", "gene_b_key")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            # Pearson-on-ranks from covariance/variance aggregates instead of
            # corr(): ANSI-safe on zero-variance series (corr() raises
            # DIVIDE_BY_ZERO under ANSI; O-38 drops NaN-ρ pairs instead)
            F.covar_samp("ra", "rb").alias("cov_ab"),
            F.var_samp("ra").alias("var_a"),
            F.var_samp("rb").alias("var_b"),
        )
        # O-33 min-samples gate + O-34 constant-series gate: var(rank) > 0 ⇔
        # ≥2 distinct values, without a count_distinct's Expand
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
        .where(F.col("rho_spearman").isNotNull() & ~F.isnan("rho_spearman"))  # O-38
        .drop("cov_ab", "var_a", "var_b")
    )


def _correlate(
    stats: DataFrame,
    *,
    bucketed_bh: bool,
    computed_at: str,
    pvalue_dist: str = "normal",
    scope=None,
) -> DataFrame:
    """The shared tail: gated pair rows (study, gene_a, gene_b, n_samples,
    ρ) → p → BH q → fact_gene_pair_corr rows.

    ``bucketed_bh`` is set for the block route only: its n_genes²/2-row
    families would funnel back into ONE task under the per-family window.
    The bucketed BH keeps every stage partitioned by (study, p-bucket) with
    bit-identical output (``test_bh_scalable_matches_classic_and_oracle``);
    on reference-envelope families the window form is cheaper (SCALE.md,
    "BH follows the route").
    """
    rho, n = F.col("rho_spearman"), F.col("n_samples")
    p = (
        spearman_p_value_expr(rho, n)
        if pvalue_dist == "normal"
        else spearman_p_value_t_expr(rho, n)
    )
    # NaN p → NULL, so BH's valid-p accounting is uniform
    nan_null = F.when(F.isnan("p_value"), F.lit(None).cast("double"))
    with_p = stats.withColumn("p_value", p).withColumn(
        "p_value", nan_null.otherwise(F.col("p_value"))
    )
    if bucketed_bh:
        with_q = benjamini_hochberg_scalable(
            with_p, p_col="p_value", q_col="q_value", family_cols=["study_key"],
            scope=scope,
        )
    else:
        with_q = benjamini_hochberg(
            with_p, p_col="p_value", q_col="q_value", family_cols=["study_key"]
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
    """Long-form expression (study_key, gene_key, gsm_accession,
    expression_value) → rows matching ``schemas.FACT_GENE_PAIR_CORR``.

    Each study is routed by ``_split_wide_dense``: wide dense studies to the
    block plan with B from the widest of them (``_derive_n_blocks``), every
    other study to the per-study rank kernel — identical results either way.

    ``pvalue_dist`` pins the SURVEY §7.4.2 fork: ``"normal"`` (default) is
    the reference's no-SciPy fallback; ``"t"`` is SciPy's primary Student-t
    semantics (incomplete-beta continued fraction as a ``sequence`` fold,
    ``functions/stats.py::spearman_p_value_t_expr``; < 1e-12 vs SciPy). Both
    are JVM expressions. ``scope`` (a ``caching.CacheScope``) releases the
    block route's BH barrier.
    """
    ts = computed_at or _utc_now_iso()
    e = expression.select("study_key", "gene_key", "gsm_accession", "expression_value")

    narrow_keys, wide = _split_wide_dense(e)
    routes: list[tuple[DataFrame, bool]] = []  # (gated pair rows, bucketed BH)
    if narrow_keys or not wide:
        narrow = e.where(~F.col("study_key").isin(list(wide))) if wide else e
        routes.append((_kernel_pairs(narrow, min_samples), False))
    if wide:
        wide_e = e.where(F.col("study_key").isin(list(wide)))
        n_blocks = _derive_n_blocks(max(wide.values()))
        routes.append((_block_pairs(wide_e, n_blocks, min_samples), True))
    return functools.reduce(
        DataFrame.unionByName,
        [
            _correlate(
                stats, bucketed_bh=bucketed, computed_at=ts,
                pvalue_dist=pvalue_dist, scope=scope,
            )
            for stats, bucketed in routes
        ],
    )


__all__ = ["MIN_SAMPLES_FOR_CORRELATION", "compute_gene_pair_correlations"]
