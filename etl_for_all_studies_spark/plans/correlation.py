"""All-pairs per-study Spearman correlation with p-values and BH FDR.

Re-expresses the reference's correlation engine
(``src/etl_for_all_studies/correlation.py:95-162``): per-pair ranks over
the shared samples (O-24/O-25/O-35) → gates (O-33/O-34/O-38) → ρ (O-36) →
p (O-37) → BH FDR per study (O-40) → p NULL→1.0 at store time (O-39).

One route, one pass: ``_kernel_pairs`` runs one grouped Arrow kernel per
study (``_study_spearman``) after one exchange of the cells by
``study_key``. The kernel ranks each pair within its shared samples, as
the reference does (``correlation.py:118``), and, since its task holds
the study's whole BH family, finishes the family there too: p
(``functions/stats.py::spearman_p_normal`` or ``spearman_p_student_t``)
and BH q (``_bh_q``). A projection with no exchange adds the constant
columns. The numpy p and BH are term-for-term ports of the JVM
expressions kept as the executable spec in ``tests/spearman_reference.py``;
tests pin the fused rows to that spec on the 1e-6 grid, and to the DuckDB
oracle.
"""
from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.stats import spearman_p_normal, spearman_p_student_t

MIN_SAMPLES_FOR_CORRELATION = 2  # reference correlation.py:65

# The kernel ranks a study in gene blocks whose (partner genes × rows)
# float64 arrays hold about this many elements: 8 MB each at any width.
_KERNEL_BLOCK_ELEMS = 1 << 20


def _utc_now_iso() -> str:
    return dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")


_P_VALUE = {"normal": spearman_p_normal, "t": spearman_p_student_t}


def _bh_q(p: np.ndarray) -> np.ndarray:
    """Benjamini–Hochberg q of one family (``correlation.py:68-92``); NaN is
    a NULL p. m counts the valid p; ``raw_j = p_j·m/j`` in ascending p
    order; q is the running minimum of raw from the least significant end,
    clipped to 1. Every row of a tie group takes the minimum at the group's
    lowest j, as a RANGE frame over descending p does, so q does not depend
    on the order within ties. NULL p keeps a NULL q."""
    q = np.full(len(p), np.nan)
    valid = np.flatnonzero(~np.isnan(p))
    order = valid[np.argsort(p[valid], kind="stable")]
    ps = p[order]
    m = len(ps)
    raw = ps * m / np.arange(1, m + 1)
    run_min = np.minimum.accumulate(raw[::-1])[::-1]
    new = np.ones(m, dtype=bool)
    new[1:] = ps[1:] != ps[:-1]
    lowest_j = np.maximum.accumulate(np.where(new, np.arange(m), 0))
    q[order] = np.minimum(run_min[lowest_j], 1.0)
    return q


def _study_spearman(
    key, table: pa.Table, min_samples: int, block_elems: int, p_value
) -> pa.Table:
    """``applyInArrow`` body: one study's rows → its gated pair rows, with
    p (``p_value``, one of ``_P_VALUE``) and the study's BH q.

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
    sorted by (gene_key, sample) before any sum.

    ``table``'s third column is the sample identity, of any sortable type
    (the job passes ``sample_key``, registry callers ``gsm_accession``).
    """
    sample = table.column_names[2]
    t = table.sort_by([("gene_key", "ascending"), (sample, "ascending")])
    genes, g = np.unique(t["gene_key"].to_numpy(), return_inverse=True)
    s_enc = t[sample].combine_chunks().dictionary_encode()
    s = s_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    n_genes, n_samp = len(genes), len(s_enc.dictionary)
    vals = t["expression_value"].combine_chunks()
    null = vals.is_null().to_numpy(zero_copy_only=False)
    v = vals.fill_null(0.0).to_numpy(zero_copy_only=False)

    # value order within each gene: NULL first, ascending, NaN last; the
    # sort is stable, so (gene_key, sample) order breaks ties
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
    # cells are contiguous in (gene_key, sample) order; ``order``
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
    step = max(1, math.isqrt(block_elems // max(widest, n_samp)))
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
    n = npairs[a, b]
    p = p_value(rho, n)
    return pa.table({
        "study_key": np.full(len(a), key[0].as_py(), dtype=np.int64),
        "gene_a_key": genes[a],
        "gene_b_key": genes[b],
        "n_samples": n.astype(np.int64),
        "rho_spearman": rho,
        "p_value": pa.array(p, from_pandas=True),  # NaN → NULL
        "q_value": pa.array(_bh_q(p), from_pandas=True),
    })


def _kernel_pairs(e: DataFrame, min_samples: int, pvalue_dist: str) -> DataFrame:
    """Finished pair rows (study_key, gene_a_key, gene_b_key, n_samples,
    rho_spearman, p_value, q_value) of every study in ``e`` (study_key,
    gene_key, a sample identity, expression_value), one kernel call per
    study. Rows with a NULL study, gene or sample key never meet a partner
    on an equi-join, so they are dropped first. The numbered repartition is
    the grouping's exchange, and the plan's only one; AQE does not coalesce
    it, so a few small studies do not share one task."""
    if pvalue_dist not in _P_VALUE:
        raise ValueError(f"unknown pvalue_dist: {pvalue_dist!r}")
    p_value = _P_VALUE[pvalue_dist]
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keyed = e.dropna(subset=e.columns[:3]).repartition(n_part, "study_key")
    block_elems = _KERNEL_BLOCK_ELEMS  # read here: workers import the module afresh

    def kernel(key, table):  # no annotations: applyInArrow infers its API from them
        return _study_spearman(key, table, min_samples, block_elems, p_value)

    return keyed.groupBy("study_key").applyInArrow(
        kernel,
        schema="study_key long, gene_a_key long, gene_b_key long, "
        "n_samples long, rho_spearman double, p_value double, q_value double",
    )


def compute_gene_pair_correlations(
    expression: DataFrame,
    *,
    min_samples: int = MIN_SAMPLES_FOR_CORRELATION,
    computed_at: str | None = None,
    pvalue_dist: str = "normal",
) -> DataFrame:
    """Long-form expression (study_key, gene_key, sample_key or
    gsm_accession, expression_value) → rows matching
    ``schemas.FACT_GENE_PAIR_CORR``. Lazy: builds the plan and runs no job.

    The sample column only identifies a study's samples, so either serves:
    ``sample_key`` (when present) is one per ``(gsm_accession,
    study_key)``, and the kernel's rows do not depend on sample order.

    ``pvalue_dist`` pins the SURVEY §7.4.2 fork: ``"normal"`` (default) is
    the reference's no-SciPy fallback; ``"t"`` is SciPy's primary Student-t
    semantics (Lanczos ln Γ and the incomplete-beta continued fraction,
    ``functions/stats.py::spearman_p_student_t``; < 1e-12 vs SciPy). Both
    run in numpy inside the kernel task, as does BH. The projection above
    the kernel has no exchange: it stores a NULL p as 1.0 (O-39) and adds
    the constant columns, which keeps strings out of the Arrow batches.
    """
    sample = "sample_key" if "sample_key" in expression.columns else "gsm_accession"
    e = expression.select("study_key", "gene_key", sample, "expression_value")
    return _kernel_pairs(e, min_samples, pvalue_dist).select(
        "gene_a_key",
        "gene_b_key",
        F.lit(None).cast("long").alias("illness_key"),  # always NULL, correlation.py:153
        "rho_spearman",
        F.coalesce(F.col("p_value"), F.lit(1.0)).alias("p_value"),  # O-39
        "q_value",
        F.col("n_samples").cast("int").alias("n_samples"),
        F.lit(computed_at or _utc_now_iso()).alias("computed_at"),
        "study_key",
    )


__all__ = ["MIN_SAMPLES_FOR_CORRELATION", "compute_gene_pair_correlations"]
