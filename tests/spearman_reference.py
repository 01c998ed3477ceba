"""The pair-expanded Spearman plan, kept as the executable spec of the
correlation routes.

This is the plan ``plans/correlation.py`` ran for ragged studies before the
per-study rank kernel: a self-join of the long table on (study, sample) with
``gene_a < gene_b``, average ranks per pair over the joined rows (two
windows), then covariance/variance aggregates and the gates. It is slow —
it materializes every (pair, shared sample) row and shuffles it twice — but
each step is a plain Spark expression, so its semantics are easy to read:

* a pair sees one row per (a-cell, b-cell) sharing a sample, so a
  duplicated (gene, sample) cell meets its partner's cells once per copy;
* ranks follow a Spark window ordered ascending: NULL first, NaN last;
* gates: n ≥ ``min_samples``, both rank variances > 0, ρ not NaN.

Its output has the columns (study_key, gene_a_key, gene_b_key,
n_samples, rho_spearman) that the kernel ranks internally.

The module also keeps the JVM tail the kernel task replaced:
``_correlate`` turns gated pair rows into ``fact_gene_pair_corr`` rows with
p as a column expression (``spearman_p_value_expr``, or
``spearman_p_value_t_expr`` for the Student-t form) and BH as two window
passes per study (``benjamini_hochberg``). The kernel's numpy p and BH are
term-for-term ports of these, and tests compare the two on the 1e-6 grid.
``t_two_sided_p`` is the scalar Student-t oracle both p forms are checked
against.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_for_all_studies_spark.functions.stats import (
    average_rank,
    betainc_expr,
    normal_cdf_expr,
)


def self_join(e: DataFrame) -> DataFrame:
    """Pairs of genes sharing a (study, sample), ``gene_a < gene_b``, with
    each side's value (``va``/``vb``)."""
    a = e.alias("a")
    b = e.alias("b")
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
        F.col("a.expression_value").alias("va"),
        F.col("b.expression_value").alias("vb"),
    )


def pair_expanded_stats(e: DataFrame, min_samples: int = 2) -> DataFrame:
    """Gated pair rows with ranks taken within each pair's shared samples."""
    pair_cols = ["study_key", "gene_a_key", "gene_b_key"]
    ranked = (
        self_join(e)
        .withColumn("ra", average_rank(pair_cols, "va"))
        .withColumn("rb", average_rank(pair_cols, "vb"))
    )
    return (
        ranked.groupBy(*pair_cols)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.covar_samp("ra", "rb").alias("cov_ab"),
            F.var_samp("ra").alias("var_a"),
            F.var_samp("rb").alias("var_b"),
        )
        .where(
            (F.col("n_samples") >= min_samples)
            & (F.col("var_a") > 0)
            & (F.col("var_b") > 0)
        )
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
    )


def spearman_p_value_expr(rho: Column, n: Column) -> Column:
    """Two-sided p for Spearman ρ via t-statistic + normal approximation.

    Reference fallback semantics (``correlation.py:50-61``): NULL (NaN) for
    n < 3; 0.0 when |ρ| ≥ 1; else ``p = 2·(1 − Φ(|t|))`` with
    ``t = ρ·sqrt((n−2)/(1−ρ²))``, clipped to [0, 1].
    """
    t_stat = rho * F.sqrt((n - F.lit(2)) / (F.lit(1.0) - rho * rho))
    p = F.lit(2.0) * (F.lit(1.0) - normal_cdf_expr(F.abs(t_stat)))
    p = F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    return (
        F.when(n < 3, F.lit(None).cast("double"))
        .when(F.abs(rho) >= 1.0, F.lit(0.0))
        .otherwise(p)
    )


def spearman_p_value_t_expr(rho: Column, n: Column) -> Column:
    """Two-sided **exact Student-t** p-value as native expressions (no UDF):
    ``p = I_{df/(df+t²)}(df/2, ½)`` with ``df = n − 2`` — the SciPy-primary
    semantics of the reference (``correlation.py:11-12``). Matches the
    scalar :func:`t_two_sided_p` to < 1e-12 absolute
    (``tests/test_stats_properties.py``). NULL for n < 3; 0.0 at |ρ| ≥ 1.
    """
    df = (n - F.lit(2)).cast("double")
    t_sq = rho * rho * df / (F.lit(1.0) - rho * rho)
    x = df / (df + t_sq)
    p = betainc_expr(df / F.lit(2.0), F.lit(0.5), x)
    p = F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    return (
        F.when(n < 3, F.lit(None).cast("double"))
        .when(F.abs(rho) >= 1.0, F.lit(0.0))
        .otherwise(p)
    )


def benjamini_hochberg(
    df: DataFrame,
    p_col: str = "p_value",
    q_col: str = "q_value",
    family_cols: list[str] | None = None,
) -> DataFrame:
    """Benjamini–Hochberg FDR q-values per family (O-40).

    Reference semantics (``correlation.py:68-92``): within one family (a
    study), m = count of non-NULL p-values; sort ascending; ``raw_j = p_j·m/j``;
    q = running min of raw from the least-significant end, clipped to ≤ 1;
    NULL-p rows keep NULL q and are excluded from m.

    Window formulation (two passes, no UDF):
      * ``j`` = ascending rank of p (ties: any order — q is tie-invariant);
      * running-min uses a **RANGE** frame over descending p so tied p-values
        share the same min (peer rows included), matching the sequential scan.
    """
    fam = family_cols or []
    # NaN p-values are excluded from m and keep NULL q, matching the
    # reference's explicit NaN handling (correlation.py:72-79) — NaN must not
    # inflate the family size even when a caller skips NaN→NULL normalization
    valid = F.col(p_col).isNotNull() & ~F.isnan(F.col(p_col))
    w_fam = Window.partitionBy(*fam) if fam else Window.partitionBy(F.lit(1))
    m = F.sum(valid.cast("long")).over(w_fam)
    j = F.row_number().over(
        (Window.partitionBy(*fam) if fam else Window.partitionBy(F.lit(1))).orderBy(
            F.when(valid, F.lit(0)).otherwise(F.lit(1)), F.col(p_col).asc_nulls_last()
        )
    )
    raw = F.when(valid, F.col(p_col) * m / j)
    with_raw = df.withColumn("__bh_raw", raw)
    w_runmin = (
        (Window.partitionBy(*fam) if fam else Window.partitionBy(F.lit(1)))
        .orderBy(F.col(p_col).desc_nulls_last())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.when(valid, F.least(F.min("__bh_raw").over(w_runmin), F.lit(1.0)))
    return with_raw.withColumn(q_col, q).drop("__bh_raw")


def _correlate(
    stats: DataFrame, *, computed_at: str, pvalue_dist: str = "normal"
) -> DataFrame:
    """The JVM tail: gated pair rows (study, gene_a, gene_b, n_samples, ρ)
    → p → BH q per study (one window family each) → fact_gene_pair_corr
    rows."""
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


def _betainc_scalar(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) via the standard continued
    fraction (modified Lentz evaluation). Max rel. error ~1e-14 — used for
    the exact Student-t p-value path; plain public math, no SciPy."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)

    def contfrac(a: float, b: float, x: float) -> float:
        tiny = 1e-300
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c = 1.0
        d = 1.0 - qab * x / qap
        if abs(d) < tiny:
            d = tiny
        d = 1.0 / d
        h = d
        for m in range(1, 300):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            if abs(d) < tiny:
                d = tiny
            c = 1.0 + aa / c
            if abs(c) < tiny:
                c = tiny
            d = 1.0 / d
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 1e-15:
                break
        return h

    # use the symmetric form on whichever side converges fast
    if x < (a + 1.0) / (a + b + 2.0):
        return front * contfrac(a, b, x) / a
    return 1.0 - math.exp(
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    ) * contfrac(b, a, 1.0 - x) / b


def t_two_sided_p(t_abs: float, df: float) -> float:
    """Two-sided Student-t p-value: ``I_{df/(df+t²)}(df/2, 1/2)`` — the
    SciPy-primary semantics of the reference (``correlation.py:11-12``)."""
    if df <= 0:
        return float("nan")
    x = df / (df + t_abs * t_abs)
    return min(max(_betainc_scalar(df / 2.0, 0.5, x), 0.0), 1.0)
