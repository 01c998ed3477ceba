"""Statistical building blocks as native column expressions (no Python UDFs).

Everything here runs JVM-side inside whole-stage codegen — the hot path stays
vectorized even at 100 TB: average-rank ties, the A&S erf and normal CDF,
the exact incomplete beta, and the per-group A/B tests built on them. The
one exception is the Spearman p-value: ``spearman_p_normal`` and
``spearman_p_student_t`` are numpy ports of the erf, ln Γ and incomplete-beta
expressions here, kept beside them, and run inside the correlation kernel's
task (``plans/correlation.py``), as does BH FDR. The JVM Spearman p and the
window BH are the executable spec in ``tests/spearman_reference.py``.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Abramowitz & Stegun 7.1.26 rational approximation of erf (max abs error
# 1.5e-7). Used because neither Spark SQL nor DuckDB ships a built-in erf;
# the identical closed form is used in oracle SQL so both engines agree to
# float64 round-off. Documented tolerance: |p - exact| < 2e-7.
_A1, _A2, _A3, _A4, _A5 = (
    0.254829592,
    -0.284496736,
    1.421413741,
    -1.453152027,
    1.061405429,
)
_P = 0.3275911


def round6(x: Column | str) -> Column:
    """Round onto the 1e-6 grid every cross-engine comparison uses:
    ``floor(x·10⁶ + 0.5001)/10⁶``, the form the DuckDB oracle SQL spells
    out verbatim. The 1e-4 bias moves a value sitting on a half-grid
    boundary to the same side in both engines despite last-ulp summation
    differences."""
    if isinstance(x, str):
        x = F.col(x)
    return (F.floor(x * 1000000.0 + F.lit(0.5001)) / 1000000.0) + F.lit(0.0)


def erf_expr(x: Column) -> Column:
    """erf(x) via A&S 7.1.26 (odd-symmetric)."""
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_P) * ax)
    poly = (
        F.lit(_A1) * t
        + F.lit(_A2) * F.pow(t, 2)
        + F.lit(_A3) * F.pow(t, 3)
        + F.lit(_A4) * F.pow(t, 4)
        + F.lit(_A5) * F.pow(t, 5)
    )
    y = F.lit(1.0) - poly * F.exp(-ax * ax)
    return F.signum(x) * y


def normal_cdf_expr(x: Column) -> Column:
    """Φ(x) = 0.5·(1 + erf(x/√2))."""
    return F.lit(0.5) * (F.lit(1.0) + erf_expr(x / F.lit(2.0 ** 0.5)))


# Lanczos approximation of ln Γ(z), g=7, n=9 — the classic public-domain
# coefficient set (Numerical-Recipes/Boost lineage). Valid for z > 0 (all
# betainc arguments here are ≥ 0.5, so no reflection branch is needed).
# Relative error ~1e-13 — combined with the 1e-15-converged continued
# fraction the exact-t p-value agrees with the lgamma-based scalar oracle
# (and SciPy) to well under 1e-12 absolute.
_LANCZOS_G = 7.0
_LANCZOS_C = (
    0.99999999999980993,
    676.5203681218851,
    -1259.1392167224028,
    771.32342877765313,
    -176.61502916214059,
    12.507343278686905,
    -0.13857109526572012,
    9.9843695780195716e-6,
    1.5056327351493116e-7,
)
_HALF_LN_2PI = 0.9189385332046727  # 0.5·ln(2π)


def lgamma_expr(z: Column) -> Column:
    """ln Γ(z) for z > 0 as a pure arithmetic expression (no UDF)."""
    zm1 = z - F.lit(1.0)
    series = F.lit(_LANCZOS_C[0])
    for i, c in enumerate(_LANCZOS_C[1:], start=1):
        series = series + F.lit(c) / (zm1 + F.lit(float(i)))
    t = zm1 + F.lit(_LANCZOS_G + 0.5)
    return F.lit(_HALF_LN_2PI) + (zm1 + F.lit(0.5)) * F.log(t) - t + F.log(series)


def _betainc_cf_expr(a: Column, b: Column, x: Column, n_iter: int) -> Column:
    """The incomplete-beta continued fraction h(a,b,x) via modified Lentz,
    evaluated JVM-side: the loop is an ``aggregate`` fold over a
    ``sequence`` of 2·n_iter half-steps with a ``struct(c, d, h)`` running
    state — the same per-element state machine as the scalar oracle
    (``tests/spearman_reference.py::_betainc_scalar``), just expressed as a higher-order function so
    it runs inside the JVM with no Python in the row path. No early exit:
    the fold always runs ``n_iter`` full Lentz iterations (the scalar form
    stops at |δ−1| < 1e-15, almost always far earlier), which buys
    branch-free evaluation at a fixed, known cost."""
    tiny = F.lit(1e-300)

    def guard(v: Column) -> Column:
        return F.when(F.abs(v) < tiny, tiny).otherwise(v)

    d0 = F.lit(1.0) / guard(F.lit(1.0) - (a + b) * x / (a + F.lit(1.0)))
    init = F.struct(F.lit(1.0).alias("c"), d0.alias("d"), d0.alias("h"))

    def step(acc: Column, e: Column) -> Column:
        m = F.floor((e + F.lit(1)) / F.lit(2)).cast("double")
        m2 = F.lit(2.0) * m
        aa = F.when(
            e % 2 == 1,
            m * (b - m) * x / ((a - F.lit(1.0) + m2) * (a + m2)),
        ).otherwise(
            -(a + m) * (a + b + m) * x / ((a + m2) * (a + F.lit(1.0) + m2))
        )
        d = F.lit(1.0) / guard(F.lit(1.0) + aa * acc["d"])
        c = guard(F.lit(1.0) + aa / acc["c"])
        return F.struct(c.alias("c"), d.alias("d"), (acc["h"] * d * c).alias("h"))

    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(2 * n_iter)), init, step
    )
    return folded["h"]


def betainc_expr(a: Column, b: Column, x: Column, *, n_iter: int = 200) -> Column:
    """Regularized incomplete beta I_x(a, b) as native Spark expressions.

    Mirrors the scalar oracle ``_betainc_scalar`` (in
    ``tests/spearman_reference.py``): the symmetric form
    ``I_x(a,b) = 1 − I_{1−x}(b,a)`` is chosen per-row so the continued
    fraction is always evaluated on its fast-converging side — only the
    selected ``when`` branch is evaluated for a given row.
    """
    ln_front = (
        lgamma_expr(a + b)
        - lgamma_expr(a)
        - lgamma_expr(b)
        + a * F.log(x)
        + b * F.log(F.lit(1.0) - x)
    )
    front = F.exp(ln_front)
    direct = front * _betainc_cf_expr(a, b, x, n_iter) / a
    swapped = F.lit(1.0) - front * _betainc_cf_expr(
        b, a, F.lit(1.0) - x, n_iter
    ) / b
    use_direct = x < (a + F.lit(1.0)) / (a + b + F.lit(2.0))
    return (
        F.when(x <= 0.0, F.lit(0.0))
        .when(x >= 1.0, F.lit(1.0))
        .when(use_direct, direct)
        .otherwise(swapped)
    )


# The Spearman p-value in numpy, for the correlation kernel's task
# (``plans/correlation.py``): term-for-term ports of ``erf_expr``,
# ``lgamma_expr`` and ``betainc_expr`` above, the same constants and the
# same operations in the same order, so p agrees with the JVM forms to an
# ulp of each math call.


def _erf_np(x: np.ndarray) -> np.ndarray:
    """``erf_expr`` in numpy."""
    ax = np.abs(x)
    t = 1.0 / (1.0 + _P * ax)
    poly = (
        _A1 * t
        + _A2 * np.power(t, 2.0)
        + _A3 * np.power(t, 3.0)
        + _A4 * np.power(t, 4.0)
        + _A5 * np.power(t, 5.0)
    )
    return np.sign(x) * (1.0 - poly * np.exp(-ax * ax))


def _lgamma_np(z: np.ndarray) -> np.ndarray:
    """``lgamma_expr`` in numpy."""
    zm1 = z - 1.0
    series = _LANCZOS_C[0]
    for i, c in enumerate(_LANCZOS_C[1:], start=1):
        series = series + c / (zm1 + float(i))
    t = zm1 + (_LANCZOS_G + 0.5)
    return _HALF_LN_2PI + (zm1 + 0.5) * np.log(t) - t + np.log(series)


def _betainc_cf_np(a, b, x, n_iter: int) -> np.ndarray:
    """``_betainc_cf_expr`` in numpy: modified Lentz over a fixed
    2·``n_iter`` half-steps, no early exit, |v| < 1e-300 guarded."""
    def guard(v):
        return np.where(np.abs(v) < 1e-300, 1e-300, v)

    d = 1.0 / guard(1.0 - (a + b) * x / (a + 1.0))
    c, h = 1.0, d
    for e in range(1, 2 * n_iter + 1):
        m = float((e + 1) // 2)
        m2 = 2.0 * m
        if e % 2 == 1:
            aa = m * (b - m) * x / ((a - 1.0 + m2) * (a + m2))
        else:
            aa = -(a + m) * (a + b + m) * x / ((a + m2) * (a + 1.0 + m2))
        d = 1.0 / guard(1.0 + aa * d)
        c = guard(1.0 + aa / c)
        h = h * d * c
    return h


def _p_gates(p: np.ndarray, rho: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Clip to [0, 1]; NaN (NULL) for n < 3; 0.0 at |ρ| ≥ 1. Spark orders
    NaN above every number, so a NaN ρ counts as ≥ 1 and the clip takes a
    NaN p to 1.0 (``fmin``), as ``least``/``greatest`` do."""
    p = np.fmin(np.maximum(p, 0.0), 1.0)
    return np.where(n < 3, np.nan, np.where(np.abs(rho) < 1.0, p, 0.0))


def spearman_p_normal(rho: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Two-sided p of Spearman ρ over n samples via the t-statistic and
    the normal approximation, the reference's no-SciPy fallback
    (``correlation.py:50-61``). NaN is a NULL p."""
    with np.errstate(all="ignore"):
        t_stat = rho * np.sqrt((n - 2) / (1.0 - rho * rho))
        cdf = 0.5 * (1.0 + _erf_np(np.abs(t_stat) / 2.0 ** 0.5))
        return _p_gates(2.0 * (1.0 - cdf), rho, n)


def spearman_p_student_t(
    rho: np.ndarray, n: np.ndarray, n_iter: int = 200
) -> np.ndarray:
    """Two-sided exact Student-t p, ``I_{df/(df+t²)}(df/2, ½)`` with
    ``df = n − 2`` (SciPy's semantics, ``correlation.py:11-12``), as
    ``betainc_expr`` evaluates it: each row runs the continued fraction
    once, on the side ``x < (a+1)/(a+b+2)`` picks. NaN is a NULL p."""
    with np.errstate(all="ignore"):
        df = n - 2.0
        x = df / (df + rho * rho * df / (1.0 - rho * rho))
        a, b = df / 2.0, 0.5
        front = np.exp(
            _lgamma_np(a + b) - _lgamma_np(a) - _lgamma_np(b)
            + a * np.log(x) + b * np.log(1.0 - x)
        )
        direct = x < (a + 1.0) / (a + b + 2.0)
        ca = np.where(direct, a, b)
        cb, cx = np.where(direct, b, a), np.where(direct, x, 1.0 - x)
        h = _betainc_cf_np(ca, cb, cx, n_iter)
        inc = np.where(direct, front * h / ca, 1.0 - front * h / ca)
        inc = np.where(x <= 0.0, 0.0, np.where(x >= 1.0, 1.0, inc))
        return _p_gates(inc, rho, n)


def average_rank(partition_cols: list[str], value_col: str) -> Column:
    """Average rank with ties sharing the mean of their positions (O-35).

    Matches SciPy's ``rankdata(method='average')`` and the reference's
    ``_rankdata`` (``correlation.py:17-30``). Formulation:
    ``rank() + (ties − 1)/2`` where *ties* is the peer count, computed with a
    ``RANGE BETWEEN CURRENT ROW AND CURRENT ROW`` frame — a peer-group count
    that shares the **same partitioning and the same sort** as ``rank()``.
    Alternatives cost more: the naive ties window partitions by
    ``(partition_cols, value)`` (an extra hash exchange of the full table per
    ranked column); the rank_asc/rank_desc identity needs a second sort per
    column. This form is one exchange + one in-partition sort per ranked
    column, with no nondeterministic intra-tie row_number.
    """
    w_asc = Window.partitionBy(*partition_cols).orderBy(F.col(value_col).asc())
    w_peers = w_asc.rangeBetween(Window.currentRow, Window.currentRow)
    r_asc = F.rank().over(w_asc)
    ties = F.count(F.lit(1)).over(w_peers)
    return r_asc + (ties - F.lit(1)) / F.lit(2.0)


def welch_t_test(
    df: DataFrame,
    *,
    group_cols: list[str],
    cohort_col: str,
    value_col: str,
    cohort_a,
    cohort_b,
    pvalue_dist: str = "normal",
) -> DataFrame:
    """Per-group Welch's unequal-variance two-sample t-test — the
    differential-expression primitive (healthy-vs-illness per gene in the
    genomic binding; any A/B comparison here), computed entirely with
    conditional aggregates:

    * ONE ``groupBy(group_cols)`` pass produces both cohorts' n/mean/var via
      ``F.when``-masked aggregates — no join between cohorts, no second scan,
      map-side partials throughout;
    * ``t = (m_a − m_b) / √(v_a/n_a + v_b/n_b)``, Welch–Satterthwaite
      ``df = (v_a/n_a + v_b/n_b)² / ((v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1))``;
    * two-sided p: ``pvalue_dist="normal"`` uses the shared A&S closed form
      (oracle-replicable, the same policy as the Spearman p);
      ``"t"`` uses the native incomplete-beta exact form
      (:func:`betainc_expr`) with the Welch df.

    Gates: a group needs ≥ 2 values in EACH cohort and positive pooled
    standard error, else t/df/p are NULL (zero-variance identical cohorts
    have no defined t; the caller sees NULL, not ±Inf — ANSI-safe).

    Output: group_cols + (n_a, n_b, mean_a, mean_b, var_a, var_b, t_stat,
    df_welch, p_value).
    """
    if pvalue_dist not in ("normal", "t"):
        raise ValueError(f"unknown pvalue_dist: {pvalue_dist!r}")
    in_a = F.col(cohort_col) == cohort_a
    in_b = F.col(cohort_col) == cohort_b
    va = F.when(in_a, F.col(value_col))
    vb = F.when(in_b, F.col(value_col))
    agg = df.groupBy(*group_cols).agg(
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        F.avg(va).alias("mean_a"),
        F.avg(vb).alias("mean_b"),
        F.var_samp(va).alias("var_a"),
        F.var_samp(vb).alias("var_b"),
    )
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0)
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        F.pow(F.col("var_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
        + F.pow(F.col("var_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
    )
    with_t = agg.select(
        *group_cols, "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dfw).alias("df_welch"),
    )
    if pvalue_dist == "normal":
        p = F.lit(2.0) * (F.lit(1.0) - normal_cdf_expr(F.abs(F.col("t_stat"))))
    else:
        dcol = F.col("df_welch")
        x = dcol / (dcol + F.col("t_stat") * F.col("t_stat"))
        p = betainc_expr(dcol / F.lit(2.0), F.lit(0.5), x)
    p = F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    return with_t.withColumn(
        "p_value", F.when(F.col("t_stat").isNotNull(), p)
    )


def mann_whitney_u(
    df: DataFrame,
    *,
    group_cols: list[str],
    cohort_col: str,
    value_col: str,
    cohort_a,
    cohort_b,
) -> DataFrame:
    """Per-group Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric
    sibling of :func:`welch_t_test` for skewed/outlier-heavy metrics where
    mean comparisons mislead.

    Formulation on the engine's own rank primitive: combined-cohort average
    ranks via :func:`average_rank` (one sort per group, SciPy tie
    semantics), then ``U_a = R_a − n_a(n_a+1)/2`` and the normal
    approximation with the standard tie correction
    ``σ² = n_a·n_b/12 · (n+1 − Σ(t³−t)/(n(n−1)))`` — the tie term is one
    extra (group, value)-keyed aggregation. No continuity correction
    (SciPy's ``use_continuity=False``); two-sided p from the shared A&S
    closed form, so the oracle replicates every term.

    Gates: both cohorts non-empty and σ > 0 (all-tied groups have no
    defined z) else z/p NULL. Output: group_cols + (n_a, n_b, u_a, z,
    p_value).
    """
    both = df.where(F.col(cohort_col).isin([cohort_a, cohort_b]))
    ranked = both.withColumn("__r", average_rank(group_cols, value_col))
    in_a = F.col(cohort_col) == cohort_a
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.when(in_a, F.lit(1))).alias("n_a"),
        F.count(F.when(~in_a, F.lit(1))).alias("n_b"),
        F.sum(F.when(in_a, F.col("__r"))).alias("r_a"),
    )
    ties = (
        both.groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy(*group_cols)
        .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"))
    )
    j = agg.join(ties, group_cols)
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    mu = F.col("n_a") * F.col("n_b") / F.lit(2.0)
    sigma2 = (
        F.col("n_a") * F.col("n_b") / F.lit(12.0)
        * ((n + 1) - F.col("tie3") / (n * (n - 1)))
    )
    ok = (F.col("n_a") >= 1) & (F.col("n_b") >= 1) & (sigma2 > 0)
    z = (u_a - mu) / F.sqrt(sigma2)
    p = F.lit(2.0) * (F.lit(1.0) - normal_cdf_expr(F.abs(z)))
    p = F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    return j.select(
        *group_cols, "n_a", "n_b",
        u_a.alias("u_a"),
        F.when(ok, z).alias("z"),
        F.when(ok, p).alias("p_value"),
    )


def ks_two_sample(
    df: DataFrame,
    *,
    group_cols: list[str],
    cohort_col: str,
    value_col: str,
    cohort_a,
    cohort_b,
    n_terms: int = 100,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov test: D = sup |F_a − F_b|
    over the empirical CDFs, with the asymptotic two-sided p
    (Kolmogorov distribution via the standard series, Numerical-Recipes
    small-sample correction ``λ = (√n_e + 0.12 + 0.11/√n_e)·D``).

    Distribution-shape sensitivity completes the A/B family: Welch sees
    mean shifts, Mann–Whitney sees location shifts, K-S sees ANY CDF
    difference (variance, bimodality, tails).

    Scale shape — the ECDF is computed over *distinct values*, not rows:
    one (group, value) aggregation collapses the data first (ties merge —
    exactly what the ECDF needs), then the cumulative window runs over the
    collapsed table (cardinality = distinct values per group, not rows).
    The p-series is a codegen'd ``aggregate`` over a ``sequence`` — finite
    sum, replicable term-for-term in the oracle.

    Gates: both cohorts non-empty, else D/p NULL. Output: group_cols +
    (n_a, n_b, d_stat, p_value).
    """
    in_a = (F.col(cohort_col) == cohort_a).cast("long")
    in_b = (F.col(cohort_col) == cohort_b).cast("long")
    per_value = (
        df.where(F.col(cohort_col).isin([cohort_a, cohort_b]))
        .groupBy(*group_cols, value_col)
        .agg(F.sum(in_a).alias("ca"), F.sum(in_b).alias("cb"))
    )
    w_tot = Window.partitionBy(*group_cols)
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = per_value.select(
        *group_cols,
        F.sum("ca").over(w_tot).alias("n_a"),
        F.sum("cb").over(w_tot).alias("n_b"),
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
    )
    # nullif: an absent cohort must yield NULL d (gated below), not an
    # ANSI divide-by-zero error
    d = F.abs(
        F.col("cum_a") / F.nullif(F.col("n_a"), F.lit(0))
        - F.col("cum_b") / F.nullif(F.col("n_b"), F.lit(0))
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(d).alias("d_stat"),
    )
    ne = F.col("n_a") * F.col("n_b") / (F.col("n_a") + F.col("n_b"))
    lam = (
        F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)
    ) * F.col("d_stat")
    series = F.lit(2.0) * F.aggregate(
        F.sequence(F.lit(1), F.lit(n_terms)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.pow(F.lit(-1.0), (k - 1).cast("double"))
        * F.exp(F.lit(-2.0) * k.cast("double") * k.cast("double") * lam * lam),
    )
    ok = (F.col("n_a") >= 1) & (F.col("n_b") >= 1)
    # the alternating series needs 2λ²k² to decay within n_terms; below
    # λ = 0.05 it hasn't (λ = 0 sums to 0, not 1) while the true Q differs
    # from 1 by < 4e-15 — return the limit directly
    p = F.when(lam < 0.05, F.lit(1.0)).otherwise(
        F.least(F.greatest(series, F.lit(0.0)), F.lit(1.0))
    )
    return agg.select(
        *group_cols, "n_a", "n_b",
        F.when(ok, F.col("d_stat")).alias("d_stat"),
        F.when(ok, p).alias("p_value"),
    )


def weighted_quantile(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q: float,
    id_col: str,
) -> DataFrame:
    """Per-group weighted q-quantile: the smallest value whose cumulative
    weight share reaches ``q`` (the left-continuous inverse of the weighted
    ECDF — survey statistics' standard definition, and the right "median
    document length in TOKENS" when documents weigh differently).

    One rank window over (value, id) + a cumulative weight frame + a
    min_by over qualifying rows — all sharing the group shuffle.
    Non-positive/NULL weights are excluded; empty groups vanish.
    """
    base = df.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(
        *group_cols,
        F.col(value_col).alias("__v"),
        F.col(weight_col).cast("double").alias("__w"),
        F.col(id_col).alias("__id"),
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("__v").asc(), F.col("__id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*group_cols)
    # cumulative share on the 1e-6 grid: the qualifying-row decision must
    # not hinge on last-ulp summation order (the suite's boundary
    # discipline, applied inside the operator since the decision IS the
    # result here)
    share = round6(F.sum("__w").over(w_cum) / F.sum("__w").over(w_tot))
    stepped = base.withColumn("__share", share)
    return (
        stepped.where(F.col("__share") >= q)
        .groupBy(*group_cols)
        .agg(
            F.min("__v").alias(f"wq_{int(q * 100)}"),
            F.count(F.lit(1)).alias("__dummy"),
        )
        .drop("__dummy")
    )


def auc_score(
    df: DataFrame,
    *,
    group_cols: list[str],
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Per-group ROC AUC via the rank identity — the ML ranking-quality
    metric, computed exactly without thresholds or curve construction:

        AUC = (Σ rank(score | positive) − n₊(n₊+1)/2) / (n₊ · n₋)

    with AVERAGE ranks over the combined scores (ties counted ½ — matching
    the trapezoidal ROC and the Mann–Whitney U it is equivalent to).
    One sort per group on the engine's rank primitive + one aggregation.

    ``label_col`` is 0/1. Single-class groups gate NULL (AUC undefined).
    Output: group_cols + (n_pos, n_neg, auc).
    """
    ranked = df.withColumn("__r", average_rank(group_cols, score_col))
    is_pos = F.col(label_col) == 1
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.when(is_pos, F.lit(1))).alias("n_pos"),
        F.count(F.when(~is_pos, F.lit(1))).alias("n_neg"),
        F.sum(F.when(is_pos, F.col("__r"))).alias("__rp"),
    )
    ok = (F.col("n_pos") >= 1) & (F.col("n_neg") >= 1)
    auc = (
        F.col("__rp") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        *group_cols, "n_pos", "n_neg", F.when(ok, auc).alias("auc")
    )


def proportions_z_test(
    df: DataFrame,
    *,
    group_cols: list[str],
    cohort_col: str,
    success_col: str,
    cohort_a,
    cohort_b,
) -> DataFrame:
    """Per-group two-proportion z-test — the conversion-rate A/B test:
    ``z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))`` with the pooled
    proportion under H₀, two-sided p from the shared A&S closed form.

    ``success_col`` is 0/1 per unit. One conditional-aggregate pass (the
    Welch shape); gates: both cohorts non-empty and pooled variance > 0
    (all-success/all-failure pools have no defined z) else NULL.

    Output: group_cols + (n_a, n_b, rate_a, rate_b, z, p_value).
    """
    in_a = F.col(cohort_col) == cohort_a
    in_b = F.col(cohort_col) == cohort_b
    agg = df.groupBy(*group_cols).agg(
        F.count(F.when(in_a, F.lit(1))).alias("n_a"),
        F.count(F.when(in_b, F.lit(1))).alias("n_b"),
        F.sum(F.when(in_a, F.col(success_col))).alias("s_a"),
        F.sum(F.when(in_b, F.col(success_col))).alias("s_b"),
    )
    p_a = F.col("s_a") / F.col("n_a")
    p_b = F.col("s_b") / F.col("n_b")
    pool = (F.col("s_a") + F.col("s_b")) / (F.col("n_a") + F.col("n_b"))
    se2 = pool * (F.lit(1.0) - pool) * (
        F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")
    )
    ok = (F.col("n_a") >= 1) & (F.col("n_b") >= 1) & (se2 > 0)
    z = (p_a - p_b) / F.sqrt(se2)
    p = F.lit(2.0) * (F.lit(1.0) - normal_cdf_expr(F.abs(z)))
    p = F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0))
    return agg.select(
        *group_cols, "n_a", "n_b",
        F.when(F.col("n_a") >= 1, p_a).alias("rate_a"),
        F.when(F.col("n_b") >= 1, p_b).alias("rate_b"),
        F.when(ok, z).alias("z"),
        F.when(ok, p).alias("p_value"),
    )


def chi2_sf_even_df_expr(x: Column, half_df: Column) -> Column:
    """Survival function of χ²(df) for EVEN df as the exact finite sum
    ``P(X > x) = e^{−x/2} Σ_{k=0}^{df/2−1} (x/2)^k / k!`` — closed-form
    arithmetic both engines evaluate identically (the reason the
    independence test below keeps its contingency df even). ``half_df`` =
    df/2 ≥ 1. The k! grows term-by-term inside the fold (no lgamma)."""
    half_x = x / F.lit(2.0)
    # fold carries (sum, term): term_{k} = term_{k-1} · (x/2) / k
    init = F.struct(F.lit(1.0).alias("s"), F.lit(1.0).alias("t"))
    folded = F.aggregate(
        F.sequence(F.lit(1), (half_df - 1).cast("int")),
        init,
        lambda acc, k: F.struct(
            (acc["s"] + acc["t"] * half_x / k.cast("double")).alias("s"),
            (acc["t"] * half_x / k.cast("double")).alias("t"),
        ),
        lambda acc: acc["s"],
    )
    series = F.when(half_df >= 2, folded).otherwise(F.lit(1.0))
    return F.least(
        F.greatest(F.exp(-half_x) * series, F.lit(0.0)), F.lit(1.0)
    )


def chi2_independence(
    df: DataFrame,
    *,
    group_cols: list[str],
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Per-group χ² test of independence between two categoricals
    (Pearson): ``χ² = Σ_cells (O − E)² / E`` with ``E = row_tot·col_tot/n``,
    df = (r−1)(c−1).

    Shape: ONE (group, row, col) count aggregation; marginals via two
    windowed sums over the (bounded) cell table; the χ² sum is one more
    group aggregation. Exact p when df is even (finite-sum survival
    function above); Wilson–Hilferty cube-root normal approximation for odd
    df (documented, still closed-form portable).

    Output: group_cols + (n, df, chi2, p_value) — NULL-gated for degenerate
    tables (single row/column level).
    """
    cells = df.groupBy(*group_cols, row_col, col_col).agg(
        F.count(F.lit(1)).alias("o")
    )
    w_g = Window.partitionBy(*group_cols)
    w_r = Window.partitionBy(*group_cols, row_col)
    w_c = Window.partitionBy(*group_cols, col_col)
    with_marg = cells.select(
        *group_cols, row_col, col_col, "o",
        F.sum("o").over(w_r).alias("rt"),
        F.sum("o").over(w_c).alias("ct"),
        F.sum("o").over(w_g).alias("n"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    # Empty (row, col) cells never appear in `cells`, but each contributes
    # (0 − E)²/E = E to χ². Since Σ_all-cells E = n exactly, the missing
    # mass is n − Σ_present E — added analytically (same technique as
    # benford_test's missing-digit correction) instead of materializing
    # the full r×c grid.
    agg = with_marg.groupBy(*group_cols).agg(
        F.max("n").alias("n"),
        F.count_distinct(F.col(row_col)).alias("__r"),
        F.count_distinct(F.col(col_col)).alias("__c"),
        (F.sum(term) + (F.max("n") - F.sum(e))).alias("chi2"),
    )
    dof = ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("long")
    ok = dof >= 1
    even = dof % 2 == 0
    p_even = chi2_sf_even_df_expr(F.col("chi2"), (dof / 2).cast("double"))
    # odd df: df = 1 has the exact erf form (χ²₁ = Z² — same reduction the
    # log-rank test uses); df ≥ 3 odd falls back to Wilson–Hilferty's
    # cube-root normal approximation (WH is poor near 0 only for df = 1,
    # which the exact branch now owns)
    p_df1 = F.lit(2.0) * (F.lit(1.0) - normal_cdf_expr(F.sqrt(F.col("chi2"))))
    wh_z = (
        F.pow(F.col("chi2") / dof, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * dof))
    p_odd = F.when(dof == 1, p_df1).otherwise(
        F.lit(1.0) - normal_cdf_expr(wh_z)
    )
    p_odd = F.least(F.greatest(p_odd, F.lit(0.0)), F.lit(1.0))
    return agg.select(
        *group_cols, "n",
        F.when(ok, dof).alias("df"),
        F.when(ok, F.col("chi2")).alias("chi2"),
        F.when(ok, F.when(even, p_even).otherwise(p_odd)).alias("p_value"),
    )


__all__ = [
    "auc_score",
    "average_rank",
    "betainc_expr",
    "chi2_independence",
    "chi2_sf_even_df_expr",
    "erf_expr",
    "ks_two_sample",
    "lgamma_expr",
    "mann_whitney_u",
    "normal_cdf_expr",
    "proportions_z_test",
    "round6",
    "spearman_p_normal",
    "spearman_p_student_t",
    "weighted_quantile",
    "welch_t_test",
]
