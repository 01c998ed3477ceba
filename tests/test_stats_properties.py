"""Property-based tests (hypothesis) for the statistical building blocks,
plus exactness checks for the Student-t p-value path."""
import math
from statistics import NormalDist

import pytest
from hypothesis import given, settings, strategies as st

from etl_for_all_studies_spark.functions.stats import (
    _betainc_scalar,
    t_two_sided_p,
)
from oracle import benjamini_hochberg as bh_oracle, rankdata_avg


# ---- incomplete beta / t-distribution ------------------------------------

def test_betainc_boundaries_and_symmetry():
    assert _betainc_scalar(2.0, 3.0, 0.0) == 0.0
    assert _betainc_scalar(2.0, 3.0, 1.0) == 1.0
    # I_x(a,b) = 1 - I_{1-x}(b,a)
    for a, b, x in [(0.5, 0.5, 0.3), (2.0, 5.0, 0.7), (10.0, 0.5, 0.01)]:
        assert _betainc_scalar(a, b, x) == pytest.approx(
            1.0 - _betainc_scalar(b, a, 1.0 - x), abs=1e-12
        )


def test_betainc_closed_forms():
    # I_x(1, 1) = x (uniform); I_x(1, b) = 1 - (1-x)^b; I_x(a, 1) = x^a
    for x in (0.1, 0.5, 0.9):
        assert _betainc_scalar(1.0, 1.0, x) == pytest.approx(x, abs=1e-12)
        assert _betainc_scalar(1.0, 4.0, x) == pytest.approx(
            1 - (1 - x) ** 4, abs=1e-12
        )
        assert _betainc_scalar(3.0, 1.0, x) == pytest.approx(x ** 3, abs=1e-12)


def test_t_pvalue_known_values():
    # df=1 is Cauchy: P(|T| > t) = 1 - (2/pi) * arctan(t)
    for t in (0.5, 1.0, 3.0):
        assert t_two_sided_p(t, 1) == pytest.approx(
            1 - 2 / math.pi * math.atan(t), abs=1e-12
        )
    # df=2 has closed form: P(|T| > t) = 1 - t/sqrt(2 + t^2)
    for t in (0.5, 1.0, 3.0):
        assert t_two_sided_p(t, 2) == pytest.approx(
            1 - t / math.sqrt(2 + t * t), abs=1e-12
        )
    # large df → normal limit
    for t in (0.5, 1.96, 3.0):
        assert t_two_sided_p(t, 1_000_000) == pytest.approx(
            2 * (1 - NormalDist().cdf(t)), abs=1e-5
        )
    assert t_two_sided_p(0.0, 10) == pytest.approx(1.0, abs=1e-12)


@given(
    t=st.floats(min_value=0.0, max_value=50.0),
    df=st.integers(min_value=1, max_value=500),
)
@settings(max_examples=200, deadline=None)
def test_t_pvalue_is_a_valid_tail_probability(t, df):
    p = t_two_sided_p(t, df)
    assert 0.0 <= p <= 1.0
    # monotone non-increasing in |t|
    assert t_two_sided_p(t + 1.0, df) <= p + 1e-12


# ---- BH oracle properties (the same algorithm the Spark windows mirror) --

@given(
    ps=st.lists(
        st.one_of(st.none(), st.floats(min_value=0.0, max_value=1.0)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_bh_oracle_properties(ps):
    qs = bh_oracle(ps)
    assert len(qs) == len(ps)
    for p, q in zip(ps, qs):
        if p is None:
            assert q is None
        else:
            assert q is not None and 0.0 <= q <= 1.0 + 1e-12
            assert q >= p - 1e-12  # BH never makes values more significant
    # monotone: sorting valid pairs by p, q must be non-decreasing
    valid = sorted((p, q) for p, q in zip(ps, qs) if p is not None)
    for (p1, q1), (p2, q2) in zip(valid, valid[1:]):
        assert q1 <= q2 + 1e-12


@given(
    values=st.lists(
        st.floats(min_value=-100, max_value=100).map(lambda v: round(v, 1)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_rank_oracle_properties(values):
    ranks = rankdata_avg(values)
    n = len(values)
    # ranks sum to n(n+1)/2 regardless of ties
    assert sum(ranks) == pytest.approx(n * (n + 1) / 2)
    # equal values share equal rank; order respected
    for i in range(n):
        for j in range(n):
            if values[i] == values[j]:
                assert ranks[i] == ranks[j]
            elif values[i] < values[j]:
                assert ranks[i] < ranks[j]


# ---- Spark BH windows vs sequential oracle over random families ----------

def test_spark_bh_windows_match_oracle_many_families(spark):
    import random

    rng = random.Random(99)
    rows = []
    expected = {}
    for fam in range(20):
        n = rng.randint(0, 30)
        ps = []
        for i in range(n):
            r = rng.random()
            p = None if r < 0.15 else (rng.choice([0.0, 1.0]) if r < 0.3 else round(rng.random(), 3))
            ps.append(p)
        qs = bh_oracle(ps)
        for i, (p, q) in enumerate(zip(ps, qs)):
            rows.append((fam, i, p))
            expected[(fam, i)] = q
    if not rows:
        return
    from etl_for_all_studies_spark.functions.stats import benjamini_hochberg

    df = spark.createDataFrame(rows, "fam long, idx long, p_value double")
    out = benjamini_hochberg(df, family_cols=["fam"])
    got = {(r["fam"], r["idx"]): r["q_value"] for r in out.collect()}
    assert set(got) == set(expected)
    for key, exp in expected.items():
        if exp is None:
            assert got[key] is None, key
        else:
            assert got[key] == pytest.approx(exp, abs=1e-12), key


def test_bh_nan_p_excluded_from_family(spark):
    # NaN p must behave like NULL: excluded from m, q=NULL — not inflate m
    # or propagate NaN through the running-min (reference correlation.py:72-79)
    from etl_for_all_studies_spark.functions.stats import benjamini_hochberg

    rows = [(0, float("nan")), (1, 0.02), (2, 0.04), (3, None), (4, float("nan"))]
    df = spark.createDataFrame(rows, "idx long, p_value double")
    got = {r["idx"]: r["q_value"] for r in benjamini_hochberg(df).collect()}
    # m = 2 valid p-values: q1 = min(.02*2/1, .04*2/2) = .04, q2 = .04
    assert got[1] == pytest.approx(0.04, abs=1e-12)
    assert got[2] == pytest.approx(0.04, abs=1e-12)
    for idx in (0, 3, 4):
        assert got[idx] is None, idx


# ---- Spark plan: t path agrees with the scalar implementation ------------

def test_spark_t_pvalue_path(spark):
    from etl_for_all_studies_spark.plans.correlation import (
        compute_gene_pair_correlations,
    )

    matrix = {
        1: {f"S{i}": float(v) for i, v in enumerate([1, 2, 3, 4, 6, 5, 7, 9, 8, 10])},
        2: {f"S{i}": float(v) for i, v in enumerate([2, 1, 4, 3, 5, 7, 6, 8, 10, 9])},
        3: {f"S{i}": float(v) for i, v in enumerate([10, 9, 7, 8, 6, 5, 4, 2, 3, 1])},
    }
    rows = [(1, g, s, v) for g, by in matrix.items() for s, v in by.items()]
    df = spark.createDataFrame(
        rows, "study_key long, gene_key long, gsm_accession string, expression_value double"
    )
    out = {
        (r["gene_a_key"], r["gene_b_key"]): r.asDict()
        for r in compute_gene_pair_correlations(
            df, pvalue_dist="t", computed_at="x"
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    for (a, b), row in out.items():
        rho, n = row["rho_spearman"], row["n_samples"]
        t_abs = abs(rho) * math.sqrt((n - 2) / (1 - rho * rho))
        assert row["p_value"] == pytest.approx(t_two_sided_p(t_abs, n - 2), abs=1e-12)
    # t-dist p differs from the normal approximation at n=10 (sanity that the
    # fork actually switches distributions)
    from etl_for_all_studies_spark.plans.correlation import (
        compute_gene_pair_correlations as c2,
    )
    norm_out = {
        (r["gene_a_key"], r["gene_b_key"]): r["p_value"]
        for r in c2(df, pvalue_dist="normal", computed_at="x").collect()
    }
    assert any(
        abs(norm_out[k] - out[k]["p_value"]) > 1e-4
        for k in out
        if 0.0 < out[k]["p_value"] < 1.0
    )


# ---- exact-t as a pure JVM expression (no UDF) ---------------------------

def test_t_pvalue_expr_matches_scalar_grid(spark):
    """spearman_p_value_t_expr (incomplete-beta continued fraction as a
    ``sequence`` fold) vs the scalar lgamma/Lentz oracle across the whole
    (rho, n) envelope — small and large n, both CF symmetric branches,
    knife-edge rhos, plus a 200-point pseudo-random (rho, n) sweep.
    Contract: < 1e-12 absolute."""
    import itertools

    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.functions.stats import spearman_p_value_t_expr

    rhos = [0.0, 1e-8, 0.05, 0.3, -0.3, 0.7, -0.9, 0.99, -0.999, 0.9999, 1.0, -1.0]
    ns = [3, 4, 5, 10, 30, 100, 1000, 100000]
    rows = [(float(r), int(n)) for r, n in itertools.product(rhos, ns)]
    rows += [(0.5, 2), (0.5, 1)]  # n < 3 → NULL
    rows += [
        (math.sin(i * 1.7) * 0.999, 3 + (i * 37) % 500) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "rho double, n long")
    got = df.select(
        "rho", "n", spearman_p_value_t_expr(F.col("rho"), F.col("n")).alias("p")
    ).collect()
    assert len(got) == len(rows)
    for row in got:
        rho, n, p = row["rho"], row["n"], row["p"]
        if n < 3:
            assert p is None, (rho, n)
            continue
        if abs(rho) >= 1.0:
            assert p == 0.0, (rho, n)
            continue
        t_abs = abs(rho) * math.sqrt((n - 2) / (1.0 - rho * rho))
        want = t_two_sided_p(t_abs, n - 2)
        assert p == pytest.approx(want, abs=1e-12), (rho, n, p, want)


def test_lgamma_expr_matches_math(spark):
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.functions.stats import lgamma_expr

    zs = [0.5, 1.0, 1.5, 2.0, 3.7, 10.0, 50.5, 500.0, 50000.5]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {r["z"]: r["lg"] for r in df.select("z", lgamma_expr(F.col("z")).alias("lg")).collect()}
    for z in zs:
        assert got[z] == pytest.approx(math.lgamma(z), rel=1e-12, abs=1e-12)


# ---- hypothesis property sweeps (the env ships hypothesis) ----------------

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:

    @settings(max_examples=200, deadline=None)
    @given(
        rho=st.floats(min_value=-0.999999, max_value=0.999999),
        n=st.integers(min_value=3, max_value=10000),
    )
    def test_t_pvalue_scalar_properties(rho, n):
        """Scalar exact-t oracle: p ∈ [0,1]; symmetric in ±rho; monotone
        non-increasing in |rho| at fixed n."""
        t_abs = abs(rho) * math.sqrt((n - 2) / (1.0 - rho * rho))
        p = t_two_sided_p(t_abs, n - 2)
        assert 0.0 <= p <= 1.0
        t_neg = abs(-rho) * math.sqrt((n - 2) / (1.0 - rho * rho))
        assert t_two_sided_p(t_neg, n - 2) == p
        bigger = min(abs(rho) + 0.0005, 0.9999995)
        t_big = bigger * math.sqrt((n - 2) / (1.0 - bigger * bigger))
        assert t_two_sided_p(t_big, n - 2) <= p + 1e-12

    @settings(max_examples=100, deadline=None)
    @given(
        ps=st.lists(
            st.one_of(
                st.floats(min_value=0.0, max_value=1.0),
                st.none(),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def test_bh_python_reference_properties(ps):
        """BH invariants against a direct sequential implementation:
        q ∈ [p, 1]; q monotone with p-order; NULLs stay NULL. (Pure-Python
        replica of the window formulation — the Spark plan is pinned to it
        elsewhere; hypothesis hammers the edge cases: all-NULL, ties,
        single element, p=0/1.)"""
        valid = sorted(
            [(p, i) for i, p in enumerate(ps) if p is not None]
        )
        m = len(valid)
        q_by_idx = {}
        run_min = 1.0
        for rank in range(m, 0, -1):
            p, idx = valid[rank - 1]
            run_min = min(run_min, min(p * m / rank, 1.0))
            q_by_idx[idx] = run_min
        for i, p in enumerate(ps):
            if p is None:
                assert i not in q_by_idx
                continue
            q = q_by_idx[i]
            assert p - 1e-12 <= q <= 1.0 + 1e-12
        # q respects the p-order (monotone non-decreasing in p)
        qs_sorted = [q_by_idx[i] for _, i in valid]
        assert all(a <= b + 1e-12 for a, b in zip(qs_sorted, qs_sorted[1:]))


def test_welch_t_test_matches_scalar_math_and_exact_t(spark):
    """Welch on a planted two-cohort dataset: t/df match the textbook scalar
    formulas to 1e-9; the exact-t p (native betainc) matches the scalar
    incomplete-beta oracle; degenerate groups (tiny cohort, zero variance)
    gate to NULL."""
    import statistics

    from etl_for_all_studies_spark.functions.stats import (
        _betainc_scalar,
        welch_t_test,
    )

    a_vals = [1.0, 2.5, 3.5, 2.0, 4.0, 2.2, 3.1]
    b_vals = [5.0, 6.5, 4.5, 7.0, 5.5]
    rows = [("g", 0, v) for v in a_vals] + [("g", 1, v) for v in b_vals]
    rows += [("tiny", 0, 1.0), ("tiny", 1, 2.0), ("tiny", 1, 3.0)]   # n_a < 2
    rows += [("flat", 0, 4.0), ("flat", 0, 4.0),
             ("flat", 1, 4.0), ("flat", 1, 4.0)]                     # se2 = 0
    df = spark.createDataFrame(rows, "grp string, cohort int, v double")

    out = {
        r["grp"]: r.asDict()
        for r in welch_t_test(
            df, group_cols=["grp"], cohort_col="cohort", value_col="v",
            cohort_a=0, cohort_b=1, pvalue_dist="t",
        ).collect()
    }
    ma, mb = statistics.fmean(a_vals), statistics.fmean(b_vals)
    va, vb = statistics.variance(a_vals), statistics.variance(b_vals)
    na, nb = len(a_vals), len(b_vals)
    se2 = va / na + vb / nb
    t_ref = (ma - mb) / math.sqrt(se2)
    df_ref = se2 ** 2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    g = out["g"]
    assert g["t_stat"] == pytest.approx(t_ref, abs=1e-9)
    assert g["df_welch"] == pytest.approx(df_ref, abs=1e-9)
    p_ref = _betainc_scalar(df_ref / 2.0, 0.5, df_ref / (df_ref + t_ref ** 2))
    assert g["p_value"] == pytest.approx(p_ref, abs=1e-10)

    for bad in ("tiny", "flat"):
        assert out[bad]["t_stat"] is None and out[bad]["p_value"] is None

    # normal-approx variant agrees with Phi-based scalar math
    norm = {
        r["grp"]: r["p_value"]
        for r in welch_t_test(
            df, group_cols=["grp"], cohort_col="cohort", value_col="v",
            cohort_a=0, cohort_b=1, pvalue_dist="normal",
        ).collect()
    }
    p_norm = 2.0 * (1.0 - NormalDist().cdf(abs(t_ref)))
    assert norm["g"] == pytest.approx(p_norm, abs=1e-6)  # A&S erf ~1.5e-7


def test_mann_whitney_matches_scalar_math(spark):
    """MW-U on planted cohorts incl. cross-cohort ties: U/z/p match the
    textbook scalar formulas (tie-corrected sigma, no continuity
    correction); an all-tied group gates to NULL; a clearly shifted cohort
    yields a small p while Welch on a huge-outlier metric would not."""
    from etl_for_all_studies_spark.functions.stats import mann_whitney_u

    a_vals = [1.0, 2.0, 2.0, 3.0, 5.0]
    b_vals = [2.0, 6.0, 7.0, 8.0]
    rows = [("g", 0, v) for v in a_vals] + [("g", 1, v) for v in b_vals]
    rows += [("flat", 0, 1.0), ("flat", 0, 1.0), ("flat", 1, 1.0)]
    df = spark.createDataFrame(rows, "grp string, cohort int, v double")

    out = {
        r["grp"]: r.asDict()
        for r in mann_whitney_u(
            df, group_cols=["grp"], cohort_col="cohort", value_col="v",
            cohort_a=0, cohort_b=1,
        ).collect()
    }

    # scalar reference
    allv = sorted(a_vals + b_vals)
    def avg_rank(v):
        idxs = [i + 1 for i, x in enumerate(allv) if x == v]
        return sum(idxs) / len(idxs)
    r_a = sum(avg_rank(v) for v in a_vals)
    na, nb = len(a_vals), len(b_vals)
    n = na + nb
    u_a = r_a - na * (na + 1) / 2
    mu = na * nb / 2
    from collections import Counter
    tie3 = sum(t ** 3 - t for t in Counter(a_vals + b_vals).values())
    sigma2 = na * nb / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    z_ref = (u_a - mu) / math.sqrt(sigma2)
    p_ref = 2 * (1 - NormalDist().cdf(abs(z_ref)))

    g = out["g"]
    assert g["u_a"] == pytest.approx(u_a, abs=1e-9)
    assert g["z"] == pytest.approx(z_ref, abs=1e-9)
    assert g["p_value"] == pytest.approx(p_ref, abs=1e-6)  # A&S erf envelope
    assert out["flat"]["z"] is None and out["flat"]["p_value"] is None


def test_poisson_bootstrap_weights_and_ci(spark):
    """Poisson bootstrap: (a) the hash-tape weights replay in pure Python;
    (b) the empirical weight distribution matches Poisson(1) moments;
    (c) the CI brackets the point mean and the analytic SE scale."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.functions.bootstrap import (
        BOOT_A,
        BOOT_B,
        BOOT_C,
        _POISSON1_CDF,
        bootstrap_mean_ci,
        poisson_weight,
    )
    from etl_for_all_studies_spark.functions.hashing import BASE, MOD

    def py_weight(key: str, b: int) -> int:
        h = 0
        for ch in key:
            h = (h * BASE + ord(ch)) % MOD
        x = (h + b * BOOT_C) % MOD
        hb = ((x * x) % MOD * BOOT_A + BOOT_B) % MOD % 1_000_000_000
        u = (hb + 0.5) / 1e9
        for k, cdf in enumerate(_POISSON1_CDF):
            if u < cdf:
                return k
        return 6

    df = spark.createDataFrame(
        [(i, float(i % 50)) for i in range(4000)], "k long, v double"
    )
    fan = df.select(
        "k", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("b")
    ).withColumn("w", poisson_weight(F.col("k"), F.col("b")))
    got = {(r["k"], r["b"]): r["w"] for r in fan.collect()}
    for (k, b), w in list(got.items())[:200]:
        assert w == py_weight(str(k), b)
    ws = list(got.values())
    mean_w = sum(ws) / len(ws)
    assert abs(mean_w - 1.0) < 0.03                      # E[W] = 1
    assert abs(ws.count(0) / len(ws) - 0.3679) < 0.02    # P(W=0) = 1/e

    out = bootstrap_mean_ci(
        df, group_cols=[], key_col="k", value_col="v",
        n_replicates=200,
    ).collect()[0]
    assert out["ci_lo"] < out["mean"] < out["ci_hi"]
    # analytic SE of the mean of Uniform{0..49} over 4000 rows ~ 0.228;
    # the 95% percentile CI width should be ~4 SE (loose envelope 2.5-6 SE)
    import statistics
    se = statistics.pstdev([float(i % 50) for i in range(4000)]) / math.sqrt(4000)
    width = out["ci_hi"] - out["ci_lo"]
    assert 2.5 * se < width < 6 * se


def test_ks_two_sample_matches_scalar_math(spark):
    """K-S on planted cohorts: D equals the scalar ECDF sup-gap (ties
    collapse correctly), identical samples give D=0/p=1, disjoint samples
    give D=1 and a tiny p, and the series p matches the NR scalar form."""
    from etl_for_all_studies_spark.functions.stats import ks_two_sample

    a_vals = [1.0, 2.0, 2.0, 3.0, 4.0, 6.0]
    b_vals = [2.0, 4.0, 5.0, 5.0, 7.0]
    rows = [("g", 0, v) for v in a_vals] + [("g", 1, v) for v in b_vals]
    rows += [("same", 0, 1.0), ("same", 0, 2.0),
             ("same", 1, 1.0), ("same", 1, 2.0)]
    rows += [("disj", 0, 1.0), ("disj", 0, 2.0),
             ("disj", 1, 10.0), ("disj", 1, 11.0)]
    df = spark.createDataFrame(rows, "grp string, cohort int, v double")
    out = {
        r["grp"]: r.asDict()
        for r in ks_two_sample(
            df, group_cols=["grp"], cohort_col="cohort", value_col="v",
            cohort_a=0, cohort_b=1,
        ).collect()
    }

    def ecdf(vals, x):
        return sum(1 for v in vals if v <= x) / len(vals)

    d_ref = max(
        abs(ecdf(a_vals, x) - ecdf(b_vals, x)) for x in sorted(set(a_vals + b_vals))
    )
    g = out["g"]
    assert g["d_stat"] == pytest.approx(d_ref, abs=1e-12)
    ne = len(a_vals) * len(b_vals) / (len(a_vals) + len(b_vals))
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d_ref
    p_ref = 2 * sum(
        (-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam) for k in range(1, 101)
    )
    assert g["p_value"] == pytest.approx(min(max(p_ref, 0.0), 1.0), abs=1e-12)

    assert out["same"]["d_stat"] == 0.0 and out["same"]["p_value"] == 1.0
    assert out["disj"]["d_stat"] == 1.0 and out["disj"]["p_value"] < 0.2


def test_psi_detects_planted_shift(spark):
    """PSI: identical distributions score ~0 (< 0.1 'stable' band); a
    planted location shift scores > 0.25 ('shifted' band); empty-bucket
    epsilon keeps disjoint supports finite; a missing period gates NULL."""
    from etl_for_all_studies_spark.functions.drift import psi

    stable = [("g", "ref", float(i % 100)) for i in range(2000)]
    stable += [("g", "cmp", float((i * 7) % 100)) for i in range(2000)]
    shifted = [("s", "ref", float(i % 100)) for i in range(2000)]
    shifted += [("s", "cmp", 60.0 + float(i % 100)) for i in range(2000)]
    lonely = [("l", "ref", float(i)) for i in range(50)]
    df = spark.createDataFrame(
        stable + shifted + lonely, "grp string, period string, v double"
    )
    out = {
        r["grp"]: r.asDict()
        for r in psi(
            df, group_cols=["grp"], period_col="period", value_col="v",
            ref_period="ref", cmp_period="cmp",
        ).collect()
    }
    assert out["g"]["psi"] < 0.1
    assert out["s"]["psi"] > 0.25
    assert out["s"]["psi"] == out["s"]["psi"]  # finite, not NaN/Inf
    assert out["l"]["psi"] is None and out["l"]["n_cmp"] == 0


def test_cuped_reduces_variance_and_preserves_means(spark):
    """CUPED on correlated planted data: the adjusted metric's variance
    drops by ~rho^2, the group mean is preserved (theta*(X - E[X]) has
    zero mean), no-history units pass through unadjusted, and a
    zero-variance covariate yields theta=0."""
    import random
    import statistics

    from etl_for_all_studies_spark.functions.experiments import cuped_adjust

    rng = random.Random(11)
    rows = []
    for u in range(400):
        x = rng.gauss(10, 2)
        y = 0.8 * x + rng.gauss(0, 1)      # strongly pre-correlated metric
        rows.append(("g", u, x, y))
    rows.append(("g", 9999, None, 5.0))     # no history
    rows += [("flat", 1, 3.0, 1.0), ("flat", 2, 3.0, 9.0)]  # var(X)=0
    df = spark.createDataFrame(rows, "grp string, unit long, pre double, post double")
    out = cuped_adjust(
        df, group_cols=["grp"], unit_col="unit", pre_col="pre", post_col="post"
    )
    g = [r.asDict() for r in out.where("grp = 'g'").collect()]
    posts = [r["post"] for r in g]
    adjs = [r["adjusted"] for r in g]
    assert statistics.fmean(adjs) == pytest.approx(statistics.fmean(posts), abs=1e-9)
    assert statistics.pvariance(adjs) < 0.5 * statistics.pvariance(posts)
    no_hist = next(r for r in g if r["unit"] == 9999)
    assert no_hist["adjusted"] == no_hist["post"]
    flat = out.where("grp = 'flat'").collect()
    assert all(r["theta"] == 0.0 and r["adjusted"] == r["post"] for r in flat)


def test_kaplan_meier_textbook_curve(spark):
    """K-M on the classic worked example (6,6,6,6*,7,9*,10,13: * censored):
    survival steps match the hand-computed product-limit values; censored
    units shrink the risk set without dropping the curve; an all-events
    time drives survival to exact 0 and keeps it there."""
    from etl_for_all_studies_spark.functions.survival import kaplan_meier

    rows = [
        ("g", 6, 1), ("g", 6, 1), ("g", 6, 1), ("g", 6, 0),
        ("g", 7, 1), ("g", 9, 0), ("g", 10, 1), ("g", 13, 1),
    ]
    # terminal zero: at the last time point every remaining unit events
    # (d = n is only reachable at the final time — any longer-lived unit
    # would still be in the risk set), survival lands on exact 0
    rows += [("z", 1, 1), ("z", 2, 1), ("z", 2, 1), ("z", 2, 1)]
    df = spark.createDataFrame(rows, "grp string, d long, e int")
    out = {
        (r["grp"], r["d"]): r.asDict()
        for r in kaplan_meier(
            df, group_cols=["grp"], duration_col="d", event_col="e"
        ).collect()
    }
    s6 = 1 * (1 - 3 / 8)                  # 8 at risk, 3 events
    s7 = s6 * (1 - 1 / 4)                 # 4 remain (censor left too)
    s10 = s7 * (1 - 1 / 2)                # censored at 9 left without event
    s13 = s10 * (1 - 1 / 1)               # last unit dies → 0
    assert out[("g", 6)]["n_risk"] == 8
    assert out[("g", 6)]["survival"] == pytest.approx(s6, abs=1e-12)
    assert out[("g", 7)]["survival"] == pytest.approx(s7, abs=1e-12)
    assert out[("g", 9)]["survival"] == pytest.approx(s7, abs=1e-12)  # censor-only time
    assert out[("g", 10)]["survival"] == pytest.approx(s10, abs=1e-12)
    assert out[("g", 13)]["survival"] == 0.0

    assert out[("z", 1)]["survival"] == pytest.approx(0.75, abs=1e-12)
    assert out[("z", 2)]["survival"] == 0.0


def test_logrank_matches_scalar_math_and_detects_separation(spark):
    """Log-rank on planted curves: identical cohorts give chi2~0/p~1;
    clearly separated survival gives a small p; O-E and V match the
    hand-accumulated hypergeometric terms."""
    from etl_for_all_studies_spark.functions.survival import logrank_test

    sep = [("s", 0, d, 1) for d in (1, 2, 3, 4, 5, 6)]
    sep += [("s", 1, d, 1) for d in (11, 12, 13, 14, 15, 16)]
    same = [("e", c, d, 1) for c in (0, 1) for d in (1, 2, 3)]
    df = spark.createDataFrame(
        sep + same, "fam string, cohort int, dur long, ev int"
    )
    out = {
        r["fam"]: r.asDict()
        for r in logrank_test(
            df, group_cols=["fam"], cohort_col="cohort", duration_col="dur",
            event_col="ev", cohort_a=0, cohort_b=1,
        ).collect()
    }

    # scalar accumulation for the separated family
    units = [(0, d) for d in (1, 2, 3, 4, 5, 6)] + [(1, d) for d in (11, 12, 13, 14, 15, 16)]
    o_e, v = 0.0, 0.0
    for t in sorted({d for _, d in units}):
        na = sum(1 for c, d in units if d >= t and c == 0)
        nb = sum(1 for c, d in units if d >= t and c == 1)
        da = sum(1 for c, d in units if d == t and c == 0)
        dt = sum(1 for _, d in units if d == t)
        n = na + nb
        o_e += da - dt * na / n
        if n > 1:
            v += dt * (na / n) * (1 - na / n) * (n - dt) / (n - 1)
    s = out["s"]
    assert s["o_minus_e"] == pytest.approx(o_e, abs=1e-9)
    assert s["var_oe"] == pytest.approx(v, abs=1e-9)
    assert s["p_value"] < 0.01  # fully separated curves

    e = out["e"]
    assert e["o_minus_e"] == pytest.approx(0.0, abs=1e-9)
    assert e["p_value"] == pytest.approx(1.0, abs=1e-6)


def test_ols_fit_exact_recovery_and_numpy_parity(spark):
    """OLS: (a) exact-linear data recovers the planted coefficients to
    1e-9; (b) noisy grouped data matches numpy lstsq; (c) a singular
    design (constant feature) yields NULLs, not a crash; (d) R² = 1 on
    exact data, in (0,1) on noisy."""
    import random

    import numpy as np

    from etl_for_all_studies_spark.functions.regression import ols_fit

    rng = random.Random(3)
    exact = [
        ("e", x1, x2, 2.0 + 3.0 * x1 - 1.5 * x2)
        for x1, x2 in [(rng.uniform(0, 10), rng.uniform(-5, 5)) for _ in range(40)]
    ]
    noisy = [
        ("n", x1, x2, 1.0 + 0.5 * x1 + 2.0 * x2 + rng.gauss(0, 0.3))
        for x1, x2 in [(rng.uniform(0, 10), rng.uniform(-5, 5)) for _ in range(200)]
    ]
    # constant x1 is collinear with the intercept column → singular X'X
    singular = [("s", 1.0, float(i), float(i)) for i in range(10)]
    df = spark.createDataFrame(
        exact + noisy + singular, "grp string, x1 double, x2 double, y double"
    )
    out = {
        r["grp"]: r.asDict()
        for r in ols_fit(
            df, feature_cols=["x1", "x2"], label_col="y", group_cols=["grp"]
        ).collect()
    }
    e = out["e"]
    assert e["intercept"] == pytest.approx(2.0, abs=1e-9)
    assert e["coef"][0] == pytest.approx(3.0, abs=1e-9)
    assert e["coef"][1] == pytest.approx(-1.5, abs=1e-9)
    assert e["r2"] == pytest.approx(1.0, abs=1e-9)

    nrows = [(x1, x2, y) for g, x1, x2, y in noisy]
    X = np.array([[1.0, x1, x2] for x1, x2, _ in nrows])
    yv = np.array([y for _, _, y in nrows])
    beta = np.linalg.lstsq(X, yv, rcond=None)[0]
    nr = out["n"]
    assert nr["intercept"] == pytest.approx(beta[0], abs=1e-8)
    assert nr["coef"][0] == pytest.approx(beta[1], abs=1e-8)
    assert nr["coef"][1] == pytest.approx(beta[2], abs=1e-8)
    assert 0.9 < nr["r2"] < 1.0

    assert out["s"]["intercept"] is None and out["s"]["coef"] is None


def test_chi2_even_df_sf_matches_scalar_series(spark):
    """The even-df chi-square survival function: exact finite-sum parity
    with scalar math across df 2..10 and a range of x."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.functions.stats import chi2_sf_even_df_expr

    cases = [(x, d) for x in (0.0, 0.5, 1.0, 3.84, 9.49, 25.0) for d in (2, 4, 6, 10)]
    df = spark.createDataFrame(cases, "x double, dof int")
    got = {
        (r["x"], r["dof"]): r["p"]
        for r in df.select(
            "x", "dof",
            chi2_sf_even_df_expr(F.col("x"), F.col("dof") / 2).alias("p"),
        ).collect()
    }
    for x, d in cases:
        half = d // 2
        term, s = 1.0, 1.0
        for k in range(1, half):
            term *= (x / 2) / k
            s += term
        p_ref = min(max(math.exp(-x / 2) * s, 0.0), 1.0)
        assert got[(x, d)] == pytest.approx(p_ref, abs=1e-12), (x, d)


def test_proportions_z_and_chi2_independence(spark):
    """Planted contingency behavior: the z-test flags a real rate gap and
    passes a null one; chi2 independence is ~0 for an independent table and
    large for a dependent one, with the df=2 exact p agreeing with the
    closed form; degenerate single-level tables gate NULL."""
    from etl_for_all_studies_spark.functions.stats import (
        chi2_independence,
        proportions_z_test,
    )

    rows = []
    for i in range(400):  # cohort 0 converts 30%, cohort 1 converts 50%
        rows.append(("gap", 0, 1 if i % 10 < 3 else 0))
        rows.append(("gap", 1, 1 if i % 10 < 5 else 0))
        rows.append(("null", 0, 1 if i % 10 < 4 else 0))
        rows.append(("null", 1, 1 if (i + 5) % 10 < 4 else 0))
    zdf = spark.createDataFrame(rows, "grp string, cohort int, conv int")
    z = {
        r["grp"]: r.asDict()
        for r in proportions_z_test(
            zdf, group_cols=["grp"], cohort_col="cohort", success_col="conv",
            cohort_a=0, cohort_b=1,
        ).collect()
    }
    assert z["gap"]["rate_a"] == pytest.approx(0.3) and z["gap"]["rate_b"] == pytest.approx(0.5)
    assert z["gap"]["p_value"] < 1e-6
    assert z["null"]["p_value"] > 0.9  # identical 40% rates

    # chi2: rows A/B/C vs cols X/Y — dependent table (A→X, B→Y) vs independent
    dep = [("d", "A", "X")] * 50 + [("d", "A", "Y")] * 5
    dep += [("d", "B", "X")] * 5 + [("d", "B", "Y")] * 50
    dep += [("d", "C", "X")] * 27 + [("d", "C", "Y")] * 28
    ind = [("i", r, c) for r in ("A", "B") for c in ("X", "Y") for _ in range(25)]
    deg = [("z", "A", "X"), ("z", "A", "Y")]  # single row level → df 0
    cdf = spark.createDataFrame(dep + ind + deg, "grp string, r string, c string")
    chi = {
        row["grp"]: row.asDict()
        for row in chi2_independence(
            cdf, group_cols=["grp"], row_col="r", col_col="c"
        ).collect()
    }
    assert chi["d"]["df"] == 2 and chi["d"]["p_value"] < 1e-10
    # df=2 exact closed form: P(X>x) = e^{-x/2}
    assert chi["d"]["p_value"] == pytest.approx(
        math.exp(-chi["d"]["chi2"] / 2), abs=1e-12
    )
    assert chi["i"]["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert chi["i"]["p_value"] == pytest.approx(1.0, abs=1e-9)
    assert chi["z"]["df"] is None and chi["z"]["p_value"] is None

    # sparse table with EMPTY cells: [[5,0],[0,5]] — the zero-count cells
    # never appear in the grouped cell table, but each contributes its full
    # expected mass E to chi2. Correct value is 10.0 (perfect association,
    # n=10), NOT 5.0 (the observed-cells-only sum).
    sparse = [("s", "A", "X")] * 5 + [("s", "B", "Y")] * 5
    sdf = spark.createDataFrame(sparse, "grp string, r string, c string")
    s = chi2_independence(
        sdf, group_cols=["grp"], row_col="r", col_col="c"
    ).collect()[0].asDict()
    assert s["chi2"] == pytest.approx(10.0, abs=1e-9)
    # df=1 exact erf form: p = 2(1 - Phi(sqrt(chi2)))
    assert s["p_value"] == pytest.approx(0.001565402, abs=1e-6)


def test_benford_conforming_vs_uniform(spark):
    """Benford screen: log-uniform (multiplicative) data conforms (large p,
    tiny max_dev); uniform data flunks (p ~ 0); digits replay in Python."""
    import random

    from etl_for_all_studies_spark.functions.drift import benford_test

    rng = random.Random(5)
    conforming = [("b", 10 ** rng.uniform(0, 4)) for _ in range(5000)]
    uniform = [("u", rng.uniform(1, 10_000)) for _ in range(5000)]
    df = spark.createDataFrame(conforming + uniform, "grp string, v double")
    got = {
        r["grp"]: r.asDict()
        for r in benford_test(df, group_cols=["grp"], value_col="v").collect()
    }
    assert got["b"]["p_value"] > 0.01 and got["b"]["max_dev"] < 0.02
    assert got["u"]["p_value"] < 1e-6
    assert got["b"]["n"] == 5000

    # fractional magnitudes in (0, 1) are IN scope (0.023 → digit 2) and
    # scale-invariance holds: dividing a conforming sample by 1000 pushes
    # every value below 1 yet must produce the identical digit table.
    frac = [("f", v / 1000.0) for _, v in conforming]
    zeros = [("f", 0.0), ("f", None)]
    fdf = spark.createDataFrame(frac + zeros, "grp string, v double")
    f = benford_test(fdf, group_cols=["grp"], value_col="v").collect()[0].asDict()
    assert f["n"] == 5000  # zero/NULL excluded, fractions kept
    assert f["chi2"] == pytest.approx(got["b"]["chi2"], rel=1e-9)


def test_concentration_gini_hhi_known_distributions(spark):
    """Gini/HHI closed cases: perfectly equal values → gini 0, hhi 1/n;
    one unit owns everything → gini (n−1)/n, hhi 1; ties are
    order-invariant; negative values gate NULL."""
    from etl_for_all_studies_spark.functions.inequality import concentration

    equal = [("eq", i, 5.0) for i in range(10)]
    monop = [("mono", i, 0.0) for i in range(9)] + [("mono", 9, 100.0)]
    neg = [("neg", 0, -1.0), ("neg", 1, 2.0)]
    df = spark.createDataFrame(equal + monop + neg, "grp string, id long, v double")
    got = {
        r["grp"]: r.asDict()
        for r in concentration(
            df, group_cols=["grp"], value_col="v", id_col="id"
        ).collect()
    }
    assert got["eq"]["gini"] == pytest.approx(0.0, abs=1e-12)
    assert got["eq"]["hhi"] == pytest.approx(0.1, abs=1e-12)
    assert got["mono"]["gini"] == pytest.approx(0.9, abs=1e-12)
    assert got["mono"]["hhi"] == pytest.approx(1.0, abs=1e-12)
    assert got["neg"]["gini"] is None and got["neg"]["hhi"] is None


def test_weighted_quantile_known_cases(spark):
    """Weighted quantile: unit weights reduce to the plain left-continuous
    quantile; a dominant weight drags the median to its value; non-positive
    weights are excluded."""
    from etl_for_all_studies_spark.functions.stats import weighted_quantile

    unit = [("u", v, 1.0, i) for i, v in enumerate([1.0, 2.0, 3.0, 4.0])]
    heavy = [("h", 1.0, 1.0, 0), ("h", 2.0, 1.0, 1), ("h", 100.0, 50.0, 2)]
    bad = [("b", 5.0, 0.0, 0), ("b", 7.0, -2.0, 1), ("b", 9.0, 3.0, 2)]
    df = spark.createDataFrame(
        unit + heavy + bad, "grp string, v double, w double, id long"
    )
    got = {
        r["grp"]: r["wq_50"]
        for r in weighted_quantile(
            df, group_cols=["grp"], value_col="v", weight_col="w",
            q=0.5, id_col="id",
        ).collect()
    }
    assert got["u"] == 2.0   # cum shares .25,.5,.75,1 → first ≥ .5 is v=2
    assert got["h"] == 100.0  # 50/52 of the mass sits on the heavy value
    assert got["b"] == 9.0    # only the positive-weight row remains


def test_auc_rank_identity_known_cases(spark):
    """AUC: perfect ranking → 1, inverted → 0, random/constant scores →
    0.5 via tie-averaging, single-class groups gate NULL; parity with a
    direct pairwise P(score+ > score−) + ½·P(tie) computation."""
    from etl_for_all_studies_spark.functions.stats import auc_score

    perfect = [("p", 1, 10.0), ("p", 1, 9.0), ("p", 0, 2.0), ("p", 0, 1.0)]
    inverted = [("i", 0, 10.0), ("i", 0, 9.0), ("i", 1, 2.0), ("i", 1, 1.0)]
    tied = [("t", lab, 5.0) for lab in (1, 1, 0, 0)]
    mixed = [("m", 1, 3.0), ("m", 1, 1.0), ("m", 0, 2.0), ("m", 0, 2.0),
             ("m", 1, 2.0)]
    mono = [("o", 1, 1.0), ("o", 1, 2.0)]
    df = spark.createDataFrame(
        perfect + inverted + tied + mixed + mono,
        "grp string, label int, score double",
    )
    got = {
        r["grp"]: r.asDict()
        for r in auc_score(
            df, group_cols=["grp"], label_col="label", score_col="score"
        ).collect()
    }
    assert got["p"]["auc"] == pytest.approx(1.0, abs=1e-12)
    assert got["i"]["auc"] == pytest.approx(0.0, abs=1e-12)
    assert got["t"]["auc"] == pytest.approx(0.5, abs=1e-12)
    assert got["o"]["auc"] is None

    # pairwise oracle for the mixed group
    pos = [3.0, 1.0, 2.0]
    neg = [2.0, 2.0]
    wins = sum(1 for a in pos for b in neg if a > b)
    ties = sum(1 for a in pos for b in neg if a == b)
    auc_ref = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert got["m"]["auc"] == pytest.approx(auc_ref, abs=1e-12)
