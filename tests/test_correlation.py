"""Correlation plan vs pure-Python oracle (reference shape:
``tests/test_correlation.py`` + FIXTURES.md F6)."""
import math

import pytest

from etl_for_all_studies_spark.plans import correlation as corr_mod
from etl_for_all_studies_spark.plans.correlation import compute_gene_pair_correlations
from oracle import all_pairs
from spearman_reference import pair_expanded_stats

CANONICAL = {
    1: {"S1": 1.0, "S2": 2.0, "S3": 3.0},
    2: {"S1": 1.0, "S2": 1.5, "S3": 2.0},
    3: {"S1": 3.0, "S2": 2.0, "S3": 1.0},
}


def _to_df(spark, matrix, study_key=1):
    rows = [
        (study_key, g, s, v)
        for g, by_sample in matrix.items()
        for s, v in by_sample.items()
    ]
    return spark.createDataFrame(
        rows, "study_key long, gene_key long, gsm_accession string, expression_value double"
    )


# Pair builders called directly, each through the shared p → BH tail:
# "exact" is the per-study rank kernel, "reference" the pair-expanded plan
# it replaced (tests/spearman_reference.py).
ROUTES = {"exact": corr_mod._kernel_pairs, "reference": pair_expanded_stats}


def _route(df, route, min_samples=2):
    return corr_mod._correlate(ROUTES[route](df, min_samples), computed_at="x")


def _run(spark, matrix, route=None, min_samples=2):
    """Rows keyed by pair: through the entry point, or one ``route``."""
    df = _to_df(spark, matrix)
    if route is None:
        out = compute_gene_pair_correlations(df, min_samples=min_samples)
    else:
        out = _route(df, route, min_samples=min_samples)
    return {
        (r["gene_a_key"], r["gene_b_key"]): r.asDict()
        for r in out.collect()
    }


@pytest.mark.parametrize("route", ["exact", "reference"])
def test_canonical_three_gene_study(spark, route):
    got = _run(spark, CANONICAL, route=route)
    expected = {(s["gene_a_key"], s["gene_b_key"]): s for s in all_pairs(CANONICAL)}
    assert set(got) == set(expected) == {(1, 2), (1, 3), (2, 3)}
    for key, exp in expected.items():
        g = got[key]
        assert g["n_samples"] == exp["n_samples"] == 3
        assert g["rho_spearman"] == pytest.approx(exp["rho"], abs=1e-12)
        assert g["p_value"] == pytest.approx(exp["p_stored"], abs=2e-7)
        assert g["illness_key"] is None
    assert got[(1, 2)]["rho_spearman"] == 1.0
    assert got[(1, 3)]["rho_spearman"] == -1.0


def test_insufficient_samples_empty(spark):
    matrix = {1: {"S1": 1.0}, 2: {"S2": 2.0}}
    assert _run(spark, matrix) == {}


def test_n2_pair_p_forced_q_null(spark):
    matrix = {1: {"S1": 1.0, "S2": 2.0}, 2: {"S1": 5.0, "S2": 3.0}}
    got = _run(spark, matrix)
    assert set(got) == {(1, 2)}
    row = got[(1, 2)]
    assert row["rho_spearman"] == -1.0
    assert row["p_value"] == 1.0  # NaN p stored as 1.0 (O-39)
    assert row["q_value"] is None  # excluded from BH family (O-40)


def test_constant_series_dropped(spark):
    matrix = {
        1: {"S1": 1.0, "S2": 1.0, "S3": 1.0},
        2: {"S1": 1.0, "S2": 2.0, "S3": 3.0},
        3: {"S1": 3.0, "S2": 1.0, "S3": 2.0},
    }
    got = _run(spark, matrix)
    assert set(got) == {(2, 3)}  # pairs involving constant gene 1 dropped


@pytest.mark.parametrize("route", ["exact", "reference"])
def test_tie_heavy_matches_average_rank_oracle(spark, route):
    matrix = {
        1: {f"S{i}": v for i, v in enumerate([1.0, 1.0, 2.0, 2.0, 3.0, 7.0])},
        2: {f"S{i}": v for i, v in enumerate([2.0, 2.0, 2.0, 5.0, 4.0, 4.0])},
        3: {f"S{i}": v for i, v in enumerate([9.0, 1.0, 1.0, 1.0, 2.0, 3.0])},
    }
    got = _run(spark, matrix, route=route)
    expected = {(s["gene_a_key"], s["gene_b_key"]): s for s in all_pairs(matrix)}
    assert set(got) == set(expected)
    for key, exp in expected.items():
        assert got[key]["rho_spearman"] == pytest.approx(exp["rho"], abs=1e-12), key
        assert got[key]["p_value"] == pytest.approx(exp["p_stored"], abs=2e-7), key
        if exp["q"] is None:
            assert got[key]["q_value"] is None
        else:
            assert got[key]["q_value"] == pytest.approx(exp["q"], abs=1e-6), key


def test_ragged_matrix_exact_mode_intersects_per_pair(spark):
    # gene 3 lacks S3; pair (1,3) must rank over {S1,S2,S4} only
    matrix = {
        1: {"S1": 1.0, "S2": 2.0, "S3": 3.0, "S4": 4.0},
        2: {"S1": 4.0, "S2": 3.0, "S3": 2.0, "S4": 1.0},
        3: {"S1": 2.0, "S2": 9.0, "S4": 5.0},
    }
    got = _run(spark, matrix, route="exact")
    expected = {(s["gene_a_key"], s["gene_b_key"]): s for s in all_pairs(matrix)}
    assert set(got) == set(expected)
    for key, exp in expected.items():
        assert got[key]["n_samples"] == exp["n_samples"]
        assert got[key]["rho_spearman"] == pytest.approx(exp["rho"], abs=1e-12), key


def test_bh_family_larger_study(spark):
    # 6 genes, some noisy: verifies the BH window formulation against the
    # sequential oracle on a family with distinct and tied p-values
    import random

    rng = random.Random(7)
    samples = [f"S{i}" for i in range(12)]
    matrix = {}
    for g in range(1, 7):
        base = [rng.uniform(0, 10) for _ in samples]
        matrix[g] = {s: round(v + g * 0.3 * i, 3) for i, (s, v) in enumerate(zip(samples, base))}
    got = _run(spark, matrix)
    expected = {(s["gene_a_key"], s["gene_b_key"]): s for s in all_pairs(matrix)}
    assert set(got) == set(expected)
    for key, exp in expected.items():
        assert got[key]["rho_spearman"] == pytest.approx(exp["rho"], abs=1e-9), key
        if exp["q"] is None:
            assert got[key]["q_value"] is None, key
        else:
            assert got[key]["q_value"] == pytest.approx(exp["q"], abs=1e-6), key


def test_auto_mode_routes_dense_and_ragged(spark):
    """The entry point must equal the pair-expanded reference form on a mix of
    dense and ragged studies."""
    dense = {g: {f"S{i}": float((g * 7 + i * 3) % 11) for i in range(6)} for g in (1, 2, 3)}
    ragged = {
        1: {"S1": 1.0, "S2": 2.0, "S3": 3.0},
        2: {"S1": 4.0, "S2": 3.0},  # missing S3
    }
    df = _to_df(spark, dense, study_key=1).unionByName(_to_df(spark, ragged, study_key=2))
    exact = {
        (r["study_key"], r["gene_a_key"], r["gene_b_key"]): r.asDict()
        for r in _route(df, "reference").collect()
    }
    auto = {
        (r["study_key"], r["gene_a_key"], r["gene_b_key"]): r.asDict()
        for r in compute_gene_pair_correlations(df).collect()
    }
    assert set(exact) == set(auto)
    for k in exact:
        assert auto[k]["rho_spearman"] == pytest.approx(exact[k]["rho_spearman"], abs=1e-12)
        assert auto[k]["n_samples"] == exact[k]["n_samples"]


def test_randomized_matrices_match_oracle(spark):
    """Randomized sweep: engine output must match the reference-faithful
    pure-Python oracle on matrices with ties, raggedness, and constants."""
    import random

    rng = random.Random(2024)
    for trial in range(8):
        n_genes = rng.randint(2, 6)
        n_samples = rng.randint(2, 8)
        samples = [f"S{i}" for i in range(n_samples)]
        matrix = {}
        for g in range(1, n_genes + 1):
            covered = [s for s in samples if rng.random() > 0.2] or samples[:1]
            # small value domain → frequent ties; occasional constant gene
            domain = [1.0] if rng.random() < 0.15 else [1.0, 2.0, 3.0, 4.5]
            matrix[g] = {s: rng.choice(domain) for s in covered}
        got = _run(spark, matrix, route="exact")
        expected = {
            (s["gene_a_key"], s["gene_b_key"]): s for s in all_pairs(matrix)
        }
        assert set(got) == set(expected), f"trial {trial}: pair sets differ"
        for key, exp in expected.items():
            g = got[key]
            assert g["n_samples"] == exp["n_samples"], (trial, key)
            assert g["rho_spearman"] == pytest.approx(exp["rho"], abs=1e-9), (trial, key)
            assert g["p_value"] == pytest.approx(exp["p_stored"], abs=2e-7), (trial, key)
            if exp["q"] is None:
                assert g["q_value"] is None, (trial, key)
            else:
                assert g["q_value"] == pytest.approx(exp["q"], abs=1e-6), (trial, key)


def test_multi_study_families_independent(spark):
    df1 = _to_df(spark, CANONICAL, study_key=1)
    noisy = {
        1: {"S1": 5.0, "S2": 1.0, "S3": 4.0, "S4": 2.0},
        2: {"S1": 2.0, "S2": 4.0, "S3": 1.0, "S4": 5.0},
    }
    df2 = _to_df(spark, noisy, study_key=2)
    out = compute_gene_pair_correlations(df1.unionByName(df2))
    by_study = {}
    for r in out.collect():
        by_study.setdefault(r["study_key"], []).append(r)
    assert len(by_study[1]) == 3 and len(by_study[2]) == 1
    # BH family for study 1 unaffected by study 2's rows
    exp1 = {(s["gene_a_key"], s["gene_b_key"]): s for s in all_pairs(CANONICAL)}
    for r in by_study[1]:
        exp = exp1[(r["gene_a_key"], r["gene_b_key"])]
        if exp["q"] is None:
            assert r["q_value"] is None
        else:
            assert r["q_value"] == pytest.approx(exp["q"], abs=1e-6)


def test_entry_point_takes_no_plan_selecting_argument():
    """One route serves every study shape, so the entry point takes no
    argument that picks a plan, a block count or a cache scope."""
    import inspect

    sig = inspect.signature(compute_gene_pair_correlations)
    assert list(sig.parameters) == [
        "expression", "min_samples", "computed_at", "pvalue_dist"
    ]


# ---- the per-study rank kernel vs its executable spec ----------------------

_LONG = "study_key long, gene_key long, gsm_accession string, expression_value double"


def _random_studies(seed, n_studies, *, special=False):
    """Ragged multi-study long rows: tie-heavy value domains, duplicated
    (gene, sample) cells, constant genes, 1-sample overlaps and, with
    ``special``, NULL and NaN values."""
    import random

    rng = random.Random(seed)
    rows = []
    for study in range(1, n_studies + 1):
        n_genes, n_samples = rng.randint(2, 7), rng.randint(1, 9)
        for g in range(n_genes):
            gene = 100 + 7 * g
            domain = [1.0] if rng.random() < 0.15 else [1.0, 2.0, 3.0, 4.5, -0.5]
            if special:
                domain = domain + [None, float("nan")]
            for s in range(n_samples):
                copies = rng.choice([0, 1, 1, 1, 2]) if rng.random() < 0.6 else 1
                rows += [
                    (study, gene, f"GSM{s}", rng.choice(domain)) for _ in range(copies)
                ]
    rng.shuffle(rows)
    return rows


def _fact_rows(df):
    return {
        (r["study_key"], r["gene_a_key"], r["gene_b_key"]): r.asDict()
        for r in df.collect()
    }


@pytest.mark.parametrize(
    "min_samples, special, block_elems",
    [
        pytest.param(ms, sp, be, id=f"{ms}-{sp}" + (f"-blk{be}" if be else ""))
        for be in (None, 16)
        for ms in (2, 4)
        for sp in (False, True)
    ],
)
def test_kernel_matches_pair_expanded_form(
    spark, monkeypatch, min_samples, special, block_elems
):
    """The kernel equals the pair-expanded plan it replaced on randomized
    ragged multi-study input: duplicated cells (the self-join's multiset),
    ties, constants, n = 2 pairs (NULL p, NULL q), ``min_samples`` and, with
    ``special``, NULL/NaN values ranked as a Spark window ranks them. ρ
    pins at 1e-12; p and q at 1e-6, since the erf approximation turns a
    one-ulp ρ difference near 0 into ~1e-9 of p. With ``block_elems`` 16
    each gene is its own rank block, so every pair crosses two blocks
    (``ranks(bj, bi)``), the path of every study wider than a few hundred
    genes."""
    if block_elems:
        monkeypatch.setattr(corr_mod, "_KERNEL_BLOCK_ELEMS", block_elems)
    df = spark.createDataFrame(_random_studies(11 + min_samples, 12, special=special), _LONG)
    got = _fact_rows(_route(df, "exact", min_samples))
    want = _fact_rows(_route(df, "reference", min_samples))
    assert got.keys() == want.keys() and len(got) > 20
    for k, w in want.items():
        g = got[k]
        assert g["n_samples"] == w["n_samples"], k
        assert g["rho_spearman"] == pytest.approx(w["rho_spearman"], abs=1e-12), k
        assert g["p_value"] == pytest.approx(w["p_value"], abs=1e-6), k
        if w["q_value"] is None:
            assert g["q_value"] is None, k
        else:
            assert g["q_value"] == pytest.approx(w["q_value"], abs=1e-6), k


def test_kernel_matches_duckdb_oracle(spark):
    """The kernel equals the suite's DuckDB Spearman oracle
    (``suite._spearman_sql``) study by study, on the oracle's 1e-6 grid."""
    import duckdb
    import pandas as pd

    from etl_for_all_studies_spark.suite import _spearman_sql

    rows = _random_studies(5, 8)
    got = _fact_rows(_route(spark.createDataFrame(rows, _LONG), "exact"))
    base = pd.DataFrame(rows, columns=["study", "g", "s", "v"])
    con = duckdb.connect()
    con.register("base_rows", base)
    want = {}
    for study in sorted(base["study"].unique()):
        sql = _spearman_sql(f"SELECT g, s, v FROM base_rows WHERE study = {study}")
        for ga, gb, n, rho, p, q in con.execute(sql).fetchall():
            want[(study, ga, gb)] = (n, rho, p, q)
    assert got.keys() == want.keys() and len(got) > 20
    for k, (n, rho, p, q) in want.items():
        g = got[k]
        assert g["n_samples"] == n, k
        assert g["rho_spearman"] == pytest.approx(rho, abs=1e-6), k
        assert g["p_value"] == pytest.approx(p, abs=1e-6), k
        assert (g["q_value"] is None) == (q is None), k
        if q is not None:
            assert g["q_value"] == pytest.approx(q, abs=1e-6), k


def test_kernel_rows_independent_of_input_order(spark):
    """Reversed or repartitioned input gives bit-identical rows."""
    rows = _random_studies(23, 6, special=True)
    runs = [
        spark.createDataFrame(rows, _LONG),
        spark.createDataFrame(rows[::-1], _LONG),
        spark.createDataFrame(rows, _LONG).repartition(3, "gene_key"),
    ]
    first, *rest = [sorted(map(tuple, _route(df, "exact").collect())) for df in runs]
    assert first and all(r == first for r in rest)


def test_kernel_route_shuffles_cells_once(spark):
    """Plan shape: the kernel's input is one numbered exchange of the cells
    by study_key — no pair-expanded rows, no rank windows. The only other
    exchange carries the kernel's gated pair rows to the BH windows (a
    grouped-map output is a new attribute, so its partitioning is not
    reused)."""
    df = _to_df(spark, CANONICAL)
    plan = _route(df, "exact")._jdf.queryExecution().executedPlan().toString()
    above, below = plan.split("FlatMapGroupsInArrow", 1)
    assert below.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(study_key" in below
    assert "REPARTITION_BY_NUM" in below, plan
    assert above.count("Exchange") == 1, plan
    assert "Window" not in below and "Join" not in plan, plan
