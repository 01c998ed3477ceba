"""The generators are deterministic per seed, and the NumPy reference
agrees with textbook values."""
import math

import numpy as np

from perfbench import gen, reference

SMALL = dict(n_studies=2, n_samples=12, n_genes=30, n_kept=6, n_whitelist=8)


def _tree(root):
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_same_seed_writes_identical_inputs(tmp_path):
    a = gen.write_studies(tmp_path / "a", 5, **SMALL, empty_frac=0.2)
    b = gen.write_studies(tmp_path / "b", 5, **SMALL, empty_frac=0.2)
    assert _tree(a.root) == _tree(b.root)
    for x, y in zip(a.studies, b.studies):
        assert x.genes == y.genes
        np.testing.assert_array_equal(x.matrix, y.matrix)


def test_other_seed_writes_other_inputs(tmp_path):
    a = gen.write_studies(tmp_path / "a", 5, **SMALL)
    b = gen.write_studies(tmp_path / "b", 6, **SMALL)
    assert _tree(a.root) != _tree(b.root)


def test_written_matrix_round_trips_through_the_tsv(tmp_path):
    s = gen.write_studies(tmp_path, 3, **SMALL, empty_frac=0.25)
    study = s.studies[0]
    lines = (s.root / "studies" / study.accession / f"expression_{study.accession}.tsv")
    rows = [line.split("\t") for line in lines.read_text().splitlines()]
    assert rows[0][1:] == study.samples
    by_gene = {r[0]: r[1:] for r in rows[1:]}
    assert len(by_gene) == SMALL["n_genes"]
    for gene, values in zip(study.genes, study.matrix):
        parsed = [float(v) if v else math.nan for v in by_gene[gene]]
        np.testing.assert_array_equal(parsed, values)
    assert s.fact_rows == int(np.isfinite(np.stack([x.matrix for x in s.studies])).sum())


def test_expected_dim_counts(tmp_path):
    s = gen.write_studies(tmp_path, 3, **SMALL)
    counts = gen.expected_dim_counts(s)
    assert counts["dim_study"] == 2
    assert counts["dim_sample"] == 24
    assert counts["dim_illness"] == 3
    assert counts["dim_platform"] == 2
    assert counts["fact_expression"] == 2 * 12 * 6


def test_average_ranks_share_ties():
    np.testing.assert_array_equal(
        reference.average_ranks(np.array([3.0, 1.0, 3.0, 2.0])), [3.5, 1.0, 3.5, 2.0]
    )


def test_pair_stats_gates_and_perfect_rank_agreement():
    a = np.array([1.0, 2.0, 3.0, np.nan, 5.0])
    b = np.array([10.0, 20.0, 30.0, 40.0, np.nan])
    assert reference.pair_stats(a, b) == (1.0, 3)
    assert reference.pair_stats(a, np.array([1.0, 1.0, 1.0, 1.0, 1.0])) is None
    assert reference.pair_stats(a, b, min_samples=4) is None


def test_p_value_follows_the_normal_approximation():
    assert reference.p_value(0.5, 2) is None
    assert reference.p_value(1.0, 10) == 0.0
    t = 0.5 * math.sqrt(8 / 0.75)
    assert abs(reference.p_value(0.5, 10) - math.erfc(t / math.sqrt(2))) < 1e-6


def test_bh_matches_hand_computed_values():
    q = reference.bh_qvalues([0.01, 0.04, 0.03, None, 0.2])
    # m = 4; sorted p = .01 .03 .04 .2 -> raw .04 .06 .0533 .2 -> running min
    assert q[3] is None
    assert [round(v, 6) for v in (q[0], q[2], q[1], q[4])] == [0.04, 0.053333, 0.053333, 0.2]


def test_bh_ties_share_one_q():
    q = reference.bh_qvalues([0.02, 0.02, 0.5])
    assert q[0] == q[1] == 0.03


def test_vectorized_study_reference_equals_the_one_pair_forms():
    rng = np.random.default_rng(0)
    m = rng.integers(0, 20, size=(30, 25)).astype(float)  # many ties
    m[rng.random(m.shape) < 0.2] = np.nan                  # ragged
    m[3] = 5.0                                             # constant gene
    m[7, 2:] = np.nan                                      # n < 3 pairs
    genes = [f"g{i:03d}" for i in rng.permutation(30)]
    got = reference.study_correlations(genes, m)
    rows = []
    idx = sorted(range(30), key=lambda i: genes[i])
    for x, i in enumerate(idx):
        for j in idx[x + 1:]:
            st = reference.pair_stats(m[i], m[j])
            if st is not None:
                rows.append((genes[i], genes[j], st[0], reference.p_value(*st), st[1]))
    qs = reference.bh_qvalues([r[3] for r in rows])
    want = {
        (a, b): (rho, 1.0 if p is None else p, q, n)
        for (a, b, rho, p, n), q in zip(rows, qs)
    }
    assert got.keys() == want.keys()
    for k, (rho, p, q, n) in want.items():
        g = got[k]
        assert g[3] == n
        assert abs(g[0] - rho) < 1e-12 and abs(g[1] - p) < 1e-12
        assert (g[2] is None) == (q is None)
        if q is not None:
            assert abs(g[2] - q) < 1e-12
