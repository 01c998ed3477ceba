"""Similarity-join auto-router (operators/simjoin.py).

Load-bearing claims: (1) the prefix leg is exact — identical to the
brute-force Jaccard pairs; (2) the LSH leg never emits a wrong pair —
its output is a verified-≥t SUBSET of the exact answer (and equals it
when every clone pair collides in some band); (3) the routing rule is
pure and test-pinnable: EVERY threshold routes by the df profile — the
prefix-cost proxy is max(uniform-placement bound, rarest-mass estimate),
each loose DOWN where the other is loose UP (the r10 t≥0.8 short-circuit
measured ~2.5× wrong at k=5, SCALE.md r11).
"""
import pytest
from pyspark.sql import functions as F

from etl_for_all_studies_spark.operators.dedup import ngram_jaccard_pairs
from etl_for_all_studies_spark.operators.simjoin import (
    choose_jaccard_mode,
    jaccard_pairs_auto,
    profile_shingle_dfs,
    route_jaccard_join,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
TEXTS = [
    BASE,
    BASE,  # exact clone → J = 1
    BASE.replace("quick", "rapid"),
    BASE.replace("fox", "cat").replace("dog", "owl"),
    "completely different content about spark physical plans and shuffles",
    "yet another unrelated document concerning parquet row group statistics",
    "ab",  # < k chars → empty shingle set, must not crash or pair
    "",
]


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _pairs(df):
    return {
        (r.doc_a, r.doc_b, r.common, r.size_a, r.size_b, round(r.jaccard, 9))
        for r in df.collect()
    }


@pytest.mark.parametrize("threshold", [0.35, 0.6, 0.9])
def test_prefix_leg_is_exact(spark, threshold):
    docs = _docs(spark, TEXTS)
    got = _pairs(jaccard_pairs_auto(docs, k=5, threshold=threshold, mode="prefix"))
    want = _pairs(ngram_jaccard_pairs(docs, k=5, threshold=threshold))
    assert got == want


@pytest.mark.parametrize("threshold", [0.35, 0.6])
def test_lsh_leg_is_verified_subset_same_schema(spark, threshold):
    docs = _docs(spark, TEXTS)
    lsh = jaccard_pairs_auto(
        docs, k=5, threshold=threshold, mode="lsh", num_hashes=32, bands=16
    )
    exact = jaccard_pairs_auto(docs, k=5, threshold=threshold, mode="prefix")
    assert lsh.columns == exact.columns
    got, want = _pairs(lsh), _pairs(exact)
    assert got <= want  # candidates verified: no false positives, ever
    # 16 bands × 2 rows: a J≥0.35 pair misses only if all 16 band slices
    # disagree — on this 8-doc fixture every true pair collides somewhere
    assert got == want


def test_auto_matches_its_routed_leg(spark):
    docs = _docs(spark, TEXTS)
    mode = route_jaccard_join(docs, k=5, threshold=0.6)
    auto = _pairs(jaccard_pairs_auto(docs, k=5, threshold=0.6))
    forced = _pairs(jaccard_pairs_auto(docs, k=5, threshold=0.6, mode=mode))
    assert auto == forced


def test_choose_mode_threshold_and_profile_rule():
    # low threshold, tiny vocabulary (hot dfs): (1-t)²·Σdf² > hashes·occ → lsh
    assert (
        choose_jaccard_mode(
            threshold=0.6, total_occurrences=1e6, sum_df2=1.5e9, num_hashes=16
        )
        == "lsh"
    )
    # low threshold, large vocabulary (low dfs): prefix candidates cheap
    assert (
        choose_jaccard_mode(
            threshold=0.6, total_occurrences=1e6, sum_df2=2e7, num_hashes=16
        )
        == "prefix"
    )
    # NO high-threshold short-circuit: a hot enough profile routes LSH
    # even at t=0.9 (the measured sf0.1 k=5 regime, SCALE.md r11)
    assert (
        choose_jaccard_mode(threshold=0.9, total_occurrences=1.0, sum_df2=1e18)
        == "lsh"
    )


def test_choose_mode_max_of_two_estimates():
    """The two prefix-cost estimates are each loose DOWN in one measured
    regime; the max fixes both. Fixtures are the real profiles: sf0.1
    documents at t=0.9 (where uniform alone would wrongly route prefix —
    prefix measured ~2.5× slower) and sf0.01 at t=0.6 (where rarest-mass
    alone would flip the pinned LSH route)."""
    # sf0.1 k=5 t=0.9: occ=1.02e6, Σdf²=1.54e9 → uniform (1-t)²·Σdf²=1.54e7
    # sits UNDER 16·occ=1.63e7 (wrong side, measured); rarest-mass 2.53e7
    # corrects it through the max
    assert (
        choose_jaccard_mode(
            threshold=0.9, total_occurrences=1.02e6, sum_df2=1.54e9,
            num_hashes=16,
        )
        == "prefix"  # uniform alone: the measured mis-route
    )
    assert (
        choose_jaccard_mode(
            threshold=0.9, total_occurrences=1.02e6, sum_df2=1.54e9,
            num_hashes=16, prefix_mass_df2=2.53e7,
        )
        == "lsh"  # max with rarest-mass: routes as measured
    )
    # sf0.01 k=5 t=0.6: occ=1.02e5, Σdf²=1.56e7 → rarest-mass 1.35e6 sits
    # UNDER 16·occ=1.64e6; uniform 2.5e6 keeps the pinned LSH route
    assert (
        choose_jaccard_mode(
            threshold=0.6, total_occurrences=1.02e5, sum_df2=1.56e7,
            num_hashes=16, prefix_mass_df2=1.35e6,
        )
        == "lsh"
    )
    # and the prefix side of the crossover survives the max: sf0.1 k=9
    # t=0.9 (occ=1.39e6, Σdf²=3.73e8, rarest-mass 1.5e6) — the regime
    # where prefix measured 2.4–10× faster
    assert (
        choose_jaccard_mode(
            threshold=0.9, total_occurrences=1.39e6, sum_df2=3.73e8,
            num_hashes=16, prefix_mass_df2=1.5e6,
        )
        == "prefix"
    )


def test_profile_counts_are_exact(spark):
    # 3 docs of one repeated shingle-rich text: profile numbers are checkable
    docs = _docs(spark, ["abcdefgh", "abcdefgh", "xyzuvwpq"])
    prof = profile_shingle_dfs(docs, k=5)
    # "abcdefgh" has 4 distinct 5-shingles (df=2 each), "xyzuvwpq" has 4 (df=1)
    assert prof["vocab"] == 8
    assert prof["total_occurrences"] == 12
    assert prof["sum_df2"] == 4 * 4 + 4 * 1
    # rarest-mass estimate: at t=0.75 the mass target is 0.25·12 = 3 —
    # only the df=1 bucket's preceding cum (0) is under it → Σdf² = 4·1;
    # at t=0.5 the target is 6 — the df=2 bucket crosses it and is
    # included WHOLE (conservative) → the full Σdf² = 20
    assert profile_shingle_dfs(docs, k=5, threshold=0.75)["prefix_mass_df2"] == 4
    assert profile_shingle_dfs(docs, k=5, threshold=0.5)["prefix_mass_df2"] == 20
    # t=1.0: zero mass target → no bucket → 0 (routes prefix: exact dups)
    assert profile_shingle_dfs(docs, k=5, threshold=1.0)["prefix_mass_df2"] == 0
    with pytest.raises(ValueError):
        jaccard_pairs_auto(docs, mode="bogus")


def test_profile_with_rarest_mass_adds_no_jobs(spark):
    """The fused profile derives total/vocab/Σdf² AND the rarest-mass
    estimate from the df-value histogram in ONE action (SCALE.md r11):
    asking for the threshold estimate must launch exactly as many Spark
    jobs as the plain 3-number profile — an extra job would mean the
    shingle-keyed exchange (the profile's only expensive stage) runs
    twice per routed call. Counted via job groups so AQE's stage-split
    job accounting cancels out."""
    docs = _docs(spark, TEXTS)
    sc = spark.sparkContext

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    plain = count_jobs(
        "profile-plain", lambda: profile_shingle_dfs(docs, k=5)
    )
    fused = count_jobs(
        "profile-fused", lambda: profile_shingle_dfs(docs, k=5, threshold=0.6)
    )
    assert plain >= 1
    assert fused == plain, (
        f"threshold profile ran {fused} jobs vs {plain} for the plain "
        "profile — the rarest-mass estimate must ride the same action"
    )


def test_registered_slices_route_as_claimed_at_oracle_sf(spark):
    """The suite's two routed entries claim opposite routes on the SAME
    table at the correctness SF — dedup_jaccard_auto (k=9: large vocab,
    low dfs) routes 'prefix' so its brute-force oracle is exact, and
    dedup_jaccard_auto_lsh (k=5: tiny vocab, huge dfs) routes 'lsh' so its
    banding-replay oracle replays the leg actually taken. Pin both so
    corpus drift that flips a route fails HERE first, with the profile
    numbers in hand."""
    import os

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert route_jaccard_join(docs, k=9, threshold=0.6) == "prefix"
    assert route_jaccard_join(docs, k=5, threshold=0.6) == "lsh"


def test_bands_must_divide_num_hashes_loudly():
    """num_hashes // bands truncation (16//3 → 5 rows/band on 15 of 16
    hashes) silently weakened the banding's recall contract — now a loud
    ValueError everywhere rows_per_band is derived (VERDICT r10 #6)."""
    from etl_for_all_studies_spark.operators.dedup import exact_rows_per_band

    assert exact_rows_per_band(16, 4) == 4
    with pytest.raises(ValueError, match="must divide num_hashes"):
        exact_rows_per_band(16, 3)
    with pytest.raises(ValueError, match="positive"):
        exact_rows_per_band(16, 0)


def test_auto_rejects_non_dividing_bands(spark):
    docs = spark.createDataFrame(
        [(1, "some text here"), (2, "other text here")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="must divide num_hashes"):
        jaccard_pairs_auto(docs, num_hashes=16, bands=3).collect()
