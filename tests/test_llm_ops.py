"""Dedup / similarity / text-analysis operator unit tests (small inline
fixtures with hand-checkable expectations)."""
import math

import pytest
from pyspark.sql import functions as F

from etl_for_all_studies_spark.operators.dedup import (
    exact_duplicates,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from etl_for_all_studies_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_candidates,
    embedding_near_duplicates,
    embedding_near_duplicates_ivf,
    ivf_topk,
)
from etl_for_all_studies_spark.operators.textops import (
    annotate_documents,
    predict_language,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different content about spark engines"),
        (5, "der hund und die katze und das haus und der baum"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = {r["keeper_doc_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert out[1] == 2  # docs 1 and 3 identical, keeper is min(doc_id)
    assert sum(out.values()) == 5


def test_char_shingles_short_and_empty_texts(spark):
    from etl_for_all_studies_spark.functions.hashing import char_shingles

    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None), (4, "abcde"), (5, "abcdef")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", char_shingles(F.col("text"), 5).alias("sh")).collect()
    }
    # len < k (incl. empty/NULL) -> EMPTY shingle set, matching the DuckDB
    # oracle's range(1, greatest(len-4,0)+1); previously sequence(1,0) emitted
    # a spurious truncated shingle so all short docs pairwise "matched"
    assert out[1] == []
    assert out[2] == []
    assert out[3] == []
    assert out[4] == ["abcde"]
    assert out[5] == ["abcde", "bcdef"]


def test_short_docs_never_near_dup_pairs(spark):
    # identical short docs are exact dups, not fuzzy pairs: empty shingle
    # sets must produce NO Jaccard pairs (0/0) instead of J=1.0 for every
    # short-doc pair (quadratic blowup at scale)
    df = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, "cd"), (4, "")],
        "doc_id long, text string",
    )
    assert ngram_jaccard_pairs(df, threshold=0.1).count() == 0
    assert minhash_dedup(df, verify_threshold=0.1).count() == 0


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 3)] == 1.0  # identical
    assert 0.9 < pairs[(1, 2)] < 1.0  # one char appended
    assert (1, 4) not in pairs


def test_minhash_dedup_agrees_with_exact(docs):
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_dedup(docs, verify_threshold=0.5).collect()}
    # identical docs always collide in every band; verified jaccard == 1
    assert (1, 3) in got
    assert all(a < b for a, b in got)
    # sanity on signatures: identical docs → identical signatures
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[3]
    assert sigs[1] != sigs[4]


def test_minhash_bucket_cap_drops_hot_bucket_pairs(spark):
    # The hot-bucket valve (minhash_lsh_candidates max_bucket_size): three
    # identical docs share EVERY band bucket (size 3 > cap 2), so all three
    # pairs vanish under the cap; an unrelated identical PAIR sits in calm
    # size-2 buckets and survives. Uncapped output is the superset.
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "entirely different content about distributed shuffle planning"
    df = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_a), (4, text_b), (5, text_b)],
        "doc_id long, text string",
    )
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup(df, verify_threshold=0.5).collect()
    }
    assert {(1, 2), (1, 3), (2, 3), (4, 5)} <= uncapped
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup(
            df, verify_threshold=0.5, max_bucket_size=2
        ).collect()
    }
    assert capped == {(4, 5)}
    # cap large enough to clear every bucket == exact uncapped behavior
    roomy = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup(
            df, verify_threshold=0.5, max_bucket_size=3
        ).collect()
    }
    assert roomy == uncapped


def test_simhash_identical_docs_zero_hamming(docs):
    fps = simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals[1] == vals[3]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(fps, max_hamming=1, bands=2).collect()
    }
    assert pairs[(1, 3)] == 0


def test_brute_force_topk_ranks_by_cosine(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.7, 0.7]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = brute_force_topk(vecs.where("vec_id = 0"), vecs, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 3, 2]
    sims = {r["neighbor_id"]: r["cos_sim"] for r in out}
    assert sims[1] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01), abs=1e-6)


def test_ivf_topk_subset_of_bruteforce(spark):
    import random

    rng = random.Random(0)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = vecs.where("vec_id < 6").select(
        F.col("vec_id").alias("cell"), "embedding"
    )
    queries = vecs.where("vec_id < 3")
    ivf = ivf_topk(queries, vecs, centroids, k=3, n_probes=6)
    brute = brute_force_topk(queries, vecs, k=3)
    # with n_probes == all cells, IVF degenerates to exact search
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ivf.collect()}
    exp = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in brute.collect()}
    assert got == exp


def _clustered_vectors(spark, *, n_clusters=4, per_cluster=25, dim=8, noise=0.02):
    """Near-dup-rich fixture: each cluster is a basis direction + tiny noise,
    so same-cluster pairs have cosine ≈ 1 and cross-cluster pairs ≈ 0."""
    import random

    rng = random.Random(7)
    rows = []
    for c in range(n_clusters):
        for j in range(per_cluster):
            v = [rng.uniform(-noise, noise) for _ in range(dim)]
            v[c] += 1.0
            rows.append((c * per_cluster + j, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_near_dup_matches_brute_force_on_clustered_data(spark):
    """On data with actual near-dup structure, the IVF-bucketed operator is
    EXACT: every same-cluster pair shares its nearest cell, so recall is 100%
    and the verified cosines are identical to the brute-force form."""
    vecs = _clustered_vectors(spark)
    # centroids: one representative per cluster (first member)
    centroids = vecs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") / 25).cast("long").alias("cell"), "embedding"
    )
    brute = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_near_duplicates(vecs, threshold=0.95).collect()
    }
    ivf = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_near_duplicates_ivf(
            vecs, centroids, threshold=0.95, n_probes=2
        ).collect()
    }
    assert set(brute) == set(ivf)
    assert len(brute) == 4 * (25 * 24) // 2  # all same-cluster pairs
    for k in brute:
        assert ivf[k] == pytest.approx(brute[k], abs=1e-12)


def test_ivf_near_dup_candidates_far_below_n_squared(spark):
    """The scale claim: candidate volume is Σ|cell|² over probe cells, not
    n²/2 — on clustered data with C clusters it is ~(n_probes·n/C)²·C/2."""
    vecs = _clustered_vectors(spark)
    centroids = vecs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") / 25).cast("long").alias("cell"), "embedding"
    )
    candidates, _ = embedding_near_dup_candidates(vecs, centroids, n_probes=1)
    n = vecs.count()
    n_cand = candidates.count()
    all_pairs = n * (n - 1) // 2  # 4950
    # single-probe on clean clusters: cells == clusters exactly, so the
    # candidate set is precisely the 4·C(25,2) = 1200 same-cluster pairs —
    # 24% of all-pairs here, and (n_probes·n/C)²·C/2 / (n²/2) = 1/C in
    # general: the ratio shrinks as the centroid count grows
    assert n_cand == 4 * (25 * 24) // 2
    assert n_cand < all_pairs


def test_text_annotations(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und das haus"),
            (3, "!!! ??? ..."),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in annotate_documents(docs).collect()}
    assert rows[1]["predicted_lang"] == "en"
    assert rows[2]["predicted_lang"] == "de"
    assert rows[3]["predicted_lang"] == "und"
    assert rows[1]["n_tokens"] == 8
    assert rows[4]["n_tokens"] == 0 and rows[4]["quality"] == pytest.approx(0.3)
    assert rows[3]["punct_ratio"] > 0.5
    assert rows[1]["fingerprint"] != rows[2]["fingerprint"]
    # fingerprint is whitespace-normalization invariant
    docs2 = spark.createDataFrame(
        [(10, "the   cat and the dog  of the house")], "doc_id long, text string"
    )
    fp2 = annotate_documents(docs2).collect()[0]["fingerprint"]
    assert fp2 == rows[1]["fingerprint"]


def test_approx_count_distinct_within_bound(spark):
    """Sketch aggregates are the at-scale path for distinct counts (exact
    count_distinct shuffles every value; HLL++ merges fixed-size sketches).
    Pin the accuracy contract: default rsd=5%, assert within 3x of that."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    row = docs.agg(
        F.count_distinct("text").alias("exact"),
        F.approx_count_distinct("text").alias("approx"),
    ).first()
    assert row.approx == pytest.approx(row.exact, rel=0.15)


def test_kmeans_separates_blobs_and_converges(spark):
    from etl_for_all_studies_spark.operators.similarity import (
        kmeans_fit,
        kmeans_predict,
    )

    # Init is the two lowest ids — one seeded in each blob by construction.
    blob_a = [(0, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 1.0])]
    blob_b = [(1, [10.0, 10.0]), (5, [11.0, 10.0]), (6, [10.0, 11.0]), (7, [11.0, 11.0])]
    df = spark.createDataFrame(
        blob_a + blob_b, "vec_id long, embedding array<double>"
    )
    cent = kmeans_fit(df, k=2, n_iter=2)
    cents = {r["cell"]: r["c"] for r in cent.collect()}
    assert cents[0] == pytest.approx([0.5, 0.5])
    assert cents[1] == pytest.approx([10.5, 10.5])

    asg = {r["vec_id"]: r["cell"] for r in kmeans_predict(df, cent).collect()}
    assert all(asg[i] == 0 for i, _ in blob_a)
    assert all(asg[i] == 1 for i, _ in blob_b)


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    from etl_for_all_studies_spark.operators.similarity import kmeans_fit

    # vec 2 duplicates vec 0: equidistant points tie-break to the lowest
    # cell, so cell 2 ends empty and must retain its init centroid.
    rows = [(0, [0.0, 0.0]), (1, [5.0, 5.0]), (2, [0.0, 0.0]), (3, [5.0, 6.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {r["cell"]: r["c"] for r in kmeans_fit(df, k=3, n_iter=2).collect()}
    assert cents[2] == pytest.approx([0.0, 0.0])   # unchanged init
    assert cents[0] == pytest.approx([0.0, 0.0])   # mean of vecs 0 and 2
    assert cents[1] == pytest.approx([5.0, 5.5])   # mean of vecs 1 and 3


def test_kmeans_assignment_broadcasts_centroids(spark):
    from etl_for_all_studies_spark.operators.similarity import kmeans_predict

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])], "cell long, c array<double>"
    )
    plan = kmeans_predict(df, cent)._jdf.queryExecution().executedPlan().toString()
    # centroid fan-out must ride a broadcast (nested-loop on the keyless
    # join) — a shuffle here would re-partition the full vector table per
    # iteration
    assert "Broadcast" in plan, plan


def test_approx_percentile_within_bound(spark):
    """percentile_approx (GK sketch) is the at-scale quantile path (exact
    percentile sorts every group). Pin the accuracy contract: with
    accuracy=10000 the rank error is ≤ n/10000, so on this data the p50/p90
    estimates must land within a whisker of the exact interpolated values."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    lens = docs.select(F.length("text").cast("double").alias("n"))
    row = lens.agg(
        F.expr("percentile(n, array(0.5, 0.9))").alias("exact"),
        F.expr("percentile_approx(n, array(0.5, 0.9), 10000)").alias("approx"),
    ).first()
    for e, a in zip(row.exact, row.approx):
        assert a == pytest.approx(e, rel=0.02), (row.exact, row.approx)


def test_incremental_minhash_matches_full_run_filtered(spark):
    """The incremental path must find exactly the pairs a full re-dedup
    would find that touch the new batch — no more (no seen×seen), no less."""
    from etl_for_all_studies_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),                                  # seen
        (2, base.replace("dog", "cat")),            # seen near-dup of 1
        (10, base + " extra"),                      # new ~ near-dup of 1
        (11, base + " extra"),                      # new exact dup of 10
        (12, "completely unrelated text with nothing shared at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seen = docs.where(F.col("doc_id") < 10)
    new = docs.where(F.col("doc_id") >= 10)

    incr = {
        (r["doc_a"], r["doc_b"]): r["vs_seen"]
        for r in incremental_minhash_dedup(new, seen, bands=2).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup(docs, bands=2).collect()
        if r["doc_b"] >= 10  # pairs touching the new batch
    }
    assert set(incr) == full
    assert all(a < 10 and b >= 10 if flag else a >= 10
               for (a, b), flag in incr.items())
    assert (10, 11) in incr and incr[(10, 11)] == 0   # new×new exact pair
    assert any(flag == 1 for flag in incr.values())   # found new×seen pairs


def test_ivf_near_dup_recall_on_boundary_planted_pairs(spark):
    """Adversarial recall contract (VERDICT r2 item 8): near-dup pairs
    planted ON centroid boundaries — each member nudged toward a *different*
    centroid, so with n_probes=1 the two sides of a pair land in different
    cells and the pair is unreachable. Multi-probing (n_probes=2) must
    recover them: both members' probe sets become {cell_a, cell_b}, which
    intersect. Asserts the recall curve the operator's docstring claims:
    recall@1 < 1 on this fixture (the failure mode is real, the test would
    catch a silent fix-by-accident) and recall@2 = 1.0 ≥ the 0.95 target."""
    import random

    dim, n_cent = 8, 4
    eps = 0.01
    rng = random.Random(11)
    rows = []
    planted = []
    nid = 1000
    for c in range(n_cent):
        c2 = (c + 1) % n_cent
        for _ in range(5):  # 20 boundary pairs
            base = [0.0] * dim
            base[c] = 1.0 / math.sqrt(2.0)
            base[c2] = 1.0 / math.sqrt(2.0)
            jitter = [rng.uniform(-1e-4, 1e-4) for _ in range(dim)]
            va = [b + j for b, j in zip(base, jitter)]
            vb = [b + j for b, j in zip(base, jitter)]
            va[c] += eps     # member A leans to centroid c
            vb[c2] += eps    # member B leans to centroid c2
            rows += [(nid, va), (nid + 1, vb)]
            planted.append((nid, nid + 1))
            nid += 2
    # ballast: clean cluster members (never near-dup with the boundary pairs)
    for c in range(n_cent):
        for j in range(10):
            v = [rng.uniform(-0.02, 0.02) for _ in range(dim)]
            v[c] += 1.0
            rows.append((c * 10 + j, v))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = spark.createDataFrame(
        [(c, [1.0 if i == c else 0.0 for i in range(dim)]) for c in range(n_cent)],
        "cell long, embedding array<float>",
    )

    brute = {
        (r["doc_a"], r["doc_b"])
        for r in embedding_near_duplicates(vecs, threshold=0.95).collect()
    }
    assert set(planted) <= brute  # the planted pairs really are near-dups

    def recall(n_probes: int) -> float:
        ivf = {
            (r["doc_a"], r["doc_b"])
            for r in embedding_near_duplicates_ivf(
                vecs, centroids, threshold=0.95, n_probes=n_probes
            ).collect()
        }
        assert ivf <= brute  # candidates are verified — no false positives
        return len(ivf & brute) / len(brute)

    r1, r2 = recall(1), recall(2)
    assert r1 < 1.0, "boundary fixture failed to defeat single-probe"
    assert r2 == 1.0  # ≥ 0.95 target; exact on this fixture


# ---- scalar quantization (SQ8) -------------------------------------------

def test_scalar_quantization_roundtrip_error_bounded(spark):
    """Reconstruction error is bounded by half a quantization step per
    dimension: |x − decode(encode(x))| ≤ (hi−lo)/255/2 + grid epsilon."""
    import random

    from etl_for_all_studies_spark.operators.quantization import (
        dequantize_embeddings,
        fit_scalar_quantizer,
        quantize_embeddings,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-2.0, 3.0) for _ in range(16)]) for i in range(100)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = fit_scalar_quantizer(vecs)
    bounds = {r["pos"]: (r["lo"], r["hi"]) for r in q.collect()}
    codes = quantize_embeddings(vecs, q)
    recon = {
        r["vec_id"]: r["embedding"]
        for r in dequantize_embeddings(codes, q).collect()
    }
    orig = dict(rows)
    step = max((hi - lo) / 255.0 for lo, hi in bounds.values())
    for vid, xs in orig.items():
        for x, r in zip(xs, recon[vid]):
            assert abs(x - r) <= step / 2 + 1e-5, (vid, x, r)


def test_scalar_quantization_codes_in_range_and_deterministic(spark):
    from etl_for_all_studies_spark.operators.quantization import (
        fit_scalar_quantizer,
        quantize_embeddings,
    )

    vecs = spark.createDataFrame(
        [(1, [0.0, 5.0, 7.5]), (2, [1.0, 5.0, 2.5]), (3, [2.0, 5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = fit_scalar_quantizer(vecs)
    got = {r["vec_id"]: r["codes"] for r in quantize_embeddings(vecs, q).collect()}
    # dim 1: lo=0 hi=2 -> codes 0, 128 (round .5 up), 255
    # dim 2: degenerate (hi == lo) -> 0
    # dim 3: lo=0 hi=7.5 -> 255, 85, 0
    assert got[1] == [0, 0, 255]
    assert got[2] == [128, 0, 85]
    assert got[3] == [255, 0, 0]
    rerun = {r["vec_id"]: r["codes"] for r in quantize_embeddings(vecs, q).collect()}
    assert rerun == got


def test_quantized_cosine_preserves_neighbor_ranking(spark):
    """The ANN-candidate use case: top-1 neighbor by quantized-reconstructed
    cosine matches the full-precision top-1 on well-separated clusters."""
    from etl_for_all_studies_spark.operators.quantization import (
        dequantize_embeddings,
        fit_scalar_quantizer,
        quantize_embeddings,
    )
    from etl_for_all_studies_spark.operators.similarity import brute_force_topk

    vecs = _clustered_vectors(spark, n_clusters=3, per_cluster=10, dim=8)
    q = fit_scalar_quantizer(vecs)
    recon = dequantize_embeddings(quantize_embeddings(vecs, q), q)
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(vecs.limit(5), vecs, k=1).collect()
    }
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(recon.limit(5), recon, k=1).collect()
    }
    # same cluster (id // 10) even if the exact neighbor id differs by ties
    assert {k: v // 10 for k, v in exact.items()} == {
        k: v // 10 for k, v in approx.items()
    }


# ---- heavy hitters (Misra–Gries + exact recount) --------------------------

def test_misra_gries_decrement_logic_keeps_heavy_items(spark):
    """m smaller than the vocabulary forces the decrement-all step: the
    guaranteed-heavy item (freq > n/(m+1)) must survive every partition."""
    from etl_for_all_studies_spark.operators.heavyhitters import (
        misra_gries_candidates,
    )

    # one partition: 60× "hot" interleaved with 120 distinct cold items
    rows = []
    for i in range(60):
        rows.append(("hot",))
        rows.append((f"cold_{2 * i}",))
        rows.append((f"cold_{2 * i + 1}",))
    items = spark.createDataFrame(rows, "item string").coalesce(1)
    cands = {
        r["item"]
        for r in misra_gries_candidates(items, m=4).collect()
    }
    assert "hot" in cands  # freq 60 > 180/5 = 36 → MG must keep it
    assert len(cands) <= 4


def test_heavy_hitters_exact_topk_with_small_m(spark):
    """End-to-end: skewed stream, m far below vocabulary, result must equal
    the exact top-k (the recount repairs MG's under-estimates) and the k-th
    count must clear the reported support bound."""
    from etl_for_all_studies_spark.operators.heavyhitters import heavy_hitters

    rows = []
    for rank, freq in enumerate((500, 300, 200, 100)):
        rows += [(f"heavy_{rank}",)] * freq
    rows += [(f"tail_{i}",) for i in range(400)]  # 400 singletons
    items = spark.createDataFrame(rows, "item string").repartition(8)
    got = heavy_hitters(items, k=4, m=32).collect()
    by_rank = {r["rank"]: r for r in got}
    assert [by_rank[i]["item"] for i in (1, 2, 3, 4)] == [
        "heavy_0", "heavy_1", "heavy_2", "heavy_3",
    ]
    assert [by_rank[i]["cnt"] for i in (1, 2, 3, 4)] == [500, 300, 200, 100]
    assert by_rank[4]["cnt"] > by_rank[4]["support_bound"]  # contract holds


# ---- composed embedding curation plan ------------------------------------

def test_curate_embeddings_composition(spark):
    """The composed plan's audit surface is self-consistent: every vector is
    clustered, keepers are cluster minima, kept codes cover exactly the
    keepers, and a planted near-dup pair collapses to one keeper."""
    from etl_for_all_studies_spark.caching import CacheScope
    from etl_for_all_studies_spark.plans.embedding_curation import curate_embeddings

    vecs = _clustered_vectors(spark, n_clusters=4, per_cluster=10, dim=8, noise=0.001)
    cents = vecs.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") / 10).cast("long").alias("cell"), "embedding"
    )
    spark.catalog.clearCache()
    # localCheckpoint RDDs from earlier tests (connected components) are not
    # SQL-cache entries: clearCache() ignores them and they linger until the
    # ContextCleaner GCs them — so assert "no NEW persisted RDDs leak" rather
    # than a global zero, which is flaky under full-suite ordering.
    before = {
        rid
        for rid in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    with CacheScope() as scope:
        res = curate_embeddings(vecs, cents, threshold=0.95, n_probes=2, scope=scope)
        clusters = {r["vec_id"]: r.asDict() for r in res.clusters.collect()}
        kept = {r["vec_id"]: r.asDict() for r in res.kept_codes.collect()}
    after = {
        rid
        for rid in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert after - before == set()
    assert len(clusters) == 40  # every vector clustered (singletons included)
    # tight clusters at threshold 0.95: each 10-vector basis cluster is one
    # component with keeper = min id
    keepers = {v["cluster_id"] for v in clusters.values()}
    assert keepers == {0, 10, 20, 30}
    assert set(kept) == keepers
    for vid, row in kept.items():
        assert row["cluster_size"] == 10
    for vid, row in clusters.items():
        assert row["is_keeper"] == (1 if vid in keepers else 0)


def test_standardize_vectors_stats_and_frozen_serving(spark):
    """Standardization: per-dim z-scores have mean~0/std~1, zero-variance
    dims surface as NULL, and a new batch standardized against FROZEN stats
    uses the training distribution, not its own."""
    import math

    from etl_for_all_studies_spark.operators.scaling import (
        dimension_stats,
        standardize_vectors,
    )

    rows = [(i, [float(i), 5.0, 10.0 * i]) for i in range(10)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = dimension_stats(vecs)
    assert stats[0][0] == 4.5 and abs(stats[0][1] - math.sqrt(8.25)) < 1e-12
    assert stats[1] == (5.0, 0.0)  # constant dim

    z = {r["vec_id"]: r["z"] for r in standardize_vectors(vecs).collect()}
    col0 = [z[i][0] for i in range(10)]
    assert abs(sum(col0)) < 1e-9
    assert all(z[i][1] is None for i in range(10))  # dead dim → NULL
    # dims 0 and 2 are perfectly correlated → identical z
    assert all(abs(z[i][0] - z[i][2]) < 1e-9 for i in range(10))

    new_batch = spark.createDataFrame(
        [(100, [4.5, 5.0, 45.0])], "vec_id long, embedding array<double>"
    )
    served = standardize_vectors(new_batch, stats=stats).collect()[0]["z"]
    assert served[0] == 0.0 and served[2] == 0.0  # frozen mean maps to 0


def test_incremental_embedding_ivf_matches_full_run_on_new_pairs(spark):
    """The incremental form must equal the full IVF run filtered to pairs
    touching the new batch — and contain no seen×seen pair (the cost claim
    is that those are never even candidates)."""
    from etl_for_all_studies_spark.operators.similarity import (
        embedding_near_duplicates_ivf,
        embedding_near_duplicates_ivf_incremental,
    )

    vecs = _clustered_vectors(spark)
    centroids = vecs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") / 25).cast("long").alias("cell"), "embedding"
    )
    new = vecs.where(F.col("vec_id") % 4 == 0)
    seen = vecs.where(F.col("vec_id") % 4 != 0)

    full = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_near_duplicates_ivf(
            vecs, centroids, threshold=0.95, n_probes=2
        ).collect()
    }
    expected = {
        pair: sim for pair, sim in full.items()
        if pair[0] % 4 == 0 or pair[1] % 4 == 0
    }
    got = {
        (r["doc_a"], r["doc_b"]): (r["cos_sim"], r["vs_seen"])
        for r in embedding_near_duplicates_ivf_incremental(
            new, seen, centroids, threshold=0.95, n_probes=2
        ).collect()
    }
    assert {p: s for p, (s, _) in got.items()} == expected
    for (a, b), (_, vs) in got.items():
        assert vs == (0 if (a % 4 == 0 and b % 4 == 0) else 1)
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in got)  # no seen×seen


def test_hll_sketches_merge_and_accuracy(spark):
    """Mergeable distinct sketches: (a) union-of-batch-sketches estimates
    the same set as one global sketch (bit-for-bit equal estimates — merge
    is lossless over the same lgK); (b) estimates sit within the published
    ~2% envelope of exact; (c) rollup happens over stored sketches without
    touching raw rows."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.sketches import (
        estimate,
        merge_sketches,
        sketch_distinct,
    )

    df = spark.range(0, 60_000).select(
        (F.col("id") % 20_000).alias("user"),
        (F.col("id") % 4).alias("batch"),
        ((F.col("id") % 8) < 4).cast("string").alias("half"),
    )
    per_batch = sketch_distinct(
        df, group_cols=["half", "batch"], value_col="user"
    )
    assert per_batch.count() == 8

    rolled = merge_sketches(per_batch, group_cols=["half"])
    got = {
        r["half"]: r["est"]
        for r in rolled.select("half", estimate(F.col("sketch")).alias("est")).collect()
    }
    exact = {
        r["half"]: r["n"]
        for r in df.groupBy("half")
        .agg(F.count_distinct("user").alias("n"))
        .collect()
    }
    for h, est_val in got.items():
        assert abs(est_val - exact[h]) / exact[h] < 0.02, (h, est_val, exact[h])

    # merge losslessness: rollup estimate == single global sketch estimate
    direct = {
        r["half"]: r["est"]
        for r in sketch_distinct(df, group_cols=["half"], value_col="user")
        .select("half", estimate(F.col("sketch")).alias("est"))
        .collect()
    }
    assert got == direct


def test_theta_sketch_set_algebra_retention(spark):
    """Theta sketches answer what HLL can't: |A∩B| and |A\\B| from STORED
    per-period sketches. Planted overlap: period A users 0..999, period B
    users 500..1499 → overlap 500, A-only 500 (within sketch error)."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.sketches import (
        theta_distinct,
        theta_only_in_first,
        theta_overlap,
    )

    rows = [(u, "A") for u in range(1000)] + [(u, "B") for u in range(500, 1500)]
    df = spark.createDataFrame(rows, "user long, period string")
    sk = theta_distinct(df, group_cols=["period"], value_col="user")
    wide = (
        sk.where("period = 'A'").select(F.col("theta").alias("ta"))
        .crossJoin(sk.where("period = 'B'").select(F.col("theta").alias("tb")))
    )
    got = wide.select(
        theta_overlap(F.col("ta"), F.col("tb")).alias("both"),
        theta_only_in_first(F.col("ta"), F.col("tb")).alias("only_a"),
    ).collect()[0]
    assert abs(got["both"] - 500) / 500 < 0.05
    assert abs(got["only_a"] - 500) / 500 < 0.05


def test_kll_quantile_sketches_merge_and_match_exact(spark):
    """KLL quantile sketches: per-batch sketches merged per group read
    quantiles close to the exact percentile; merge happens over stored
    sketches (no raw re-scan)."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.sketches import (
        merge_quantile_sketches,
        quantile_estimate,
        quantile_sketch,
    )

    df = spark.range(0, 100_000).select(
        (F.col("id") % 10).alias("batch"),
        (F.col("id") % 2).alias("grp"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    per_batch = quantile_sketch(df, group_cols=["grp", "batch"], value_col="v")
    rolled = merge_quantile_sketches(per_batch, group_cols=["grp"])
    got = {
        r["grp"]: (r["p50"], r["p99"])
        for r in rolled.select(
            "grp",
            quantile_estimate(F.col("kll"), 0.5).alias("p50"),
            quantile_estimate(F.col("kll"), 0.99).alias("p99"),
        ).collect()
    }
    exact = {
        r["grp"]: (r["p50"], r["p99"])
        for r in df.groupBy("grp").agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.99)").alias("p99"),
        ).collect()
    }
    for g in (0, 1):
        assert abs(got[g][0] - exact[g][0]) <= 20   # ~2% of the 0..999 range
        assert abs(got[g][1] - exact[g][1]) <= 20


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a 5x-longer one: containment = 1.0 and
    the short side is flagged 'contained', while the Jaccard score for the
    same pair sits near |A|/|B| and a 0.5-threshold Jaccard dedup misses it."""
    from etl_for_all_studies_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the unique quoted passage appears here word for word exactly"
    filler = " ".join(f"filler{i} content segment" for i in range(40))
    rows = [
        (1, short),
        (2, filler + " " + short + " " + filler[::-1]),
        (3, "unrelated text about completely other things and matters"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {
        (r["doc_a"], r["doc_b"]): r.asDict()
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in cont
    assert cont[(1, 2)]["containment"] == 1.0
    assert cont[(1, 2)]["contained"] == 1  # the short doc is the droppable one
    assert all(3 not in pair for pair in cont)

    jac = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac  # the score Jaccard-threshold dedup misses


def test_linear_classifier_scores_match_python_reference(spark):
    """Classifier inference = sigmoid(mean of hashed-bucket weights): pinned
    against a direct Python reimplementation (same portable hash), including
    absent-bucket→0 and the mean-pool length invariance."""
    from etl_for_all_studies_spark.operators.classifier import (
        demo_weights,
        linear_classifier_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "THE  QUICK   BROWN FOX"),  # case/space noise, same tokens
            (3, "lorem ipsum dolor sit amet consectetur"),
            (4, "single"),
            (5, "single single single single"),  # mean-pool: same score as 4
        ],
        "doc_id long, text string",
    )
    n_feat = 64  # small space → guaranteed collisions exercised
    w = demo_weights(spark, n_features=n_feat)
    got = {
        r["doc_id"]: (r["n_tokens"], r["score"])
        for r in linear_classifier_scores(docs, w, n_features=n_feat).collect()
    }

    def poly(s):
        h = 0
        for c in s:
            h = (h * 131 + ord(c)) % 1_000_000_007
        return h

    def weight(f):
        return ((f * 2654435761) % 1000003) / 1000003.0 - 0.5

    import math

    for doc_id, text in [(1, "the quick brown fox"),
                         (3, "lorem ipsum dolor sit amet consectetur"),
                         (4, "single")]:
        toks = text.lower().split()
        s = sum(weight(poly(t) % n_feat) for t in toks)
        exp = 1.0 / (1.0 + math.exp(-(s / len(toks))))
        assert got[doc_id][0] == len(toks)
        assert got[doc_id][1] == pytest.approx(exp, abs=1e-12), doc_id
    # tokenizer normalization: whitespace/case noise scores identically
    assert got[2] == got[1]
    # mean pooling: repeating one token leaves the score unchanged
    assert got[5][1] == pytest.approx(got[4][1], abs=1e-12)
    assert got[5][0] == 4


def test_linear_classifier_absent_buckets_default_zero(spark):
    from etl_for_all_studies_spark.operators.classifier import (
        linear_classifier_scores,
    )

    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    empty_w = spark.createDataFrame([], "feat long, weight double")
    rows = linear_classifier_scores(docs, empty_w, n_features=16).collect()
    assert rows[0]["score"] == pytest.approx(0.5, abs=1e-12)  # sigmoid(0)


def test_leakage_safe_splits_never_straddle_duplicate_groups(spark):
    """The property the query exists for: canonical-duplicate docs ALWAYS
    share a split (a doc-id-keyed split puts ~10% of dup pairs astride the
    train/eval boundary)."""
    from etl_for_all_studies_spark.operators.sampling import assign_splits
    from etl_for_all_studies_spark.operators.textops import canonicalize_text

    rows = []
    for i in range(200):
        base = f"document number {i} with shared body text"
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base.upper() + "!!!"))  # trivial variant
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    keyed = docs.withColumn("__grp", F.md5(canonicalize_text(F.col("text"))))
    out = assign_splits(
        keyed, key_col="__grp",
        fractions={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    spanning = (
        out.groupBy("__grp")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert spanning == 0
    # and the split is not degenerate: both eval bands exist at n=200 groups
    assert out.select("split").distinct().count() >= 2


def test_duplicated_spans_exact_boundaries_and_merging(spark):
    """Span semantics pinned by construction: a shared 10-token passage
    planted in two docs at known offsets must come back as ONE merged span
    with exact [start, end] token positions; unique text yields nothing;
    within-doc repetition counts as duplication too."""
    from etl_for_all_studies_spark.operators.spans import duplicated_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    u = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            # shared passage at tokens 6..15 (after 5 unique tokens)
            (1, u("one", 5) + " " + shared + " " + u("tail", 4)),
            # same passage opening the doc: tokens 1..10
            (2, shared + " " + u("two", 7)),
            # fully unique doc: no spans
            (3, u("three", 30)),
            # within-doc repeat: the same 8 tokens twice, back to back
            (4, u("x", 8) + " " + u("x", 8) + " " + u("yy", 6)),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_windows"]
        for r in duplicated_spans(docs, w=8).collect()
    }
    # doc 1: windows 6,7,8 hit (8-token windows inside tokens 6..15) → one
    # span covering exactly the shared passage
    assert (1, 6, 15) in out and out[(1, 6, 15)] == 3
    # doc 2: windows 1,2,3 → span 1..10
    assert (2, 1, 10) in out and out[(2, 1, 10)] == 3
    # doc 4: "x0..x7 x0..x7" — every window over the 16-token repeat region
    # matches another window in the doc, one merged span 1..16
    assert (4, 1, 16) in out
    # doc 3 clean
    assert not any(k[0] == 3 for k in out)


def test_duplicated_spans_survives_single_hash_collision(spark):
    """A REAL single-hash collision must not merge unrelated windows. The
    two 8-grams below are distinct texts that collide under the first
    polynomial pair alone — hash 583239484 with (base=131, mod=1e9+7); they
    occur naturally in the sf0.001 documents table, where the old single
    sub-2^31 window key falsely marked both as duplicated. The combined
    two-pair ~2^60 key (operators/spans.py collision math) must separate
    them: neither passage repeats, so NO spans."""
    from etl_for_all_studies_spark.functions.hashing import BASE, MOD
    from etl_for_all_studies_spark.operators.spans import duplicated_spans

    g1 = "part a customer big row hash a slow"
    g2 = "row fast query spark data join scan the"

    def h1(tokens):
        hh = 0
        for t in tokens:
            th = 0
            for c in t:
                th = (th * BASE + ord(c)) % MOD
            hh = (hh * BASE + th) % MOD
        return hh

    # the premise: a genuine first-pair collision between different texts
    assert g1 != g2 and h1(g1.split()) == h1(g2.split())

    docs = spark.createDataFrame(
        [(1, "opening words here then " + g1), (2, g2 + " closing words go here")],
        "doc_id long, text string",
    )
    assert duplicated_spans(docs, w=8).count() == 0


def test_duplicated_spans_no_unpartitioned_window(spark):
    from planlint import unpartitioned_windows

    from etl_for_all_studies_spark.operators.spans import duplicated_spans

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 20) for i in range(10)], "doc_id long, text string"
    )
    plan = (
        duplicated_spans(docs, w=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert unpartitioned_windows(plan) == []


def test_duplicated_spans_incremental_vs_seen_and_in_batch(spark):
    """Incremental span detection: a batch window is flagged when it exists
    in the seen corpus OR repeats within the batch; batch-unique text
    passes; the full-corpus form agrees on the union."""
    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans,
        duplicated_spans_incremental,
        window_hashes,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    u = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    corpus = spark.createDataFrame(
        [(1, u("old", 6) + " " + shared)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            # tokens 4..13 replay the corpus passage
            (10, u("n", 3) + " " + shared + " " + u("m", 5)),
            (11, u("fresh", 25)),                      # clean
            (12, u("z", 8) + " " + u("z", 8)),         # in-batch repeat only
        ],
        "doc_id long, text string",
    )
    seen = window_hashes(corpus, w=8).select("h").distinct()
    out = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans_incremental(batch, seen, w=8).collect()
    }
    assert (10, 4, 13) in out          # vs-seen hit, exact boundaries
    assert (12, 1, 16) in out          # in-batch repeat
    assert not any(d == 11 for d, *_ in out)
    # consistency: running the FULL corpus (old + batch) flags the same
    # batch spans (the incremental form is the restriction to the batch)
    full = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(corpus.unionByName(batch), w=8).collect()
        if r["doc_id"] >= 10
    }
    assert out == full


def test_duplicated_spans_keep_first_and_trim_round_trip(spark):
    """keep_first exempts the lexicographically-first occurrence of every
    duplicated window; trimming the resulting spans removes repeats while
    exactly one copy of the shared passage survives in the corpus."""
    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans,
        trim_spans,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    u = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, u("one", 5) + " " + shared),          # canonical copy (doc 1)
            (2, shared + " " + u("two", 7)),          # repeat → trimmed
            (3, u("x", 8) + " " + u("x", 8)),         # within-doc repeat
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, w=8, keep_first=True)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spans.collect()
    }
    # doc 1 holds the canonical (min (doc,pos)) copies → untouched
    assert not any(d == 1 for d, *_ in got)
    assert (2, 1, 10) in got
    assert (3, 9, 16) in got  # second half of the within-doc repeat
    trimmed = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in trim_spans(docs, spans).collect()
    }
    assert trimmed[1] == (u("one", 5) + " " + shared, 0)
    assert trimmed[2] == (u("two", 7), 10)
    assert trimmed[3] == (u("x", 8), 8)
    # the shared passage survives exactly once corpus-wide
    corpus_after = " ".join(t for t, _ in trimmed.values())
    assert corpus_after.count("alpha bravo charlie") == 1


def test_trim_then_redetect_converges_on_simple_corpus(spark):
    """After keep-first trimming, re-running detection at the same w on the
    rewritten corpus finds nothing left to cut (trimming can in principle
    create new token adjacencies; on disjoint-context fixtures it
    converges in one pass — the property a production trim loop relies on,
    with the loop bound being the general guarantee)."""
    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans,
        trim_spans,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    u = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, u("a", 10) + " " + shared + " " + u("b", 10)),
            (2, u("c", 10) + " " + shared + " " + u("d", 10)),
            (3, shared + " " + u("e", 10) + " " + shared),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, w=8, keep_first=True)
    trimmed = trim_spans(docs, spans)
    again = duplicated_spans(
        trimmed.select("doc_id", "text"), w=8, keep_first=True
    )
    assert again.count() == 0


def test_incremental_spans_agree_with_full_on_random_corpora(spark):
    """Randomized agreement: for corpora of template-mixed docs, the
    incremental form on a batch == the full-corpus form restricted to that
    batch (the contract the fixed-case test pins, across random overlap
    patterns)."""
    import random

    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans,
        duplicated_spans_incremental,
        window_hashes,
    )

    rng = random.Random(23)
    templates = [
        " ".join(f"tpl{t}w{i}" for i in range(12)) for t in range(4)
    ]
    rows = []
    for d in range(40):
        parts = []
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.5:
                parts.append(rng.choice(templates))
            else:
                parts.append(" ".join(f"u{d}x{i}" for i in range(rng.randint(8, 14))))
        rows.append((d, " ".join(parts)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.where(F.col("doc_id") < 25)
    batch = docs.where(F.col("doc_id") >= 25)
    seen = window_hashes(old, w=8).select("h").distinct()
    incr = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_spans_incremental(batch, seen, w=8).collect()
    }
    full = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_spans(docs, w=8).collect()
        if r["doc_id"] >= 25
    }
    assert incr == full
    assert incr  # non-vacuous: the template mixing produced real spans


def test_incremental_keep_first_one_copy_survives(spark):
    """ADVICE r5: the incremental form's keep_first must exempt the
    canonical in-batch occurrence of a batch-internal passage (else the
    trim workflow deletes EVERY copy corpus-wide), while hashes already in
    the seen table exempt nothing (the surviving copy is historical)."""
    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans_incremental,
        trim_spans,
        window_hashes,
    )

    hist = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    fresh = "kilo lima mike november oscar papa quebec romeo sierra tango"
    u = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    corpus = spark.createDataFrame(
        [(1, u("old", 6) + " " + hist)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, hist + " " + u("a", 5)),             # replays history
            (11, u("b", 3) + " " + fresh),            # canonical fresh copy
            (12, fresh + " " + u("c", 5)),            # in-batch repeat
        ],
        "doc_id long, text string",
    )
    seen = window_hashes(corpus, w=8).select("h").distinct()
    spans = duplicated_spans_incremental(batch, seen, w=8, keep_first=True)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spans.collect()
    }
    # historical passage: every batch occurrence flagged (no exemption)
    assert (10, 1, 10) in got
    # batch-internal passage: doc 11 (min (doc,pos)) keeps it, doc 12 loses it
    assert not any(d == 11 for d, *_ in got)
    assert (12, 1, 10) in got
    # end-to-end: trimming leaves exactly one copy of `fresh` in the batch
    # and zero copies of the historical passage
    trimmed = {
        r["doc_id"]: r["text"] for r in trim_spans(batch, spans).collect()
    }
    joined = " ".join(trimmed.values())
    assert joined.count("kilo lima mike") == 1
    assert "alpha bravo charlie" not in joined


def test_trim_spans_null_text_passthrough(spark):
    """ADVICE r5: NULL-text docs must pass through trim_spans unchanged
    (text stays NULL, n_tokens_removed = 0) instead of being rewritten to
    an empty string with NULL counters."""
    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans,
        trim_spans,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [(1, shared), (2, shared + " x0"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, w=8, keep_first=True)
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in trim_spans(docs, spans).collect()
    }
    assert out[3] == (None, 0)
    assert out[4] == ("", 0)
    assert out[1] == (shared, 0)          # canonical copy untouched
    assert out[2] == ("x0", 10)


def test_window_hashes_is_lazy_single_kernel_pass(spark):
    """``window_hashes`` builds its plan LAZILY — zero Spark jobs at call
    time (the caching.py lazy-plan contract for scope=None callers) — as
    ONE MapInArrow pass with no Window operator and no exchange, and
    covers every doc with ≥ w tokens, including one of exactly w."""
    from etl_for_all_studies_spark.operators.spans import window_hashes

    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, " ".join(f"a{i}" for i in range(30)) + " " + shared),
        (2, " ".join(f"b{i}" for i in range(244)) + " " + shared),
        (3, " ".join(f"c{i % 9}" for i in range(768)) + " " + shared),
        (4, " ".join(f"d{i}" for i in range(8))),  # exactly w tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("lazy-check", "window_hashes plan build")
    try:
        df = window_hashes(docs, w=8)
        assert sc.statusTracker().getJobIdsForGroup("lazy-check") == []
    finally:
        sc.setJobGroup(None, None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Window" not in plan
    assert "Exchange" not in plan
    got = df.collect()
    assert {r["doc_id"] for r in got} == {1, 2, 3, 4}
    assert len(got) == (42 - 7) + (256 - 7) + (780 - 7) + 1


def test_incremental_new_documents_md5_digests_version_stable(spark):
    """Directive r6: the round-6 identity-hash rekey changed fingerprint /
    chunk_hash VALUES (recompute-on-upgrade contract, see their
    docstrings) — but the exact-dedup warehouse path keys on md5, whose
    values are pinned here against hashlib literals: seen-digest tables
    persisted by ANY engine version keep matching."""
    import hashlib

    from etl_for_all_studies_spark.operators.dedup import (
        incremental_new_documents,
    )

    texts = ["alpha beta gamma", "delta epsilon"]
    new = spark.createDataFrame(
        [(1, texts[0]), (2, texts[1]), (3, texts[0])],
        "doc_id long, text string",
    )
    expected = {t: hashlib.md5(t.encode()).hexdigest() for t in texts}
    # a pre-upgrade warehouse persisted the digest of texts[1]
    seen = spark.createDataFrame(
        [(expected[texts[1]],)], "text_hash string"
    )
    out = {
        r["text_hash"]: (r["keeper_doc_id"], r["n_in_batch"])
        for r in incremental_new_documents(new, seen).collect()
    }
    # only the unseen digest surfaces, valued exactly at the hashlib md5
    assert out == {expected[texts[0]]: (1, 2)}


def test_incremental_minhash_precomputed_signatures_match_recompute(spark):
    """Passing stored minhash_signatures tables (the streaming accrual
    contract) must be bit-identical to the recompute path — same pairs,
    same scores — and the candidate-restricted verification changes
    nothing (it prunes shingle construction, never results)."""
    from etl_for_all_studies_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("dog", "cat")),
        (10, base + " extra"),
        (11, base + " extra"),
        (12, "completely unrelated text with nothing shared at all here"),
        (13, "ab"),  # < k chars: signature-less, must not pair or crash
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seen = docs.where(F.col("doc_id") < 10)
    new = docs.where(F.col("doc_id") >= 10)

    def key(df):
        return {
            (r.doc_a, r.doc_b, r.vs_seen, r.n_shared_bands, r.common,
             round(r.jaccard, 9))
            for r in df.collect()
        }

    recompute = key(incremental_minhash_dedup(new, seen, bands=2))
    stored = key(
        incremental_minhash_dedup(
            new,
            seen,
            bands=2,
            new_signatures=minhash_signatures(new),
            seen_signatures=minhash_signatures(seen),
        )
    )
    assert stored == recompute and recompute


def test_incremental_minhash_verify_reads_candidates_only(spark):
    """The verify stage's shingle arrays must be built behind a LEFT-SEMI
    join on the candidate ids (ADVICE r10): without it every streaming
    fold materializes char_shingles over the entire stored corpus, an
    O(|history|)-per-fold term the signatures leg does not remove."""
    from etl_for_all_studies_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    seen = spark.createDataFrame(
        [(i, f"stored corpus document number {i} about topic {i % 3}")
         for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "stored corpus document number 0 about topic 0"),
         (101, "a completely different new arrival text")],
        "doc_id long, text string",
    )
    out = incremental_minhash_dedup(new, seen, bands=2, verify_threshold=0.5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan, (
        "verify stage lost its candidate-id semi-join — shingles would be "
        "materialized for the whole stored corpus every fold"
    )
    # and the restriction changes nothing semantically: the dup is found
    got = {(r.doc_a, r.doc_b, r.vs_seen) for r in out.collect()}
    assert (0, 100, 1) in got
