"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Beyond-reference capability (BASELINE.json north star). Design for 100 TB:

* **exact**: hash-groupBy on a content digest — one shuffle keyed by digest;
  the keeper is ``min(doc_id)`` so reruns are deterministic.
* **n-gram Jaccard**: explode distinct shingles → self-join on shingle →
  count common / (|A|+|B|−common). The shingle join is the scalable
  formulation (co-occurrence join, not all-pairs): documents sharing zero
  shingles never meet. Hot shingles are the skew risk → drop shingles above a
  document-frequency cap (standard trick; AQE skew-join handles the rest).
* **MinHash+LSH**: k portable affine min-hashes over shingle hashes, banded
  into b bands of r rows; candidate pairs = equi-join on (band, band-hash) —
  shuffle keyed by band signature, never all-pairs. Verified with exact
  Jaccard afterwards.
* **SimHash**: 32-bit sign-aggregated token-hash fingerprint; near-dups =
  pairs whose fingerprints agree on ≥ threshold bits, bucketed by bit-bands.
* **embedding cosine**: see ``similarity.py`` (same join shape as ANN).

All operators are pure DataFrame ops over portable hashes
(``functions/hashing.py``) — every one is DuckDB-oracle-checkable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import CacheScope, persist
from ..functions.sigkernel import shingle_array_df
from ..partitioning import compute_spread

# fixed universal-hash family for MinHash (a, b pairs; deterministic)
MINHASH_SEEDS: list[tuple[int, int]] = [
    (1 + 2 * i, 97 + 31 * i) for i in range(16)
]


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest (hash-groupBy).

    Returns one row per distinct text: ``(text_hash, n_copies,
    keeper_doc_id)``. Uses md5 (portable) — at warehouse scale you'd keep
    the digest as a stored column to avoid rescanning text.
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def incremental_new_documents(
    new_docs: DataFrame, seen_digests: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Cross-snapshot incremental dedup: which documents of a new batch are
    genuinely new content, and who is the in-batch keeper.

    ``seen_digests`` is the warehouse's digest set (one ``text_hash`` column —
    at scale a digest-bucketed table, so this anti-join co-locates without a
    full shuffle of the corpus). The new batch is first reduced to one row per
    digest (keeper = min doc_id, same rule as ``exact_duplicates``), then
    anti-joined against the seen set — the same idempotent-append contract as
    the warehouse fact loader (O-16, ``sources/warehouse.py``), applied to the
    training corpus: re-deliveries and overlapping crawl snapshots never
    duplicate content.

    Returns ``(text_hash, keeper_doc_id, n_in_batch)`` for unseen digests.
    """
    in_batch = (
        new_docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_in_batch"),
        )
    )
    return in_batch.join(
        seen_digests.select("text_hash"), "text_hash", "left_anti"
    )


def shingle_sets(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """(doc_id, shingle) exploded distinct k-char shingles + per-doc set size."""
    with_sh = shingle_array_df(
        docs, text_col=text_col, k=k, out_col="__set"
    ).select("doc_id", F.explode("__set").alias("shingle"))
    return with_sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Co-occurrence formulation: join docs on shared shingles, count common
    shingles per pair, then ``J = common / (|A| + |B| − common)``; keep pairs
    with ``J ≥ threshold`` and ``doc_a < doc_b``.

    ``max_shingle_df`` drops shingles occurring in more than that many docs
    (stop-shingle removal): the co-occurrence join's cost is Σdf² over
    shingle document frequency, so the cap bounds it at |vocab|·cap² —
    independent of corpus size. Jaccard is then computed **within the
    kept-shingle universe** (set sizes counted after the cap): near-dup
    pairs share their rare shingles and stay ≈1, while pairs that only
    share stop-shingles vanish entirely. ``None`` keeps all shingles —
    the exact (but Σdf²-unbounded) semantics.
    """
    stats = _shingle_pair_stats(
        docs, text_col=text_col, k=k, max_shingle_df=max_shingle_df,
        scope=scope,
    )
    return (
        stats.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")
    )


def _shingle_pair_stats(
    docs: DataFrame,
    *,
    text_col: str,
    k: int,
    max_shingle_df: int | None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Shared co-occurrence core for set-similarity scores: (doc_a, doc_b,
    common, size_a, size_b) for every pair sharing ≥1 (kept) shingle."""
    # barrier: the exploded shingle frame (a HOF-built array per doc) feeds
    # the df-cap aggregate plus three join branches (sizes, both pair
    # sides); without the persist the shingle construction re-executes per
    # branch — the same no-CSE-for-HOFs cost the MinHash signature barrier
    # exists for
    sh = persist(shingle_sets(docs, text_col, k), scope)
    if max_shingle_df is not None:
        # df-cap as a count window over the shingle key, not a separate
        # groupBy + anti-join: the window's exchange hashes on the SAME key
        # the co-occurrence self-join below needs, so the valve rides the
        # shuffle the join pays anyway (the LSH bucket-cap trick,
        # minhash_lsh_candidates)
        from pyspark.sql import Window

        by_shingle = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(by_shingle))
            .where(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_containment_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-SUPERSET pairs by max-containment: ``C = common /
    min(|A|, |B|)`` — the score Jaccard systematically misses. A short doc
    fully embedded in a much longer one (quote farms, boilerplate wrappers,
    articles + comment sections) has J = |A|/|B| ≈ 0 but C = 1; curation
    drops the contained copy, which Jaccard-threshold dedup never finds.

    Same co-occurrence join (and the same Σdf² cost model + ``max_shingle_df``
    valve) as :func:`ngram_jaccard_pairs`; only the score differs. Output
    adds ``contained`` = the doc id of the smaller (contained) side on ties
    → lower id.
    """
    stats = _shingle_pair_stats(
        docs, text_col=text_col, k=k, max_shingle_df=max_shingle_df,
        scope=scope,
    )
    return (
        stats.withColumn(
            "containment",
            F.col("common") / F.least(F.col("size_a"), F.col("size_b")),
        )
        .where(F.col("containment") >= threshold)
        .withColumn(
            "contained",
            F.when(F.col("size_a") <= F.col("size_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b")),
        )
        .select(
            "doc_a", "doc_b", "common", "size_a", "size_b",
            "containment", "contained",
        )
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures over k-char shingles.

    Each signature element i = min over shingles of ``(aᵢ·h + bᵢ) mod p``
    where h is the portable polynomial shingle hash. Evaluated by the
    vectorized Arrow kernel (``functions/sigkernel.py``): one
    ``mapInArrow`` pass, numpy rolling-hash arithmetic, no explode, no
    shuffle — signatures stay embarrassingly parallel per document.
    Texts shorter than ``k`` get no row: an all-NULL signature would
    band-match every such doc pairwise; they can only be exact dups.
    ``tests/test_sigkernel.py`` pins the kernel against a pure-Python fold
    over code points.
    """
    import pyarrow as pa

    from ..functions.sigkernel import minhash_signature_batches

    seeds = MINHASH_SEEDS[:num_hashes]
    base = compute_spread(
        docs.select("doc_id", F.col(text_col).alias("__txt"))
    )
    id_type = base.schema["doc_id"].dataType.simpleString()
    if id_type != "bigint":  # pragma: no cover - non-long ids unused
        raise TypeError(f"doc_id must be bigint, got {id_type}")
    doc_id_field = pa.field("doc_id", pa.int64())

    def _sig_batches(batches):
        yield from minhash_signature_batches(
            batches, k=k, seeds=seeds, doc_id_field=doc_id_field
        )

    return base.mapInArrow(
        _sig_batches, schema="doc_id long, sig array<bigint>"
    )


def _band_explode(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, slice) rows — one per signature band."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                        .cast("array<long>")
                        .alias("slice"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice"))


def exact_rows_per_band(num_hashes: int, bands: int) -> int:
    """``num_hashes / bands``, raising unless it divides exactly.

    A silent ``//`` truncation (16//3 → 5 rows/band) would band on only
    ``bands · rows_per_band`` of the hash functions with no warning,
    quietly weakening the recall contract (VERDICT r10 #6)."""
    if bands <= 0:
        raise ValueError(f"bands must be positive, got {bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            "exactly — a truncated rows_per_band would silently ignore "
            f"{num_hashes % bands} of the hash functions"
        )
    return num_hashes // bands


def minhash_lsh_candidates(
    signatures: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: candidate pairs = docs agreeing on at least one band.

    Pairs are produced by an equi-join on (band index, band slice) — the
    shuffle key is the band content, so complexity tracks the number of
    colliding docs, never n². Output: (doc_a, doc_b, n_shared_bands).

    ``max_bucket_size`` is the hot-bucket valve: a band bucket of m docs
    emits m(m-1)/2 pairs, so one boilerplate-heavy bucket (near-empty docs,
    template pages — any cohort whose minimum shingle hashes coincide) can
    dominate the whole join quadratically. The 10x composed-curation probe
    measured exactly this shape: 164x candidates for 10x docs when band
    buckets grow with the corpus (SCALE.md). With a cap, buckets larger
    than ``max_bucket_size`` are dropped BEFORE the self-join — the bucket
    count rides the same (band, slice) shuffle the join needs (one window,
    exchange reused), so the valve costs no extra shuffle. Recall trade,
    same contract as the shingle df-cap (``ngram_jaccard_pairs``): a pair
    is lost only if EVERY band it shares is over-cap; pairs sharing any
    calm band survive. Default ``None`` = exact current behavior.
    """
    banded = _band_explode(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        bucket = Window.partitionBy("band", "slice")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(bucket))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.slice") == F.col("b.slice"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_dedup(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verification of **candidates only**.

    Verification joins each candidate pair back to the two shingle *sets* and
    intersects them per-row (``array_intersect``) — cost is bounded by the
    candidate count the banding emits, never by all-pairs or hot-shingle df²
    (the failure mode of the exact co-occurrence join at scale).
    ``max_bucket_size`` bounds the banding itself against hot buckets — see
    ``minhash_lsh_candidates`` for the valve's recall contract.
    """
    from ..functions.sigkernel import minhash_and_shingles_df

    rows_per_band = exact_rows_per_band(num_hashes, bands)
    # ONE text scan feeds both sketch tables (r11, guide §1.2): the banding
    # needs signatures, the verify join needs the exact shingle arrays, and
    # they used to be two independent passes over the corpus. The combined
    # frame is the materialization barrier both halves read (persisted: the
    # mapInArrow output is opaque to Catalyst — without the barrier each
    # reference would re-run the kernel scan).
    both = persist(
        minhash_and_shingles_df(
            docs,
            text_col=text_col,
            k=k,
            seeds=MINHASH_SEEDS[:num_hashes],
            set_col="shingles",
        ),
        scope,
    )
    sigs = both.where(F.col("sig").isNotNull()).select("doc_id", "sig")
    candidates = minhash_lsh_candidates(
        sigs,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    sets = both.select("doc_id", "shingles")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "n_shared_bands", "common", "jaccard")
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 2,
    verify_threshold: float = 0.5,
    new_signatures: DataFrame | None = None,
    seen_signatures: DataFrame | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs touching a NEW batch only: (new×seen) ∪ (new×new) —
    ``seen×seen`` is never recomputed. This is the fuzzy counterpart of
    :func:`incremental_new_documents` and the operation a continuously-fed
    corpus actually performs per crawl batch: at 100 TB you cannot re-dedup
    the historical corpus on every arrival, and you don't need to — existing
    keepers are fixed, so only pairs involving new documents can change the
    kept set.

    Cost model: banded candidates come from TWO equi-joins keyed by band
    content — new-batch bands against the seen-side band table, and the new
    batch against itself. Both are proportional to band collisions with the
    batch, independent of |seen|². Verification intersects shingle sets for
    CANDIDATE docs only (the shingle arrays are built behind a semi-join on
    the candidate ids, so the per-batch HOF cost tracks candidates, never
    |seen| — the 300-fold streaming probe measured the unrestricted form's
    per-fold wall growing ~2.7× by fold 200 from exactly this term).

    ``seen_signatures`` / ``new_signatures`` accept PRECOMPUTED
    ``minhash_signatures`` tables (same ``text_col``/``k``/``num_hashes`` —
    caller contract): a stored corpus should persist its signatures once at
    admission and hand them back per batch instead of re-hashing all of
    history every fold (``streaming/curation.py`` does exactly this via its
    signatures state leg).

    Doc ids must be disjoint across the two inputs (the warehouse contract).
    Output: (doc_a, doc_b, vs_seen, n_shared_bands, common, jaccard), pairs
    canonicalized doc_a < doc_b; ``vs_seen`` = 1 iff one side is a seen doc.
    """
    rows_per_band = exact_rows_per_band(num_hashes, bands)
    sig_new = persist(
        minhash_signatures(new_docs, text_col=text_col, k=k, num_hashes=num_hashes)
        if new_signatures is None
        else new_signatures,
        scope,
    )
    sig_seen = persist(
        minhash_signatures(seen_docs, text_col=text_col, k=k, num_hashes=num_hashes)
        if seen_signatures is None
        else seen_signatures,
        scope,
    )
    bn = _band_explode(sig_new, bands, rows_per_band)
    bsn = _band_explode(sig_seen, bands, rows_per_band)

    a, b = bn.alias("a"), bsn.alias("b")
    ns = (
        a.join(
            b,
            on=[F.col("a.band") == F.col("b.band"), F.col("a.slice") == F.col("b.slice")],
        )
        .groupBy(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("other_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .withColumn("vs_seen", F.lit(1).cast("long"))
    )
    a2, b2 = bn.alias("a"), bn.alias("b")
    nn = (
        a2.join(
            b2,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.slice") == F.col("b.slice"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("other_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .withColumn("vs_seen", F.lit(0).cast("long"))
    )
    # lineage truncation, not just a persist: the candidate frame is
    # referenced by the verify join AND (twice) by the semi-join below, and
    # each reference re-inlines the band-join tree with its 16-way MinHash
    # HOF expressions into the logical plan — through the incremental
    # curation plan's own multi-reference of `pairs` that compounds to a
    # plan string large enough to OOM the driver building explainString
    # (measured on the streaming CLI). The checkpoint caps the plan at a
    # LogicalRDD leaf; rows are bounded by band collisions with the batch.
    from .dedup_graph import fresh_stats_checkpoint

    cands = fresh_stats_checkpoint(
        ns.unionByName(nn)
        .select(
            F.least("new_id", "other_id").alias("doc_a"),
            F.greatest("new_id", "other_id").alias("doc_b"),
            "vs_seen",
            "n_shared_bands",
        )
    )
    # verification reads text ONLY for candidate docs: the semi-join below
    # keeps the per-fold HOF cost proportional to band collisions with the
    # batch, never |seen| (ADVICE r10 — without it every fold materialized
    # shingle arrays for the entire stored corpus in the verify stage,
    # surviving the signatures-leg fix of the hashing term)
    cand_ids = cands.select(F.col("doc_a").alias("doc_id")).unionByName(
        cands.select(F.col("doc_b").alias("doc_id"))
    )
    sets = persist(
        shingle_array_df(
            new_docs.select("doc_id", F.col(text_col).alias("__t"))
            .unionByName(
                seen_docs.select("doc_id", F.col(text_col).alias("__t"))
            )
            .join(cand_ids, on="doc_id", how="left_semi"),
            text_col="__t",
            k=k,
            out_col="shingles",
        ),
        scope,
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cands.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "vs_seen", "n_shared_bands", "common", "jaccard")
    )


def simhash(
    docs: DataFrame,
    *,
    text_col: str = "text",
    bits: int = 32,
    scope: CacheScope | None = None,
) -> DataFrame:
    """(doc_id, simhash) 32-bit SimHash over whitespace tokens.

    Each token's portable hash votes ±1 on each bit; the fingerprint's bit i
    is 1 iff the summed vote is positive. Pure array arithmetic
    (transform/aggregate) — per-document, no shuffle.
    """
    from ..functions.hashing import PACK_SHIFT
    from ..functions.sigkernel import token_hash_array_df

    # barrier before the vote aggregation — see minhash_signatures. r11:
    # the per-token hashes come from the vectorized Arrow token-hash
    # kernel (the interpreted per-char HOF fold was 15 s of this query's
    # 26.7 s executor time at sf0.1); the kernel packs BOTH component
    # hashes per token, and SimHash's vote hash is the first component —
    # unpacked with one shiftright per token (a trivially cheap per-element
    # transform, not a per-char fold). Bit-identical to
    # ``transform(word_tokens(lower(text)), poly_hash)`` (test-pinned).
    hashed = persist(
        token_hash_array_df(
            docs, text_col=text_col, id_col="doc_id", out_col="__pk"
        ).select(
            "doc_id",
            F.transform(
                F.col("__pk"), lambda t: F.shiftright(t, PACK_SHIFT)
            ).alias("th"),
        ),
        scope,
    )
    # votes as a grouped aggregation over exploded token hashes: all ``bits``
    # SUM(CASE) columns run inside whole-stage codegen with map-side partial
    # aggregation — unlike per-bit array aggregates, which are interpreted
    # HOFs (~2.5x slower at sf0.1). explode_outer keeps token-less docs
    # (votes 0 → fingerprint 0). Bit i extracted arithmetically
    # ((h div 2^i) mod 2) — the poly hash is < 2^30 so the double division
    # is exact.
    exploded = hashed.select("doc_id", F.explode_outer("th").alias("h"))
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").isNull(), 0)
                .when((F.col("h") / F.lit(float(2 ** i))).cast("long") % 2 == 1, 1)
                .otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        term = (
            F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
        )
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    *,
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the fingerprint into ``bands`` bit-blocks; any
    pair within distance ``max_hamming < bands`` agrees exactly on ≥1 block →
    equi-join on (block idx, block value), then verify with bit_count.
    """
    width = bits // bands
    mask = (1 << width) - 1
    # materialization barrier — see minhash_dedup: the fingerprint expression
    # is interpreted (nested HOFs) and must not be re-inlined per reference
    fingerprints = persist(fingerprints, scope)
    blocks = fingerprints.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.val") == F.col("b.val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


__all__ = [
    "MINHASH_SEEDS",
    "exact_duplicates",
    "incremental_minhash_dedup",
    "incremental_new_documents",
    "minhash_dedup",
    "minhash_lsh_candidates",
    "minhash_signatures",
    "ngram_containment_pairs",
    "ngram_jaccard_pairs",
    "shingle_sets",
    "simhash",
    "simhash_near_pairs",
]
