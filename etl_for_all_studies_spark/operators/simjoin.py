"""Similarity-join auto-router: prefix join vs MinHash-LSH, chosen from
the threshold and a one-aggregation corpus profile.

The engine has two scale paths for near-dup pairs over shingle sets and
the choice was manual (VERDICT r9, missing #4):

* ``prefixjoin.jaccard_prefix_pairs`` — EXACT Jaccard, candidate join
  bounded by Σ(prefix-df)². The prefix keeps ``|T| − ⌈t·|T|⌉ + 1``
  shingles per set, so its cost collapses as the threshold rises (t=0.9
  keeps ~10% of each set, concentrated on the RAREST shingles). Measured
  head-to-head at t=0.9 (SCALE.md r9): 2.4–10× faster than LSH *and*
  complete (LSH missed 22/6,400 pairs at 64×).
* ``dedup.minhash_dedup`` — approximate recall, cost ≈ ``num_hashes``
  evaluations per shingle occurrence plus the band-bucket join; FLAT in
  the threshold. Keeps the low-t regime where prefixes lengthen toward
  |T|/2 and the prefix bound weakens.

Routing rule (one bounded classification pass, then legs with identical
result semantics, each kept by a measured regime where it wins). The
shingle df profile is taken at EVERY threshold — round 10 short-circuited
``t ≥ 0.8`` to prefix, and the round-11 curation measurement falsified
that rule's corpus-independence: at k=5 shingles (vocab ~2k, hot dfs) the
prefix leg is ~2.5× SLOWER than LSH at t=0.9, while at k=9 (vocab ~27k)
it is 2.4–10× faster (SCALE.md r9/r11). Compare cost proxies:

* prefix cost ≲ ``max`` of two differently-loose candidate estimates:

  - ``(1−t)² · Σdf²`` — the uniform-placement bound: each set keeps a
    ``(1−t)`` fraction of its shingles, placed uniformly. Loose UP at
    large vocab (hot shingles actually land in suffixes), loose DOWN
    at small vocab / high t (the per-doc quota forces SOME hot
    shingles into prefixes when there is nothing rarer to take).
  - ``Σdf²`` over the globally-RAREST shingles covering ``(1−t)`` of
    occurrence mass — models the df-ascending prefix order exactly in
    the global sense; loose DOWN for hot-shingle-only docs (their
    prefixes still emit hot shingles the global cut excludes).

  Taking the max is conservative toward LSH from both directions; on
  the sf0.1 documents corpus it routes (k=5, t=0.9) → LSH and
  (k=9, t=0.9) → prefix, matching BOTH measured head-to-heads, where
  either estimate alone mis-routes one of them.
* LSH cost ∝ ``num_hashes · total_occurrences`` (the per-occurrence
  hashing term that dominated the measured head-to-head; the band
  join rides on top, in LSH's disfavor).

Route prefix iff the first ≤ the second. On the r9 crossover corpus
this sends (t=0.6, k=5, tiny vocab → Σdf² huge) to LSH and
(t=0.6, k=9, large vocab → low dfs) to the exact prefix join.

At 100 TB the profile's expensive exchange — the shingle-keyed df
aggregation — happens ONCE (the df table is persisted; the rarest-mass
estimate reads a df-VALUE histogram whose row count is provably
≤ √(2·total_occurrences), since k distinct df values need at least
1+2+…+k occurrences — ~450k rows at 10¹² occurrences, one narrow
column).

Reference parity: none — the reference has no set-similarity surface;
this is beyond-reference curation capability (SURVEY §2.8 extension).
"""
from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import CacheScope, persist
from ..functions.sigkernel import distinct_shingle_hash_df
from .dedup import exact_rows_per_band, minhash_lsh_candidates
from .prefixjoin import jaccard_prefix_pairs

logger = logging.getLogger(__name__)


def profile_shingle_dfs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    threshold: float | None = None,
    shingle_arrays: DataFrame | None = None,
) -> dict[str, float]:
    """``{total_occurrences, vocab, sum_df2}`` — and, when ``threshold``
    is given, ``prefix_mass_df2`` — the router's classification profile:
    ONE job, one bounded collect row.

    Everything is derived from the df-VALUE histogram ``(df, n)``: total
    = Σ df·n, vocab = Σ n, Σdf² = Σ df²·n, and the rarest-mass estimate
    is Σ df²·n over the histogram buckets whose PRECEDING cumulative mass
    sits under ``(1−t)·total`` (the bucket that crosses the target is
    included whole — conservative toward LSH). The histogram has at most
    √(2·occurrences) rows (k distinct df values need ≥ k(k+1)/2
    occurrences), so the ordered cumsum and full-frame total windows are
    one-partition passes over a provably tiny frame at ANY corpus size —
    the expensive shingle-keyed exchange below them runs exactly once.

    The per-doc distinct-shingle rows come from the vectorized Arrow
    kernel (r11): standalone calls hash shingles to the packed ~2^60
    double-hash keyspace (``distinct_shingle_hash_df`` — identity-only
    use, the same keyspace ``operators/spans.py`` documents; cross-
    shingle collision odds ~n²/2^61 leave every df in the histogram
    exact in practice). ``shingle_arrays`` accepts the caller's already-
    persisted ``(doc_id, __set)`` table instead — the router shares ONE
    shingle pass between this profile and the routed leg's verify join;
    the exchange then carries the 64-bit ``xxhash64`` of each shingle,
    never the strings (narrower aggregation key, same df histogram)."""
    if shingle_arrays is not None:
        sh = shingle_arrays.select(F.explode("__set").alias("__sh_s")).select(
            F.xxhash64("__sh_s").alias("sh")
        )
    else:
        sh = distinct_shingle_hash_df(
            docs.select("doc_id", text_col), text_col=text_col, k=k
        ).select("sh")
    hist = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    aggs = [
        F.coalesce(F.sum(F.col("df") * F.col("n")), F.lit(0)).alias("total"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("vocab"),
        F.coalesce(
            F.sum(F.col("df") * F.col("df") * F.col("n")), F.lit(0)
        ).alias("sum_df2"),
    ]
    if threshold is not None:
        w_cum = Window.orderBy("df").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.orderBy("df").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        bucket_mass = F.col("df") * F.col("n")
        hist = hist.withColumn(
            "__under_target",
            (F.sum(bucket_mass).over(w_cum) - bucket_mass)
            < (1.0 - threshold) * F.sum(bucket_mass).over(w_all),
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__under_target"),
                        F.col("df") * F.col("df") * F.col("n"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias("prefix_mass_df2")
        )
    row = hist.agg(*aggs).collect()[0]
    out = {
        "total_occurrences": float(row["total"]),
        "vocab": float(row["vocab"]),
        "sum_df2": float(row["sum_df2"]),
    }
    if threshold is not None:
        out["prefix_mass_df2"] = float(row["prefix_mass_df2"])
    return out


def choose_jaccard_mode(
    *,
    threshold: float,
    total_occurrences: float,
    sum_df2: float,
    num_hashes: int = 16,
    prefix_mass_df2: float | None = None,
) -> str:
    """``"prefix"`` or ``"lsh"`` from the profile (pure; test-pinnable).

    The prefix-cost proxy is the MAX of the uniform-placement bound
    ``(1−t)²·Σdf²`` and the rarest-mass estimate (when supplied) — each
    is loose DOWN in the regime where the other is loose UP (module
    docstring), so the max is conservative toward LSH from both sides.
    There is no threshold short-circuit: the r10 ``t ≥ 0.8 → prefix``
    rule measured ~2.5× wrong at k=5 shingles (SCALE.md r11)."""
    p = 1.0 - threshold  # prefix fraction bound (the +1 shingle is noise)
    est_prefix_candidates = p * p * sum_df2
    if prefix_mass_df2 is not None:
        est_prefix_candidates = max(est_prefix_candidates, prefix_mass_df2)
    est_lsh_hash_ops = float(num_hashes) * total_occurrences
    return "prefix" if est_prefix_candidates <= est_lsh_hash_ops else "lsh"


def route_jaccard_join(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.6,
    num_hashes: int = 16,
    shingle_arrays: DataFrame | None = None,
) -> str:
    """Profile ``docs`` at the join's shingle width and return the mode.

    This is also the CURATION plans' router (VERDICT r10 #3 refined in
    r11): one-shot ``curate_corpus`` routes per run; incremental corpora
    route ONCE — on the first fold — and persist the decision
    (``streaming/curation.py::_pin_route``), because the legs accrue
    different state (the LSH leg's stored-signatures seam; the prefix leg
    none) and a drifting per-fold profile must not flip a corpus's leg
    mid-stream."""
    prof = profile_shingle_dfs(
        docs,
        text_col=text_col,
        k=k,
        threshold=threshold,
        shingle_arrays=shingle_arrays,
    )
    mode = choose_jaccard_mode(
        threshold=threshold,
        total_occurrences=prof["total_occurrences"],
        sum_df2=prof["sum_df2"],
        num_hashes=num_hashes,
        prefix_mass_df2=prof["prefix_mass_df2"],
    )
    # the decision and its inputs, for operations: a surprising route at
    # scale should be explainable from the log line alone
    logger.info(
        "similarity route %s: t=%s k=%d occ=%.3g vocab=%.3g "
        "est_prefix=max(uniform=%.3g, rarest=%.3g) vs lsh=%d*occ=%.3g",
        mode,
        threshold,
        k,
        prof["total_occurrences"],
        prof["vocab"],
        (1.0 - threshold) ** 2 * prof["sum_df2"],
        prof["prefix_mass_df2"],
        num_hashes,
        num_hashes * prof["total_occurrences"],
    )
    return mode


def _shared_kernel_pass(
    docs: DataFrame,
    *,
    text_col: str,
    k: int,
    num_hashes: int,
    scope: CacheScope | None,
) -> DataFrame:
    """ONE persisted combined signatures+shingles kernel scan: ``(doc_id,
    sig, __set)`` — ``sig`` NULL for docs shorter than ``k``."""
    from ..functions.sigkernel import minhash_and_shingles_df
    from .dedup import MINHASH_SEEDS

    return persist(
        minhash_and_shingles_df(
            docs,
            text_col=text_col,
            k=k,
            seeds=MINHASH_SEEDS[:num_hashes],
            set_col="__set",
        ),
        scope,
    )


def _lsh_verified_pairs(
    docs: DataFrame,
    *,
    text_col: str,
    k: int,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
    scope: CacheScope | None,
    kernel: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified to the ROUTER's output contract —
    same columns as ``jaccard_prefix_pairs`` (sizes included) so the two
    legs are drop-in interchangeable. Approximate recall: a true pair is
    missed only when every band disagrees (same contract as
    ``minhash_dedup``, whose verify this mirrors with size columns).
    ``kernel``: the router's persisted combined kernel pass (see
    ``_shared_kernel_pass``), so the routed leg reads the text zero more
    times; without it (explicit ``mode="lsh"``) the leg runs that ONE
    combined scan itself (guide §1.2: one text pass, not two)."""
    if kernel is None:
        kernel = _shared_kernel_pass(
            docs, text_col=text_col, k=k, num_hashes=num_hashes, scope=scope
        )
    sigs = kernel.where(F.col("sig").isNotNull()).select("doc_id", "sig")
    sets = kernel.select("doc_id", "__set")
    candidates = minhash_lsh_candidates(
        sigs,
        bands=bands,
        rows_per_band=exact_rows_per_band(num_hashes, bands),
        max_bucket_size=max_bucket_size,
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("__set").alias("__sb"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("size_a", F.size("__sa"))
        .withColumn("size_b", F.size("__sb"))
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")
    )


def jaccard_pairs_auto(
    docs: DataFrame,
    *,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    mode: str = "auto",
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs ``J ≥ threshold`` through the routed scale path.

    Output is ``(doc_a, doc_b, common, size_a, size_b, jaccard)`` with
    ``doc_a < doc_b`` on EITHER leg. ``mode="prefix"`` is exact;
    ``mode="lsh"`` is approximate-recall (subset of the exact answer,
    every emitted pair verified ≥ threshold — tests pin the containment);
    ``mode="auto"`` routes per the module-docstring rule.

    ``bands`` must divide ``num_hashes`` exactly: a silent
    ``num_hashes // bands`` truncation (16//3 → 5 rows/band using only 15
    of the 16 hash functions) would quietly weaken the banding's recall
    contract (VERDICT r10 #6).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) "
            "exactly — a truncated rows_per_band would silently ignore "
            f"{num_hashes % bands} of the hash functions"
        )
    arrays: DataFrame | None = None
    kernel: DataFrame | None = None
    if mode == "auto":
        # ONE text pass for the whole routed call (r11 shared the shingle
        # arrays between the profile and either leg's verify join; r12
        # upgrades the shared pass to the COMBINED signatures+shingles
        # kernel, guide §1.2): the profile reads the arrays, the prefix
        # leg verifies on them, and the LSH leg now also gets its MinHash
        # signatures from the same scan — previously a routed-LSH call
        # paid a second full text scan for ``minhash_signatures``. The
        # signature columns cost one vectorized numpy pass over windows
        # the kernel hashes anyway; a prefix-routed call simply ignores
        # them.
        kernel = _shared_kernel_pass(
            docs, text_col=text_col, k=k, num_hashes=num_hashes, scope=scope
        )
        arrays = kernel.select("doc_id", "__set")
        mode = route_jaccard_join(
            docs,
            text_col=text_col,
            k=k,
            threshold=threshold,
            num_hashes=num_hashes,
            shingle_arrays=arrays,
        )
    if mode == "prefix":
        return jaccard_prefix_pairs(
            docs,
            text_col=text_col,
            k=k,
            threshold=threshold,
            scope=scope,
            arrays=arrays,
        )
    if mode == "lsh":
        return _lsh_verified_pairs(
            docs,
            text_col=text_col,
            k=k,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            max_bucket_size=max_bucket_size,
            scope=scope,
            kernel=kernel,
        )
    raise ValueError(f"mode must be auto|prefix|lsh, got {mode!r}")


__all__ = [
    "choose_jaccard_mode",
    "jaccard_pairs_auto",
    "profile_shingle_dfs",
    "route_jaccard_join",
]
