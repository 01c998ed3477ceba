"""Exact-substring duplicate spans — corpus-wide repeated token windows.

The span-level companion to document-level dedup (Lee et al., 2022,
"Deduplicating Training Data Makes Language Models Better"): even after
near-dup removal, corpora carry *repeated passages* (boilerplate headers,
license blocks, quoted chunks) inside otherwise-unique documents. The
remedy is to find every token window that occurs more than once in the
whole corpus and merge the hits into contiguous spans a trimmer can cut.

The suffix-array formulation of the paper is replaced by the Spark-native
shape — every stage linear and keyed:

1. one canonical polynomial hash per ``w``-token window for EACH of two
   independent ``(base, mod)`` pairs, combined into a single ~2^60 key
   (see *Collision math* below). One vectorized Arrow pass
   (:func:`..functions.sigkernel.token_window_hash_df`) tokenizes, hashes
   every token and emits the (id, pos, h) window rows through the
   Rabin–Karp prefix-sum algebra — O(1) per window at any ``w``;
2. ONE corpus-wide groupBy on the combined window hash → occurrence
   counts; windows with count > 1 are duplicated (within-doc repeats
   count too);
3. per-doc gaps-and-islands merge of overlapping/touching hit windows into
   spans — a window partitioned by doc_id (per-doc history is the bounded
   dimension, same contract as the event-stream operators).

The corpus-wide shuffle is keyed by the window hash — cardinality ≈ total
token count, the same scale as every other token-keyed aggregation here
(vocab, BM25, LM scoring).

**Collision math.** The combined key ``h1·MOD2 + h2`` is injective in
``(h1, h2)``, so distinct windows collide only when BOTH independent
polynomial hashes collide: p ≈ 1/(MOD1·MOD2) ≈ 2^−60 per pair of windows.
Expected falsely-merged window pairs among n windows ≈ n²/2^61: at
n = 10^12 (a ~100 TB corpus ≈ one window per token) that is ≈ 4·10^5
pairs — ≲0.4 ppm of windows falsely trimmed, vs n²/(2·10^9) ≈ 5·10^14
(catastrophic, everything transitively merged) for the old single sub-2^31
hash. Both component hashes stay DuckDB-replayable (plain modular
arithmetic), which is the correctness contract this repo optimizes;
byte-level exact verification of hit windows remains the belt-and-braces
option at even larger scales.

:func:`duplicated_spans_incremental` is the per-crawl-batch form: the new
batch's windows are checked against the warehouse's accumulated
window-hash table (semi-join) plus themselves — per-batch cost tracks the
BATCH token count, never the corpus history (the same new-vs-seen contract
as ``dedup.incremental_new_documents`` and the incremental MinHash/IVF
paths).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import CacheScope, persist
from ..functions.hashing import word_tokens
from ..functions.sigkernel import token_window_hash_df


def window_hashes(
    docs: DataFrame,
    *,
    w: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, h) — the combined two-pair polynomial hash of every
    ``w``-token window (1-based start positions; lowercase whitespace
    tokenization). The frame the corpus-level and incremental span
    detectors share; its distinct ``h`` column is also the warehouse state
    the incremental form accrues.

    Per pair, ``h_p = Σ t_j·B_p^(e−j) mod M_p`` over the window's token
    hashes ``t_j`` (:func:`..functions.hashing.poly_hash` of each token),
    and ``h = h1·MOD2 + h2`` — plain modular arithmetic the DuckDB oracle
    replays. Lazy plan, no call-time Spark jobs; callers persist the
    returned frame when they fan it out (as :func:`duplicated_spans` does).
    """
    return token_window_hash_df(docs, w=w, text_col=text_col, id_col=id_col)


def _merge_hit_windows(hits: DataFrame, *, w: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of (id, pos) hit windows into maximal spans:
    a new span starts when this window clears the furthest end any earlier
    window reached (+1 merges touching spans)."""
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(w_prev)
    new_span = (
        prev_end.isNull() | (F.col("pos") > prev_end + F.lit(1))
    ).cast("long")
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = hits.withColumn("__isl", F.sum(new_span).over(w_run))
    return islands.groupBy(id_col, "__isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(w - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("__isl")


def duplicated_spans(
    docs: DataFrame,
    *,
    w: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = False,
    scope: CacheScope | None = None,
) -> DataFrame:
    """(id, span_start, span_end, n_windows) — maximal merged spans of
    corpus-duplicated ``w``-token windows, 1-based inclusive token positions.

    A window starting at position p covers tokens [p, p+w-1]; two hit
    windows merge when they overlap **or touch** (next start ≤ prev end+1),
    so a trimmer sees one contiguous duplicated region. Tokenization is the
    suite-standard lowercase whitespace split.

    ``keep_first=False`` (audit mode) flags EVERY occurrence of a
    duplicated window. ``keep_first=True`` is the Lee-et-al. removal
    semantics: the canonical occurrence — the lexicographically smallest
    (doc, pos) per window hash, chosen with one ``min`` aggregate in the
    same groupBy that counts — is exempted, so trimming the returned spans
    (:func:`trim_spans`) removes repeats while ALWAYS preserving one copy
    of the passage in the corpus.
    """
    # barrier: win feeds BOTH the occurrence count and the hit join —
    # unpersisted, the whole window-hash pass would run twice
    win = persist(
        window_hashes(docs, w=w, text_col=text_col, id_col=id_col),
        scope,
    )
    counts = win.groupBy("h").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__keep"),
    )
    hits = win.join(counts.where(F.col("__c") > 1), "h")
    if keep_first:
        hits = hits.where(
            ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("pos") == F.col("__keep.pos"))
            )
        )
    return _merge_hit_windows(hits.select(id_col, "pos"), w=w, id_col=id_col)


def trim_spans(
    docs: DataFrame,
    spans: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each document with its duplicated spans cut out.

    ``spans``: (id, span_start, span_end) token ranges (1-based inclusive,
    whitespace tokenization — :func:`duplicated_spans` output, typically
    with ``keep_first=True`` so one copy of every passage survives
    corpus-wide). Returns the input columns with ``text`` replaced by the
    trimmed text (original casing; whitespace normalized to single spaces)
    plus ``n_tokens_removed``.

    Docs with NO spans — including NULL-text docs — pass through
    **byte-identical** (``n_tokens_removed = 0``): the rewrite branches on
    the span join hit, so whitespace normalization touches only documents
    that were actually trimmed. Do NOT feed a trimmed doc's text back as
    position references for the ORIGINAL text.

    Shape: one broadcast-free equi-join on the doc id + a per-row HOF
    filter (O(tokens × spans-per-doc), spans-per-doc bounded by doc
    length) — no shuffle beyond the join.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("__spans")
    )
    joined = docs.join(sp, id_col, "left")
    toks = word_tokens(F.col(text_col))
    zipped = F.transform(
        toks, lambda t, i: F.struct(t.alias("t"), (i + F.lit(1)).alias("p"))
    )
    kept = F.filter(
        zipped,
        lambda x: ~F.exists(
            F.col("__spans"), lambda r: (x["p"] >= r["s"]) & (x["p"] <= r["e"])
        ),
    )
    # byte-identical passthrough: only docs with a span hit (and non-NULL
    # text — a NULL doc has no windows, so a span row for it would be a
    # contract violation anyway) are rewritten
    rewrite = F.col("__spans").isNotNull() & F.col(text_col).isNotNull()
    out_cols = [c for c in docs.columns if c != text_col]
    return joined.select(
        *out_cols,
        F.when(
            rewrite, F.concat_ws(" ", F.transform(kept, lambda x: x["t"]))
        ).otherwise(F.col(text_col)).alias(text_col),
        F.when(rewrite, F.size(zipped) - F.size(kept))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_tokens_removed"),
    )


def duplicated_spans_incremental(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    *,
    w: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = False,
    scope: CacheScope | None = None,
    windows: DataFrame | None = None,
) -> DataFrame:
    """Per-batch duplicate spans: windows of the NEW batch that already
    occur in the accumulated corpus (``seen_hashes``: one ``h`` column, the
    distinct window hashes of everything ingested so far) **or** more than
    once within the batch itself — merged into spans exactly like
    :func:`duplicated_spans`.

    ``windows``: optionally a PRE-COMPUTED (and ideally persisted)
    :func:`window_hashes` frame for ``new_docs`` at the same ``w`` —
    callers that also need the batch's hashes for warehouse accrual
    (``plans/incremental_curation.py``) pass it so the corpus is hashed
    exactly once.

    ``keep_first=True`` is the removal semantics for the trim workflow:
    for a window hash found ONLY within the batch, the lexicographically
    smallest (doc, pos) occurrence is exempted, so one copy of a
    batch-internal passage always survives; hashes already in
    ``seen_hashes`` correctly exempt NOTHING (the surviving copy lives in
    the corpus history). The trim workflow is: detect with
    ``keep_first=True`` → :func:`trim_spans` → append
    ``window_hashes(new_docs).select("h").distinct()`` (the PRE-trim
    hashes) to the seen table, so future batches dedup against the kept
    copy — the same accrual contract as the incremental MinHash and
    embedding-IVF paths. ``plans/incremental_curation.py::curate_batch``
    wires exactly that sequence.

    Cost contract: one pass over the batch + ONE STREAMING PROBE of the
    seen table. The accrued table is restricted to the batch's own hash
    values BEFORE anything shuffles it: the batch's distinct hashes are a
    batch-bounded frame, so the semi-join broadcasts them and the seen
    scan streams through the probe — history is READ once per fold but
    never SHUFFLED (the r11 fold-attribution probe measured the previous
    form's ``seen.distinct()`` — a full exchange + dedup of the
    multi-million-row accrued table every fold — as the dominant
    history-linear term, ~half the fold wall at 46k stored docs). The
    post-restriction ``distinct`` runs over at most the batch's hash
    count, and membership for hash values OUTSIDE the batch is irrelevant
    to the left join below — exact semantic equivalence, test-pinned.
    Per-batch work tracks the batch, never history².
    """
    win = windows
    if win is None:
        win = persist(
            window_hashes(new_docs, w=w, text_col=text_col, id_col=id_col),
            scope,
        )
    seen = (
        seen_hashes.select("h")
        # explicit hint: the probe side is batch-bounded by contract, and
        # a stats miss that planned this as a sort-merge join would
        # shuffle the accrued table — the exact cost this form removes
        .join(F.broadcast(win.select("h").distinct()), "h", "left_semi")
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    counts = win.groupBy("h").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__keep"),
    )
    marked = win.join(counts, "h").join(seen, "h", "left")
    hits = marked.where((F.col("__c") > 1) | F.col("__seen").isNotNull())
    if keep_first:
        # exempt the in-batch canonical occurrence — but only for hashes
        # the corpus has NOT seen (a seen hash's surviving copy is the
        # historical one; every batch occurrence is a repeat)
        hits = hits.where(
            F.col("__seen").isNotNull()
            | ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("pos") == F.col("__keep.pos"))
            )
        )
    return _merge_hit_windows(hits.select(id_col, "pos"), w=w, id_col=id_col)


__all__ = [
    "duplicated_spans",
    "duplicated_spans_incremental",
    "trim_spans",
    "window_hashes",
]
