"""Incremental corpus curation: fold ONE new crawl batch into a curated
corpus without re-curating history.

``plans/curation.py`` curates a corpus from scratch; at 100 TB that is a
one-time event. Steady state is a stream of crawl batches against a stored
kept corpus, and the scale contract is that per-batch cost depends on the
BATCH, never on |history|²:

1. **quality filter** the new batch (linear, batch-only);
2. **decontaminate** the new batch against the eval set (broadcast probe,
   batch-only);
3. **incremental near-dup**: ``incremental_minhash_dedup`` — candidates are
   (new×seen) ∪ (new×new) band joins; seen×seen is never recomputed (in
   production the seen-side signatures/bands are precomputed and stored);
4. **stability-first election**: any new doc near-duplicating a SEEN doc is
   dropped — the stored corpus never churns (retraining sees a stable
   history; the keep-best election already happened when the seen doc was
   admitted). New docs near-duplicating only each other cluster among
   themselves (connected components over new×new edges) and elect the
   min-id keeper, exactly like the batch plan's default policy;
5. **incremental span trim** (optional, ``trim_spans_w``): exact-substring
   duplicate spans of the admitted batch vs the warehouse's accumulated
   window-hash table (``operators/spans.py::duplicated_spans_incremental``
   with keep-first semantics — one copy of every passage survives
   corpus-wide) are cut from the admitted text, and the batch's distinct
   window hashes are surfaced for accrual (``new_window_hashes``) so
   future batches dedup against the kept copy: the PRE-trim hashes
   (shared with detection — the batch's main hashing pass runs ONCE)
   plus the POST-trim hashes of the docs a cut touched, so w-grams
   spanning a cut junction in the stored text are seen too;
6. the admitted batch is returned for appending — composing with
   ``streaming/corpus.py`` ingestion and ``operators/diff.py`` audits.

Determinism: every stage is hash- or policy-ordered, so re-running a batch
admits the identical set (idempotent append when combined with the
warehouse's digest anti-join, O-16).
"""
from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import CacheScope, persist
from ..operators.contamination import decontaminate
from ..operators.dedup import incremental_minhash_dedup, minhash_signatures
from ..operators.dedup_graph import connected_components
from ..operators.prefixjoin import incremental_jaccard_prefix_pairs
from ..operators.simjoin import route_jaccard_join
from ..operators.quality import QualityRules, annotate_quality


@dataclasses.dataclass
class IncrementalCurationResult:
    """Audit surface of one batch fold (lazy DataFrames).

    ``admitted`` is the sub-batch to append to the kept corpus; every other
    field explains a drop: failed quality, contaminated, duplicated a seen
    doc, or lost a new×new cluster election.
    """

    admitted: DataFrame
    quality: DataFrame                # doc_id + rule flags + keep
    contaminated: DataFrame | None    # doc_id hits (None if no eval set)
    vs_seen_pairs: DataFrame          # (doc_a, doc_b, vs_seen, ...) evidence
    dropped_vs_seen: DataFrame        # new doc_ids dropped for seen dups
    new_clusters: DataFrame           # (doc_id, cluster_id) among new docs
    trimmed_spans: DataFrame | None = None   # (doc_id, span_start, span_end,
    #                                  n_windows) cut from admitted (None
    #                                  unless trim_spans_w)
    new_window_hashes: DataFrame | None = None  # distinct window hashes of
    #                                  the admitted batch (pre-trim ∪ post-
    #                                  trim-junction) — append to the
    #                                  warehouse seen-hash table
    new_signatures: DataFrame | None = None  # (doc_id, sig) MinHash
    #                                  signatures of the FINAL (post-trim)
    #                                  admitted docs — store them and hand
    #                                  the accumulated table back as
    #                                  seen_signatures so no fold ever
    #                                  re-hashes the stored corpus


def curate_batch(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    *,
    rules: QualityRules | None = None,
    eval_docs: DataFrame | None = None,
    minhash_bands: int = 2,
    verify_threshold: float = 0.5,
    trim_spans_w: int | None = None,
    seen_window_hashes: DataFrame | None = None,
    seen_signatures: DataFrame | None = None,
    dedup_mode: str = "auto",
    scope: CacheScope | None = None,
) -> IncrementalCurationResult:
    """Fold ``new_docs`` into the corpus whose kept set is ``seen_docs``.

    Doc ids must be disjoint across the two inputs (warehouse contract).

    ``trim_spans_w`` enables the incremental span-trim stage: repeated
    ``trim_spans_w``-token passages — vs the accumulated corpus
    (``seen_window_hashes``: one ``h`` BIGINT column, the distinct window
    hashes of everything admitted so far; None bootstraps an empty table)
    or within the batch — are cut from the admitted text with keep-first
    semantics. The caller appends ``new_window_hashes`` to the warehouse
    seen-hash table after a successful batch commit.

    ``dedup_mode`` routes the near-dup stage (``"auto"`` = the profile
    rule over the batch∪seen join universe at the dedup k=5, see
    ``plans/curation.py::curate_corpus``). For STREAMING corpora the
    caller must NOT pass ``"auto"`` per fold — the profile drifts as
    batches accrue and the legs accrue different state; route once on the
    first fold and pin (``streaming/curation.py::_pin_route``), then pass
    the pinned leg explicitly.

    ``seen_signatures`` is the stored corpus's accumulated MinHash
    signature table ((doc_id, sig), same k=5/num_hashes=16 defaults as the
    dedup stage): when provided, the vs-seen banding reads it instead of
    re-hashing every seen doc — the O(|history|) HOF term the 300-fold
    streaming probe measured growing per fold. ``new_signatures`` on the
    result is the post-trim admitted batch's table to accrue; unioning the
    per-batch tables reproduces ``minhash_signatures`` of the stored corpus
    exactly (equivalence is test-pinned).
    """
    quality = annotate_quality(new_docs, rules=rules)
    passed = quality.where(F.col("keep") == 1).select(new_docs.columns)

    contaminated = None
    clean = passed
    if eval_docs is not None:
        decon = decontaminate(passed, eval_docs)
        contaminated = decon.where(F.col("contaminated") == 1).select("doc_id")
        clean = passed.join(contaminated, "doc_id", "left_anti")

    mode = (
        # the dedup joins new×seen ∪ new×new: profile the union universe
        # (the incremental prefix leg ranks dfs over exactly this frame)
        route_jaccard_join(
            clean.select("doc_id", "text").unionByName(
                seen_docs.select("doc_id", "text")
            ),
            k=5,
            threshold=verify_threshold,
        )
        if dedup_mode == "auto"
        else dedup_mode
    )
    if mode == "prefix":
        # clone regime (VERDICT r10 #3): exact prefix pairs, seen×seen
        # never enumerated. The stored-signatures seam is an LSH-leg
        # concept — this leg re-ranks dfs over the union per fold (linear
        # in |seen|, see incremental_jaccard_prefix_pairs) and accrues no
        # signature state, so the route must be persisted per corpus
        # (streaming/curation.py writes the marker) and never flip.
        pairs = incremental_jaccard_prefix_pairs(
            clean,
            seen_docs,
            threshold=verify_threshold,
            scope=scope,
        )
    elif mode == "lsh":
        pairs = incremental_minhash_dedup(
            clean,
            seen_docs,
            bands=minhash_bands,
            verify_threshold=verify_threshold,
            seen_signatures=seen_signatures,
            scope=scope,
        )
    else:
        raise ValueError(
            f"dedup_mode must be auto|prefix|lsh, got {dedup_mode!r}"
        )
    if scope is not None:
        pairs = scope.persist(pairs)
    else:
        pairs = pairs.persist()

    # ids are disjoint and canonicalized doc_a < doc_b, so for a vs_seen
    # pair the NEW doc can sit on either side — recover it by anti-masking
    # against the seen id set via two semi-joins on the narrow projections
    seen_ids = seen_docs.select("doc_id")
    a_side = pairs.where(F.col("vs_seen") == 1).select(F.col("doc_a").alias("doc_id"))
    b_side = pairs.where(F.col("vs_seen") == 1).select(F.col("doc_b").alias("doc_id"))
    dropped_vs_seen = (
        a_side.unionByName(b_side)
        .join(seen_ids, "doc_id", "left_anti")
        .distinct()
    )

    survivors = clean.join(dropped_vs_seen, "doc_id", "left_anti")
    nn_edges = pairs.where(F.col("vs_seen") == 0).select(
        F.col("doc_a").cast("long").alias("u"),
        F.col("doc_b").cast("long").alias("v"),
    )
    clusters = connected_components(
        nn_edges,
        nodes=survivors.select(F.col("doc_id").cast("long").alias("node")),
        scope=scope,
    ).select(F.col("node").alias("doc_id"), "cluster_id")
    keepers = clusters.where(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    admitted = survivors.join(keepers, "doc_id", "left_semi")

    trimmed_spans = None
    new_window_hashes = None
    if trim_spans_w is not None:
        from ..operators.spans import (
            duplicated_spans_incremental,
            trim_spans,
            window_hashes,
        )

        # the admitted frame feeds detection, trimming, AND accrual — pin it,
        # and hash it exactly once (detection + accrual share `win`)
        admitted = persist(admitted, scope)
        win = persist(window_hashes(admitted, w=trim_spans_w), scope)
        seen_h = seen_window_hashes
        if seen_h is None:
            seen_h = new_docs.sparkSession.createDataFrame([], "h BIGINT")
        # pin the detection result: its lineage carries the accrued-corpus
        # hash probe, and it feeds THREE consumers (the trim rewrite, the
        # junction-rehash id set, and the audit count) — unpersisted, the
        # per-fold history scan ran once per consumer, the dominant
        # history-linear term the r11 fold-attribution probe measured
        trimmed_spans = persist(
            duplicated_spans_incremental(
                admitted,
                seen_h,
                w=trim_spans_w,
                keep_first=True,
                scope=scope,
                windows=win,
            ),
            scope,
        )
        # keep the INPUT schema on admitted: the corpus directory is
        # appended across batches with and without the trim stage, and a
        # schema that grows an audit column would make parquet appends
        # reader-inconsistent. Per-doc removal evidence lives on
        # trimmed_spans (token ranges + window counts).
        admitted = trim_spans(admitted, trimmed_spans).select(new_docs.columns)
        # accrual = PRE-trim hashes (cut passages are legitimately "seen":
        # their kept copy's hashes are the same values) PLUS the POST-trim
        # hashes of docs a cut actually touched: trimming concatenates the
        # surviving tokens, so w-grams SPANNING a cut junction exist in the
        # stored text but never existed pre-trim — without this second
        # pass a future batch duplicating a junction passage would slip
        # through. Only trimmed docs are re-hashed (trim_spans is a no-op
        # on the rest, so their pre-trim hashes already cover them) and
        # the re-hash reuses the persisted admitted frame — per-batch cost
        # stays governed by the batch, and by the trim rate within it.
        trimmed_ids = trimmed_spans.select("doc_id").distinct()
        junction_h = window_hashes(
            admitted.join(trimmed_ids, "doc_id", "left_semi"),
            w=trim_spans_w,
        ).select("h")
        new_window_hashes = (
            win.select("h").unionByName(junction_h).distinct()
        )

    # signatures of the FINAL admitted text (post-trim when trimming):
    # accruing pre-trim signatures would drift from what a recompute over
    # the STORED corpus produces, so the accrual hashes exactly what the
    # corpus stores — per-batch cost, batch-sized. A prefix-routed corpus
    # accrues NO signature state (the leg never bands), so the result
    # carries None and the streaming fold writes no signatures partition.
    new_signatures = (
        minhash_signatures(admitted) if mode == "lsh" else None
    )

    return IncrementalCurationResult(
        admitted=admitted,
        quality=quality,
        contaminated=contaminated,
        vs_seen_pairs=pairs,
        dropped_vs_seen=dropped_vs_seen,
        new_clusters=clusters,
        trimmed_spans=trimmed_spans,
        new_window_hashes=new_window_hashes,
        new_signatures=new_signatures,
    )


__all__ = ["IncrementalCurationResult", "curate_batch"]
