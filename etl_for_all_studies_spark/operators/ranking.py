"""Corpus-statistics text ranking (TF-IDF / BM25) as pure DataFrame plans.

Beyond-reference capability: retrieval-style scoring over the document corpus
— rank documents for a bag-of-words query with BM25 (Robertson/Spärck Jones;
the k1/b form used by Lucene). Useful in a curation pipeline both for
search-style inspection and for query-targeted subset selection ("give me the
training docs most relevant to these probe terms").

Spark-native formulation (no UDFs, three narrow aggregations):

* per-doc term frequencies for the query terms only: tokenize → explode →
  ``isin(terms)`` filter → ``groupBy(doc, term)``. The filter sits directly
  on the exploded stream, so the shuffle carries only query-term hits —
  at 100 TB the shuffled volume is proportional to query-term occurrences,
  not corpus size;
* document frequencies + corpus aggregates (N, avgdl): one global agg over
  the narrow (doc, dl) projection plus a per-term distinct-doc count — both
  tiny results, joined back by **broadcast**;
* the BM25 formula is a codegen'd expression over (tf, df, dl, N, avgdl).

Scoring output is per (doc, query-hit); docs matching none of the terms
score 0 and are omitted (standard IR semantics — rank only the matches).
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import word_tokens
from ..functions.stats import round6


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hit_terms, score) — BM25 of each matching document for a
    bag-of-words ``terms`` query.

    idf uses the standard "+1 inside the log" form (non-negative for
    df > N/2): ``ln(1 + (N - df + 0.5) / (df + 0.5))``.
    """
    terms = [t.lower() for t in terms]
    toks = (
        docs.select(
            F.col(id_col), word_tokens(F.lower(F.col(text_col))).alias("toks")
        )
        .select(F.col(id_col), "toks", F.size("toks").alias("dl"))
    )
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    hits = toks.select(
        F.col(id_col), "dl", F.explode("toks").alias("term")
    ).where(F.col("term").isin(list(terms)))
    tf = hits.groupBy(id_col, "term", "dl").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        F.sum("term_score").alias("score"),
    )


def bm25_topk(
    docs: DataFrame, terms: Sequence[str], k: int = 20, **kwargs
) -> DataFrame:
    """Top-``k`` documents by BM25 score (ties broken by doc id — the
    deterministic-output discipline every suite query follows)."""
    id_col = kwargs.get("id_col", "doc_id")
    return (
        bm25_scores(docs, terms, **kwargs)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_doc_scores(
    docs: DataFrame,
    probe_ids: Sequence[int],
    *,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lexical query-by-example: score corpus documents by TF-IDF cosine
    against each probe document — "more like this" without embeddings
    (the lexical complement to ``similarity.brute_force_topk``; in a
    curation pipeline it pulls training docs resembling a seed set).

    Returns (probe_id, doc_id, cos_sim), self-matches excluded.

    Spark-native shape: per-doc term weights ``w = tf·ln(N/df)`` from two
    Zipf-bounded aggregations; the probe×corpus dot product is a sparse
    **co-occurrence join on term** (the word-level analog of the shingle
    join in ``dedup.ngram_jaccard_pairs``) — documents sharing no terms
    with a probe never meet, so work tracks shared-term hits, not
    |probes|·|corpus|. ``max_df`` drops stopword-like terms above a
    document-frequency cap, bounding the join at Σdf² over the kept
    vocabulary exactly like the shingle df-cap; terms at df = N also have
    idf = 0, so the default already zero-weights full-corpus terms.
    Norms include every term of each document (computed before the cap so
    cosine stays a true cosine over the full vector).
    """
    toks = docs.select(
        F.col(id_col), F.explode(word_tokens(F.lower(F.col(text_col)))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "df",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy(id_col).agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    if max_df is not None:
        w = w.where(F.col("df") <= max_df)
    probes = [int(p) for p in probe_ids]
    pw = w.where(F.col(id_col).isin(probes)).select(
        F.col(id_col).alias("probe_id"), "term", F.col("w").alias("wp")
    )
    dots = (
        pw.join(w.select(F.col(id_col), "term", F.col("w").alias("wd")), "term")
        .where(F.col("probe_id") != F.col(id_col))
        .groupBy("probe_id", id_col)
        .agg(F.sum(F.col("wp") * F.col("wd")).alias("dot"))
    )
    pn = norms.where(F.col(id_col).isin(probes)).select(
        F.col(id_col).alias("probe_id"), F.col("norm").alias("pnorm")
    )
    return (
        dots.join(F.broadcast(pn), "probe_id")
        .join(norms, id_col)
        .select(
            "probe_id",
            id_col,
            (F.col("dot") / (F.col("pnorm") * F.col("norm"))).alias("cos_sim"),
        )
    )


def tfidf_doc_similarity(
    docs: DataFrame,
    probe_ids: Sequence[int],
    *,
    k: int = 10,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` per probe by TF-IDF cosine (see :func:`tfidf_doc_scores`).

    Ranking uses the cosine quantized to a 1e-6 grid (ties → lowest doc
    id): the cosine is a SUM aggregate, so its last bits depend on
    partition order — near-tied documents would otherwise swap ranks
    between runs/partitionings. Returns (probe_id, doc_id, cos_sim, rank).
    """
    from pyspark.sql import Window

    scored = tfidf_doc_scores(
        docs, probe_ids, max_df=max_df, id_col=id_col, text_col=text_col
    )
    rw = Window.partitionBy("probe_id").orderBy(
        round6("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
        .select("probe_id", id_col, "cos_sim", "rank")
    )


__all__ = ["bm25_scores", "bm25_topk", "tfidf_doc_scores", "tfidf_doc_similarity"]
