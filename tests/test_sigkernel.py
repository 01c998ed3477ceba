"""Equivalence pins for the vectorized Arrow shingle/token-hash kernels.

Each kernel is checked against a short pure-Python reference: the MinHash
signatures against a fold over ``ord()`` code points, the token and window
hashes against folds over per-token hashes computed by the JVM
``poly_hash`` over ``word_tokens(lower(text))`` (so Spark's own case
mapping and ``\\s+`` split stay the spec, not a re-implementation). Every
reference runs on real corpus rows AND on the unicode/whitespace edge
cases where a byte-level shortcut would diverge (astral-plane emoji, CJK,
combining marks, tabs and unicode spaces, empty/short/NULL texts).
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_for_all_studies_spark.functions.hashing import (
    BASE,
    BASE2,
    MOD,
    MOD2,
    PACK_SHIFT,
    poly_hash,
    word_tokens,
)
from etl_for_all_studies_spark.functions.sigkernel import (
    mod_powers,
    window_hashes,
)
from etl_for_all_studies_spark.operators.dedup import (
    MINHASH_SEEDS,
    minhash_signatures,
)

NASTY = [
    (1, ""),
    (2, None),
    (3, "ab"),
    (4, "abcde"),
    (5, "héllo wörld ünïcode"),
    (6, "日本語のテキストです、短い"),
    (7, "emoji \U0001f600\U0001f600\U0001f600 test \U0001f600 more text"),
    (8, "a" * 5),
    (9, "tab\tand\nnewline chars mixed in here"),
    (10, "combining: cafe\u0301 naive\u0308 x"),  # decomposed (NFD)
    (11, "exactly5c"),
    (12, "ascii only but fairly long " * 40),
]

TOKEN_NASTY = [
    (21, ""),
    (22, None),
    (23, "\tleading tab"),
    (24, "trailing tab\t"),
    (25, "  spaces  around  "),
    (26, "MiXeD CaSe ß İ"),
    (27, "a\x0bb\x0cc\rd\ne"),
    (28, "nb\u00a0space und\u2009thin"),  # unicode spaces are NOT separators
    (29, "\t\t"),
    (30, "emoji \U0001f600 tok \U0001f600x"),
    (31, "日本語 テキスト 短い"),
]

# edge-doc ids offset past the corpus id range: every comparison below is
# keyed by doc id, so ids must be globally unique across the union
_EDGE_ID = 1_000_000


def _docs(spark, corpus=None):
    """The ``corpus`` sample's rows plus every NASTY/TOKEN_NASTY doc, built
    from collected rows so the kernel and the Python reference see the
    SAME rows (a re-evaluated ``limit`` need not pick the same ones)."""
    rows = [] if corpus is None else [
        (r["doc_id"], r["text"]) for r in corpus.collect()
    ]
    rows += [(_EDGE_ID + i, t) for i, t in NASTY + TOKEN_NASTY]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _fold(values, base=BASE, mod=MOD) -> int:
    acc = 0
    for v in values:
        acc = (acc * base + v) % mod
    return acc


def _py_minhash(text, k: int, num_hashes: int):
    """Reference signature: per seed, the min over every k-code-point
    window's polynomial hash of ``(a·h + b) mod MOD``; no row (None) for
    NULL texts and texts shorter than k."""
    if text is None or len(text) < k:
        return None
    cps = [ord(c) for c in text]
    hs = {_fold(cps[i : i + k]) for i in range(len(cps) - k + 1)}
    return [
        min((h * a + b) % MOD for h in hs)
        for a, b in MINHASH_SEEDS[:num_hashes]
    ]


def _py_minhash_sigs(docs, k: int, num_hashes: int) -> dict:
    out = {}
    for r in docs.collect():
        sig = _py_minhash(r["text"], k, num_hashes)
        if sig is not None:
            out[r["doc_id"]] = sig
    return out


def _jvm_token_hashes(docs) -> dict:
    """doc id → (t1, t2): JVM ``poly_hash`` of each lowercase whitespace
    token under both (base, mod) pairs; None for NULL texts."""
    toks = word_tokens(F.lower(F.col("text")))
    return {
        r["doc_id"]: None if r["t1"] is None else (r["t1"], r["t2"])
        for r in docs.select(
            "doc_id",
            F.transform(toks, lambda t: poly_hash(t)).alias("t1"),
            F.transform(
                toks, lambda t: poly_hash(t, base=BASE2, mod=MOD2)
            ).alias("t2"),
        ).collect()
    }


def _collect_sigs(df):
    return {r["doc_id"]: list(r["sig"]) for r in df.collect()}


def test_mod_powers_matches_pow():
    p = mod_powers(BASE, 300, MOD)
    for i in (0, 1, 2, 17, 299):
        assert p[i] == pow(BASE, i, MOD)


def test_window_hashes_match_direct_fold():
    texts = ["abcdefgh", "shor", "polynomial hashing"]
    k = 5
    cps_parts = [
        np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        for t in texts
    ]
    offs = np.zeros(len(texts) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(c) for c in cps_parts])
    cps = np.concatenate(cps_parts)
    h, seg = window_hashes(cps, offs, k)
    # direct fold reference
    expect = []
    for t in texts:
        if len(t) < k:
            continue
        for i in range(len(t) - k + 1):
            acc = 0
            for ch in t[i : i + k]:
                acc = (acc * BASE + ord(ch)) % MOD
            expect.append(acc)
    assert h.tolist() == expect
    assert seg.tolist() == [0, 4, 18]


@pytest.mark.parametrize("k,num_hashes", [(5, 16), (9, 16), (5, 8)])
def test_arrow_kernel_matches_hof_on_nasty_docs(spark, k, num_hashes):
    """The MinHash kernel equals the pure-Python code-point fold on the
    edge docs: astral-plane emoji count as ONE code point each, and
    NULL/empty/short texts get no signature row."""
    docs = _docs(spark)
    got = _collect_sigs(minhash_signatures(docs, k=k, num_hashes=num_hashes))
    assert got == _py_minhash_sigs(docs, k, num_hashes)


def test_arrow_kernel_matches_hof_on_corpus_sample(spark):
    docs = _docs(
        spark,
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(200),
    )
    got = _collect_sigs(minhash_signatures(docs))
    assert got == _py_minhash_sigs(docs, 5, 16)
    assert len(got) > 200  # corpus rows plus the long edge docs


@pytest.mark.parametrize("k", [5, 9])
def test_shingle_array_df_matches_char_shingles(spark, k):
    from etl_for_all_studies_spark.functions.hashing import char_shingles
    from etl_for_all_studies_spark.functions.sigkernel import shingle_array_df

    corpus = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(150)
    )
    docs = corpus.unionByName(
        spark.createDataFrame(
            [(100000 + i, t) for i, t in NASTY], "doc_id BIGINT, text STRING"
        )
    )
    want = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", char_shingles(F.col("text"), k).alias("s")
        ).collect()
    }
    got = {
        r["doc_id"]: r["s"]
        for r in shingle_array_df(
            docs, text_col="text", k=k, out_col="s"
        ).collect()
    }
    # full-row equality: same doc set, same arrays, same ELEMENT ORDER
    # (first-occurrence — array_intersect/array semantics downstream)
    assert got == want


def test_shingle_array_df_extra_cols_pass_through(spark):
    from etl_for_all_studies_spark.functions.sigkernel import shingle_array_df

    docs = spark.createDataFrame(
        [(1, "abcdefgh", 1), (2, None, 0), (3, "ab", 1)],
        "doc_id BIGINT, text STRING, __new INT",
    )
    rows = shingle_array_df(
        docs, text_col="text", k=5, out_col="s", extra_cols=("__new",)
    ).collect()
    assert {r["doc_id"]: r["__new"] for r in rows} == {1: 1, 2: 0, 3: 1}
    assert list(rows[0].asDict()) == ["doc_id", "__new", "s"]


def test_profile_hashed_histogram_matches_string_histogram(spark):
    """The router profile's distinct-shingle-hash rows must yield the SAME
    df-value histogram as exploding the string shingles (identity-only
    use; a cross-shingle collision would merge two histogram rows)."""
    from etl_for_all_studies_spark.functions.hashing import char_shingles
    from etl_for_all_studies_spark.functions.sigkernel import (
        distinct_shingle_hash_df,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
    )
    want = [
        (r["df"], r["n"])
        for r in docs.select(
            F.explode(char_shingles(F.col("text"), 5)).alias("sh")
        )
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("df")
        .collect()
    ]
    got = [
        (r["df"], r["n"])
        for r in distinct_shingle_hash_df(docs, text_col="text", k=5)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("df")
        .collect()
    ]
    assert got == want


@pytest.mark.parametrize("w", [1, 8])
def test_token_hash_kernel_matches_hof(spark, w):
    """The span/SimHash token-hash pass: the Arrow kernel must carry, per
    token, the JVM ``poly_hash`` under both pairs, packed ``h1·2^30 + h2``
    — including Java-regex \\s semantics (leading/trailing empty tokens
    hash to 0; unicode spaces are token characters), the empty-string
    guard, and NULL texts keeping a NULL array (below the ``≥ w`` row
    filter the span family applies)."""
    from etl_for_all_studies_spark.functions.sigkernel import (
        token_hash_array_df,
    )

    docs = _docs(
        spark,
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(150),
    )
    got = {
        r["doc_id"]: r["__th"]
        for r in token_hash_array_df(docs, text_col="text", id_col="doc_id")
        .where(F.size(F.col("__th")) >= F.lit(w))
        .collect()
    }
    want = {}
    for d, th in _jvm_token_hashes(docs).items():
        if th is not None and len(th[0]) >= w:
            want[d] = [(a << PACK_SHIFT) + b for a, b in zip(*th)]
    assert got == want
    nulls = token_hash_array_df(
        docs.where(F.col("text").isNull()), text_col="text", id_col="doc_id"
    ).collect()
    assert nulls and all(r["__th"] is None for r in nulls)


def test_simhash_token_hashes_match_hof(spark):
    """SimHash's vote hashes (the packed kernel's first component) must
    equal ``transform(word_tokens(lower(text)), poly_hash)`` — NULL texts
    keeping their NULL array (explode_outer contract)."""
    from etl_for_all_studies_spark.functions.sigkernel import (
        token_hash_array_df,
    )

    docs = _docs(
        spark,
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(150),
    )
    want = {
        d: None if th is None else th[0]
        for d, th in _jvm_token_hashes(docs).items()
    }
    got = {
        r["doc_id"]: r["th"]
        for r in token_hash_array_df(
            docs, text_col="text", id_col="doc_id", out_col="__pk"
        )
        .select(
            "doc_id",
            F.transform(
                F.col("__pk"), lambda t: F.shiftright(t, PACK_SHIFT)
            ).alias("th"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("w", [2, 8, 20, 50])
def test_window_hash_kernel_matches_jvm_strategies(spark, w):
    """``spans.window_hashes`` (the one-pass Arrow window kernel) against a
    Python fold over the JVM token hashes: same row set (docs with ≥ w
    tokens only; NULL/empty/short texts dropped), same 1-based int
    positions, same combined ``h1·MOD2 + h2`` keys — across real corpus
    rows plus the whitespace/unicode edge docs."""
    from etl_for_all_studies_spark.operators.spans import window_hashes

    docs = _docs(
        spark,
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(120),
    )
    kern = window_hashes(docs, w=w, text_col="text", id_col="doc_id")
    assert [f.dataType.simpleString() for f in kern.schema.fields] == [
        "bigint",
        "int",
        "bigint",
    ]
    got = {(r["doc_id"], r["pos"]): r["h"] for r in kern.collect()}
    want = {}
    for d, th in _jvm_token_hashes(docs).items():
        if th is None:
            continue
        t1, t2 = th
        for p in range(len(t1) - w + 1):
            want[(d, p + 1)] = _fold(t1[p : p + w]) * MOD2 + _fold(
                t2[p : p + w], BASE2, MOD2
            )
    assert got == want, f"w={w}"
    if w <= 20:
        assert got  # non-degenerate at widths the corpus actually has


def test_combined_kernel_matches_separate_passes(spark):
    """The one-scan (sig, shingles) kernel must reproduce BOTH single-pass
    kernels exactly: ``sig IS NOT NULL`` recovers minhash_signatures' row
    set and values; the array column matches shingle_array_df on every
    row (NULL/short texts included)."""
    from etl_for_all_studies_spark.functions.sigkernel import (
        minhash_and_shingles_df,
        shingle_array_df,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(150)
        .unionByName(
            spark.createDataFrame(NASTY, "doc_id BIGINT, text STRING")
        )
    )
    both = minhash_and_shingles_df(
        docs, text_col="text", k=5, seeds=MINHASH_SEEDS[:16],
        set_col="shingles",
    )
    got_sig = {
        r["doc_id"]: list(r["sig"])
        for r in both.where(F.col("sig").isNotNull())
        .select("doc_id", "sig")
        .collect()
    }
    want_sig = _collect_sigs(minhash_signatures(docs, k=5, num_hashes=16))
    assert got_sig == want_sig
    got_set = {
        r["doc_id"]: r["shingles"]
        for r in both.select("doc_id", "shingles").collect()
    }
    want_set = {
        r["doc_id"]: r["s"]
        for r in shingle_array_df(
            docs, text_col="text", k=5, out_col="s"
        ).collect()
    }
    assert got_set == want_set


def test_profile_from_arrays_matches_standalone(spark):
    from etl_for_all_studies_spark.functions.sigkernel import shingle_array_df
    from etl_for_all_studies_spark.operators.simjoin import profile_shingle_dfs

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
    )
    standalone = profile_shingle_dfs(docs, k=9, threshold=0.6)
    arrays = shingle_array_df(docs, text_col="text", k=9, out_col="__set")
    shared = profile_shingle_dfs(
        docs, k=9, threshold=0.6, shingle_arrays=arrays
    )
    assert shared == standalone
