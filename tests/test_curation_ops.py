"""Curation-operator unit tests: quality rules, packing/chunking, sampling,
incremental dedup, and connected-components clustering (hand-checkable inline
fixtures; the suite-level DuckDB oracles cover the at-SF formulations)."""
import re

import pytest
from pyspark.sql import functions as F

from etl_for_all_studies_spark.operators.dedup import incremental_new_documents
from etl_for_all_studies_spark.operators.dedup_graph import (
    connected_components,
    dedup_clusters,
    exact_dup_star_edges,
)
from etl_for_all_studies_spark.operators.packing import chunk_text, pack_contiguous
from etl_for_all_studies_spark.operators.quality import (
    QualityRules,
    annotate_quality,
    quality_filter,
)
from etl_for_all_studies_spark.operators.sampling import hash_sample, sample_bucket


# --------------------------------------------------------------------------
# quality rules
# --------------------------------------------------------------------------

RULES = QualityRules(min_words=5, max_words=20, min_mean_word_len=2.0,
                     max_mean_word_len=8.0, min_type_token_ratio=0.5,
                     min_stopword_ratio=0.1)


def test_quality_flags(spark):
    rows = [
        (1, "the cat sat on a very warm mat today"),      # passes everything
        (2, "short text"),                                # fails min_words
        (3, "spam " * 9 + "spam"),                        # low ttr, no stopwords
        (4, ""),                                          # empty → fails
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in annotate_quality(df, rules=RULES).collect()}

    assert out[1]["keep"] == 1 and out[1]["n_words"] == 9
    assert out[2]["pass_n_words"] == 0 and out[2]["keep"] == 0
    assert out[3]["pass_ttr"] == 0 and out[3]["pass_stopwords"] == 0
    assert out[3]["type_token_ratio"] == pytest.approx(0.1)
    assert out[4]["n_words"] == 0 and out[4]["keep"] == 0

    kept = quality_filter(df, rules=RULES).select("doc_id").collect()
    assert [r["doc_id"] for r in kept] == [1]


# --------------------------------------------------------------------------
# contiguous packing
# --------------------------------------------------------------------------

def test_pack_contiguous_boundaries(spark):
    rows = [  # (doc_id, source, n_tokens)
        (1, "a", 300), (2, "a", 300), (3, "a", 300),
        (10, "b", 600), (11, "b", 100),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = {
        r["doc_id"]: (r["pack_offset"], r["pack_id"])
        for r in pack_contiguous(df, "n_tokens", budget=512).collect()
    }
    # group a: offsets 0/300/600 → packs 0/0/1 (doc 2 straddles the boundary
    # but is assigned by its *start* offset — concat-then-split semantics)
    assert out[1] == (0, 0) and out[2] == (300, 0) and out[3] == (600, 1)
    # group b packs independently of group a
    assert out[10] == (0, 0) and out[11] == (600, 1)


# --------------------------------------------------------------------------
# chunking
# --------------------------------------------------------------------------

def test_chunk_text_windows(spark):
    text = "x" * 350
    df = spark.createDataFrame(
        [(1, text), (2, ""), (3, "short")], "doc_id long, text string"
    )
    chunks = chunk_text(df, size=200, stride=150).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # starts 1, 151, 301 → lengths 200, 200, 50; every char covered
    assert [r["chunk_len"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])] == [200, 200, 50]
    assert 2 not in by_doc  # empty text yields no chunks
    assert [r["chunk_len"] for r in by_doc[3]] == [5]
    assert by_doc[3][0]["chunk_text"] == "short"


# --------------------------------------------------------------------------
# deterministic sampling
# --------------------------------------------------------------------------

def test_hash_sample_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, "s") for i in range(200)], "doc_id long, source string"
    )
    kept1 = sorted(
        r["doc_id"]
        for r in hash_sample(df, F.col("doc_id"), F.lit(300)).collect()
    )
    kept2 = sorted(
        r["doc_id"]
        for r in hash_sample(df, F.col("doc_id"), F.lit(300)).collect()
    )
    assert kept1 == kept2  # rerun-stable (no rand())
    assert 0 < len(kept1) < 200  # rate 300/1000 keeps a strict subset
    assert sorted(
        r["doc_id"] for r in hash_sample(df, F.col("doc_id"), F.lit(1000)).collect()
    ) == list(range(200))
    assert hash_sample(df, F.col("doc_id"), F.lit(0)).count() == 0
    buckets = [r[0] for r in df.select(sample_bucket(F.col("doc_id"))).collect()]
    assert all(0 <= b < 1000 for b in buckets)


# --------------------------------------------------------------------------
# incremental dedup
# --------------------------------------------------------------------------

def test_incremental_new_documents(spark):
    old = spark.createDataFrame([(1, "seen before")], "doc_id long, text string")
    seen = old.select(F.md5("text").alias("text_hash")).distinct()
    new = spark.createDataFrame(
        [
            (10, "seen before"),   # digest already in warehouse → dropped
            (11, "fresh one"),
            (12, "fresh two"),
            (13, "fresh two"),     # in-batch dup → folded into keeper 12
        ],
        "doc_id long, text string",
    )
    out = {
        r["keeper_doc_id"]: r["n_in_batch"]
        for r in incremental_new_documents(new, seen).collect()
    }
    assert out == {11: 1, 12: 2}


# --------------------------------------------------------------------------
# connected components / dedup clusters
# --------------------------------------------------------------------------

def test_connected_components_chain_and_isolates(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "u long, v long"
    )
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 10, 11, 20]], "node long")
    out = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_path_converges(spark, conf_writes, monkeypatch):
    # a 64-node path exercises pointer jumping (plain neighbor-min would need
    # 63 rounds; the jump step collapses it well inside max_iter).
    # local_edge_threshold=0 forces the distributed loop — the scale path —
    # so this test covers it even though the graph fits the local solver.
    from etl_for_all_studies_spark.operators import dedup_graph

    round_plans = []
    checkpoint = dedup_graph.fresh_stats_checkpoint

    def record_plan(df):
        round_plans.append(df._jdf.queryExecution().executedPlan().toString())
        return checkpoint(df)

    monkeypatch.setattr(dedup_graph, "fresh_stats_checkpoint", record_plan)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "u long, v long"
    )
    out = connected_components(edges, max_iter=12, local_edge_threshold=0)
    assert out.where(F.col("cluster_id") != 0).count() == 0
    assert out.count() == 64
    # the loop sizes its shuffles with explicit repartition counts (2 for
    # this graph, the session has 4) and never sets or restores session conf
    assert conf_writes == []
    loop_plan = round_plans[1]
    widths = re.findall(r"hashpartitioning\([^)]*, (\d+)\)", loop_plan)
    assert widths and set(widths) == {"2"}, widths
    assert "ENSURE_REQUIREMENTS" not in loop_plan


def test_connected_components_local_and_distributed_agree(spark):
    # two components + isolate, random-ish ids; both paths must label
    # identically (cluster_id = min member)
    pairs = [(7, 3), (3, 9), (20, 21), (21, 22), (22, 20)]
    edges = spark.createDataFrame(pairs, "u long, v long")
    nodes = spark.createDataFrame([(n,) for n in [3, 7, 9, 20, 21, 22, 99]], "node long")
    expect = {3: 3, 7: 3, 9: 3, 20: 20, 21: 20, 22: 20, 99: 99}
    for thr in (0, 2_000_000):
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                edges, nodes=nodes, local_edge_threshold=thr
            ).collect()
        }
        assert got == expect, f"threshold={thr}"


def test_dedup_clusters_merges_exact_and_near(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaaa"), (2, "aaaa"),   # exact dups → star edge 2→1
            (3, "bbbb"),               # near-dup of 1 via supplied pair edge
            (4, "cccc"),               # singleton
        ],
        "doc_id long, text string",
    )
    stars = exact_dup_star_edges(docs).collect()
    assert [(r["u"], r["v"]) for r in stars] == [(2, 1)]

    near = spark.createDataFrame([(1, 3)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in dedup_clusters(docs, near).collect()}
    assert {d: r["cluster_id"] for d, r in out.items()} == {1: 1, 2: 1, 3: 1, 4: 4}
    assert out[1]["cluster_size"] == 3 and out[4]["cluster_size"] == 1
    assert sorted(d for d, r in out.items() if r["is_keeper"] == 1) == [1, 4]


# --------------------------------------------------------------------------
# keeper policy selection
# --------------------------------------------------------------------------

def test_select_cluster_keepers_policy_and_ties(spark):
    from etl_for_all_studies_spark.operators.dedup_graph import (
        select_cluster_keepers,
    )

    rows = [  # (doc_id, cluster_id, score)
        (1, 1, 5), (2, 1, 9), (3, 1, 9),   # tie at 9 → lowest id (2) wins
        (7, 7, 4),                         # singleton keeps itself
    ]
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long, score long")
    out = {
        r["cluster_id"]: r
        for r in select_cluster_keepers(df, score_col="score").collect()
    }
    assert out[1]["keeper_doc_id"] == 2 and out[1]["keeper_score"] == 9
    assert out[1]["cluster_size"] == 3
    assert out[7]["keeper_doc_id"] == 7 and out[7]["cluster_size"] == 1


def test_select_cluster_keepers_string_ids(spark):
    """The policy operator is generic over id type: string doc ids (crawl
    URLs, UUIDs) order lexicographically in the tie-break — the ordering
    struct negates the (numeric) score, never the id (ADVICE r2)."""
    from etl_for_all_studies_spark.operators.dedup_graph import (
        select_cluster_keepers,
    )

    rows = [  # (doc_id, cluster_id, score)
        ("url/b", "c1", 9), ("url/a", "c1", 9), ("url/z", "c1", 5),
        ("solo", "c2", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id string, cluster_id string, score long")
    out = {
        r["cluster_id"]: r
        for r in select_cluster_keepers(df, score_col="score").collect()
    }
    assert out["c1"]["keeper_doc_id"] == "url/a"  # tie at 9 → lexicographic min
    assert out["c1"]["keeper_score"] == 9 and out["c1"]["cluster_size"] == 3
    assert out["c2"]["keeper_doc_id"] == "solo"


# --------------------------------------------------------------------------
# canonical-form dedup
# --------------------------------------------------------------------------

def test_canonicalize_text_collapses_trivial_variants(spark):
    from etl_for_all_studies_spark.operators.textops import canonicalize_text

    rows = [
        (1, "Hello,   World!"),
        (2, "hello world"),          # same canonical form as 1
        (3, "hello  world?!?"),      # same again
        (4, "goodbye world"),        # different
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    canon = df.select("doc_id", canonicalize_text(F.col("text")).alias("c"))
    vals = {r["doc_id"]: r["c"] for r in canon.collect()}
    assert vals[1] == vals[2] == vals[3] == "hello world"
    assert vals[4] != vals[1]


# --------------------------------------------------------------------------
# deterministic sharding
# --------------------------------------------------------------------------

def test_write_training_shards_deterministic_and_partitioned(spark, tmp_path):
    from etl_for_all_studies_spark.operators.sharding import (
        assign_shards,
        write_training_shards,
    )

    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    a = {r["doc_id"]: r["shard"] for r in assign_shards(docs, 8).collect()}
    b = {r["doc_id"]: r["shard"] for r in assign_shards(docs, 8).collect()}
    assert a == b                                   # retry/rerun-stable
    assert set(a.values()) == set(range(8))         # all shards populated

    path = str(tmp_path / "shards")
    manifest = write_training_shards(docs, path, n_shards=8)
    m = {r["shard"]: r["n_docs"] for r in manifest.collect()}
    assert sum(m.values()) == 200
    # hive layout: one directory per shard
    dirs = sorted(p.name for p in (tmp_path / "shards").iterdir() if p.name.startswith("shard="))
    assert dirs == [f"shard={k}" for k in sorted(m)]
    # written data reproduces the plan-side assignment
    back = spark.read.parquet(path)
    got = {r["doc_id"]: int(r["shard"]) for r in back.collect()}
    assert got == a


def test_select_cluster_keepers_aggregates_with_partial_max_by(spark):
    from etl_for_all_studies_spark.operators.dedup_graph import (
        select_cluster_keepers,
    )

    df = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 9)], "doc_id long, cluster_id long, score long"
    )
    plan = (
        select_cluster_keepers(df, score_col="score")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # keeper choice must be a two-phase aggregate (partial min_by before the
    # exchange), never a per-cluster window sort — that's what keeps a
    # mega-cluster from funnelling through one task (min_by since the
    # string-id-safe ordering negates the score, ADVICE r2)
    assert "min_by" in plan and "Window" not in plan, plan


def test_canonicalize_text_idempotent_and_edge_cases(spark):
    from etl_for_all_studies_spark.operators.textops import canonicalize_text

    rows = [
        (1, ""), (2, "   "), (3, "...!!!"), (4, "A-B_c  9"),
        (5, "tabs\tand\nnewlines"), (6, "ÜBER café"),  # non-ASCII collapses
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = df.select("doc_id", canonicalize_text(F.col("text")).alias("c"))
    twice = once.select("doc_id", canonicalize_text(F.col("c")).alias("c"))
    assert once.collect() == twice.collect()   # idempotent
    vals = {r["doc_id"]: r["c"] for r in once.collect()}
    assert vals[1] == vals[2] == vals[3] == ""  # degenerate → empty canon
    assert vals[4] == "a b c 9"
    assert vals[5] == "tabs and newlines"


def test_shard_hash_replayable_in_pure_python(spark):
    """The sharding decision must be replayable outside any engine (audit
    contract): reimplement poly/affine hash in 5 lines of Python and check
    Spark agrees on tricky keys — empty, long, high-codepoint, numeric."""
    from etl_for_all_studies_spark.functions.hashing import BASE, MOD
    from etl_for_all_studies_spark.operators.sharding import (
        SHARD_A,
        SHARD_B,
        assign_shards,
    )

    def py_shard(key: str, n: int) -> int:
        h = 0
        for ch in key:
            h = (h * BASE + ord(ch)) % MOD
        return ((h * SHARD_A + SHARD_B) % MOD) % n

    keys = ["", "a", "doc-42", "x" * 500, "naïve café", "0", "12345", "Ω≈ç√"]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id string")
    got = {r["doc_id"]: r["shard"] for r in assign_shards(df, 16).collect()}
    assert got == {k: py_shard(k, 16) for k in keys}


def test_sample_fixed_per_group_counts_and_stability(spark):
    from etl_for_all_studies_spark.operators.sampling import sample_fixed_per_group

    rows = [(i, f"src{i % 3}") for i in range(100)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sample_fixed_per_group(
        df, group_cols=["source"], key_col="doc_id", n=5
    ).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert {s: len(v) for s, v in by_src.items()} == {
        "src0": 5, "src1": 5, "src2": 5, "tiny": 1,  # min(n, |group|)
    }
    # frozen tape: rerun identical; appending rows never reshuffles
    # survivors except by displacement
    again = sample_fixed_per_group(
        df, group_cols=["source"], key_col="doc_id", n=5
    ).collect()
    assert {(r["doc_id"], r["source"]) for r in again} == {
        (r["doc_id"], r["source"]) for r in got
    }
    bigger = sample_fixed_per_group(
        df.unionByName(
            spark.createDataFrame([(5000, "src0")], "doc_id long, source string")
        ),
        group_cols=["source"], key_col="doc_id", n=5,
    ).collect()
    new_src0 = {r["doc_id"] for r in bigger if r["source"] == "src0"}
    # at most ONE member changes (the new row either displaces the highest-
    # hash member or is itself rejected)
    assert len(by_src["src0"] - new_src0) <= 1


def test_snapshot_diff_classification_and_null_safety(spark):
    from etl_for_all_studies_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", None),   # NULL value — NULL->NULL must be 'same'
            (3, "c", 30.0),   # will be removed
            (4, None, 40.0),  # NULL -> value must be 'changed'
        ],
        "id long, name string, price double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 11.0),    # price changed
            (2, "b", None),    # identical incl. NULL
            (4, "d", 40.0),    # name NULL->d
            (5, "e", 50.0),    # added
        ],
        "id long, name string, price double",
    )
    got = {r["id"]: r.asDict() for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got[1]["change"] == "changed" and got[1]["changed_cols"] == ["price"]
    assert 2 not in got  # same rows filtered by default
    assert got[3]["change"] == "removed" and got[3]["changed_cols"] == []
    assert got[4]["change"] == "changed" and got[4]["changed_cols"] == ["name"]
    assert got[5]["change"] == "added"
    with_same = {
        r["id"]: r["change"]
        for r in snapshot_diff(old, new, ["id"], include_same=True).collect()
    }
    assert with_same[2] == "same"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        snapshot_diff(old, new.drop("price"), ["id"])


def test_semantic_decontaminate_flags_and_sentinels(spark):
    """Planted geometry: an exact eval copy is contaminated, a near-copy
    above threshold too, an orthogonal vector is not; zero-norm train
    vectors and (separately) an empty eval set yield the -1.0 sentinel."""
    from etl_for_all_studies_spark.operators.contamination import (
        semantic_decontaminate,
    )

    train = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),     # exact eval copy
            (2, [0.99, 0.14, 0.0]),   # cos ~0.990 vs e1 — above 0.95
            (3, [0.0, 0.0, 1.0]),     # orthogonal to both evals
            (4, [0.0, 0.0, 0.0]),     # zero norm → NULL sims → sentinel
        ],
        "vec_id long, embedding array<double>",
    )
    evals = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r.asDict()
        for r in semantic_decontaminate(train, evals, threshold=0.95).collect()
    }
    assert got[1]["contaminated"] == 1 and abs(got[1]["max_eval_sim"] - 1.0) < 1e-9
    assert got[2]["contaminated"] == 1
    assert got[3]["contaminated"] == 0 and got[3]["max_eval_sim"] == 0.0
    assert got[4]["contaminated"] == 0 and got[4]["max_eval_sim"] == -1.0

    empty_eval = evals.where("vec_id < 0")
    got_empty = {
        r["vec_id"]: r.asDict()
        for r in semantic_decontaminate(train, empty_eval).collect()
    }
    assert len(got_empty) == 4
    assert all(v["max_eval_sim"] == -1.0 and v["contaminated"] == 0
               for v in got_empty.values())


def test_sample_weighted_replayable_and_biased(spark):
    """E-S weighted sampling: (a) the whole draw replays in pure Python
    (frozen-tape audit contract); (b) a dominant weight is elected first;
    (c) non-positive / NULL weights can never be drawn."""
    import math

    from etl_for_all_studies_spark.functions.hashing import BASE, MOD
    from etl_for_all_studies_spark.operators.sampling import (
        SALT_A,
        SALT_B,
        sample_weighted_per_group,
    )

    def py_es_key(key: str, w: float) -> float:
        h = 0
        for ch in key:
            h = (h * BASE + ord(ch)) % MOD
        b = ((h * SALT_A + SALT_B) % MOD) % 1_000_000_000
        return -math.log((b + 0.5) / 1_000_000_000.0) / w

    rows = [(i, "g", float(1 + (i % 7))) for i in range(50)]
    rows += [(100, "g", 1e9)]            # dominant weight
    rows += [(101, "g", 0.0), (102, "g", -3.0), (103, "g", None)]  # undrawable
    df = spark.createDataFrame(rows, "doc_id long, grp string, w double")
    got = [
        (r["doc_id"], r["sample_rank"])
        for r in sample_weighted_per_group(
            df, group_cols=["grp"], key_col="doc_id", weight_col="w", n=10
        ).collect()
    ]
    drawable = [(i, g, w) for i, g, w in rows if w is not None and w > 0]
    expected = sorted(
        drawable, key=lambda r: (py_es_key(str(r[0]), r[2]), r[0])
    )[:10]
    assert sorted(got, key=lambda t: t[1]) == [
        (r[0], rank) for rank, r in enumerate(expected, 1)
    ]
    assert got and min(got, key=lambda t: t[1])[0] == 100  # dominant first
    assert all(i not in {101, 102, 103} for i, _ in got)


def test_apply_changelog_upsert_delete_insert_passthrough(spark):
    """CDC merge semantics: highest-seq wins, deletes remove, inserts
    appear, untouched rows pass through, upserted NULLs replace values."""
    import pytest as _pytest

    from etl_for_all_studies_spark.operators.diff import apply_changelog

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, name string, price double",
    )
    changes = spark.createDataFrame(
        [
            (1, "a1", 11.0, "U", 1),
            (1, "a2", 12.0, "U", 2),      # later seq wins
            (2, None, None, "D", 1),      # delete
            (3, "c", None, "U", 5),       # upsert with NULL value replaces
            (5, "e", 50.0, "U", 1),       # insert
            (6, "f", 60.0, "U", 1),
            (6, None, None, "D", 2),      # inserted then deleted → absent
        ],
        "id long, name string, price double, op string, seq long",
    )
    got = {
        r["id"]: (r["name"], r["price"])
        for r in apply_changelog(base, changes, ["id"]).collect()
    }
    assert got == {
        1: ("a2", 12.0),
        3: ("c", None),
        4: ("d", 40.0),
        5: ("e", 50.0),
    }

    with _pytest.raises(ValueError):
        apply_changelog(base, changes.drop("price"), ["id"])


def test_assign_splits_disjoint_stable_and_banded(spark):
    """Splits are a pure function of the key (append-stable), bands are
    disjoint and exhaustive at sum=1, remainder band labels NULL, and
    invalid fractions raise."""
    import pytest as _pytest

    from etl_for_all_studies_spark.operators.sampling import assign_splits

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = assign_splits(
        df, key_col="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    counts = {}
    for v in got.values():
        counts[v] = counts.get(v, 0) + 1
    assert set(counts) == {"train", "val", "test"}  # no NULLs at sum=1
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert abs(counts["train"] / 2000 - 0.8) < 0.05  # hash-uniformity sanity

    # append stability: a subset re-run assigns identically
    sub = assign_splits(
        df.where("doc_id < 500"), key_col="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    assert all(got[r["doc_id"]] == r["split"] for r in sub.collect())

    # holdout remainder: fractions sum < 1 → NULL band appears
    part = assign_splits(df, key_col="doc_id", fractions={"train": 0.5})
    labels = {r["split"] for r in part.collect()}
    assert labels == {"train", None}

    with _pytest.raises(ValueError):
        assign_splits(df, key_col="doc_id", fractions={"a": 0.9, "b": 0.2})


def test_target_encode_loo_leakage_free_and_smoothed(spark):
    """LOO encoding: a row's feature excludes its own label (two rows of a
    category see different encodings when labels differ), singletons fall
    back toward the prior, NULL labels get the full-category mean."""
    from etl_for_all_studies_spark.operators.features import target_encode_loo

    rows = [
        (1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
        (4, "b", 100.0),                 # singleton
        (5, "a", None),                  # NULL label
        (6, None, 40.0), (7, None, 60.0),  # NULL category = its own group
    ]
    df = spark.createDataFrame(rows, "id long, cat string, y double")
    m = 4.0
    prior = (10 + 20 + 30 + 100 + 40 + 60) / 6
    got = {
        r["id"]: r["te"]
        for r in target_encode_loo(
            df, category_col="cat", label_col="y", smoothing=m
        ).collect()
    }
    assert got[1] == pytest.approx((60 - 10 + m * prior) / (2 + m), abs=1e-12)
    assert got[2] == pytest.approx((60 - 20 + m * prior) / (2 + m), abs=1e-12)
    assert got[1] != got[2]                      # leakage-free ⇒ row-dependent
    assert got[4] == pytest.approx((100 - 100 + m * prior) / (0 + m), abs=1e-12)
    assert got[4] == pytest.approx(prior, abs=1e-12)  # singleton → pure prior
    assert got[5] == pytest.approx((60 + m * prior) / (3 + m), abs=1e-12)
    # NULL-category rows encode against the NULL group (null-safe join),
    # NOT te=NULL: each sees the OTHER null-cat row's label, LOO-style
    assert got[6] == pytest.approx((100 - 40 + m * prior) / (1 + m), abs=1e-12)
    assert got[7] == pytest.approx((100 - 60 + m * prior) / (1 + m), abs=1e-12)
