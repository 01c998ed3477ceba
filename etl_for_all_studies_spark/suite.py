"""Driver-contract query suite: every SURVEY §2 operator re-expressed over the
generic testdata tables, each with an ANSI-SQL DuckDB oracle.

The genomic study schema is one *binding* of the engine's capabilities
(FIXTURES.md F7); here the same operators run against the TPC-H-ish star
schema plus ``documents``/``embeddings``/``events``:

* scans/filters/projections/aggregations — pricing summary, DQ completion;
* star joins (O-20..O-23), semi-join whitelist (O-13), anti-join dedup (O-16);
* unpivot/melt (wide→long, §1.1.3), coalesce-UNKNOWN normalization (O-10);
* average-rank windows (O-35), all-pairs Spearman + p + BH FDR
  (O-24/25/33/34/36/37/39/40) — the flagship, running the *same*
  ``compute_gene_pair_correlations`` plan the genomic pipeline uses;
* beyond-reference LLM-data ops: exact/fuzzy dedup, text analysis,
  similarity search, event sessionization.

Float columns are rounded in BOTH engines so the driver's value-hash
comparison tolerates cross-engine summation-order noise; the rounding
decimals leave ≥2 orders of magnitude between FP noise and the grid.

Oracle-portability notes: no ``erf`` in either engine → both sides use the
identical Abramowitz-Stegun 7.1.26 closed form (``functions/stats.py``);
polynomial char hashes are computed with the identical integer recurrence
(``functions/hashing.py``); DuckDB ``regexp_replace`` needs the explicit
``'g'`` flag to match Spark's global-replace default.
"""
from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.stats import average_rank, round6
from .operators.dedup import (
    exact_duplicates,
    incremental_new_documents,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from .operators.similarity import brute_force_topk, ivf_topk
from .operators.textops import annotate_documents
from .plans.correlation import compute_gene_pair_correlations


@dataclasses.dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → driver does a rows-only check


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with the nano-precision parquet timestamp normalized to an
    epoch-microsecond LONG (``ts_us``).

    The testdata stores ``ts`` as INT64 TIMESTAMP(NANOS), which different Spark
    builds surface differently: older readers refuse it unless
    ``spark.sql.legacy.parquet.nanosAsLong`` maps it to a raw BIGINT of nanos,
    while newer readers return TIMESTAMP_NTZ (nanos truncated to micros).
    Branch on the type actually read:

    * BIGINT of nanos → integer division by 1000 (not double math — 1.7e18 ns
      exceeds double's exact-integer range);
    * TIMESTAMP_NTZ → wall-clock micros via ``unix_micros`` after an
      ntz→instant cast, exact because the session timezone is pinned UTC
      (``session.py``) — identical to the oracle's
      ``epoch_us(CAST(ts AS TIMESTAMP))``, which also truncates nanos.

    Query outputs stick to epoch-us BIGINTs so the oracle comparison never
    depends on cross-engine timestamp precision/rendering.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ts_us = F.expr("ts div 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.withColumn("ts_us", ts_us)


# --------------------------------------------------------------------------
# shared SQL fragments (kept textually identical across oracles)
# --------------------------------------------------------------------------

# erf via A&S 7.1.26 — mirrors functions/stats.py term-for-term. y must be >= 0.
_SQL_ERF = (
    "(1.0 - (0.254829592*(1.0/(1.0+0.3275911*{y})) "
    "+ -0.284496736*POW(1.0/(1.0+0.3275911*{y}), 2) "
    "+ 1.421413741*POW(1.0/(1.0+0.3275911*{y}), 3) "
    "+ -1.453152027*POW(1.0/(1.0+0.3275911*{y}), 4) "
    "+ 1.061405429*POW(1.0/(1.0+0.3275911*{y}), 5)) * EXP(-({y})*({y})))"
)

# portable polynomial char hash — mirrors functions/hashing.py
_SQL_POLY_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)
# second independent (base, mod) pair — the span family keys every window on
# BOTH (combined ~2^60, functions/hashing.py BASE2/MOD2): a single sub-2^31
# hash collides in practice even at toy scale (sf0.001's 24k windows hold a
# real 8-gram collision that falsely merged two unrelated passages)
_SQL_POLY_HASH2 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 137 + x) % 998244353)"
)


# --------------------------------------------------------------------------
# 1. pricing summary — scan + filter + groupBy aggregates (O-27/O-28 family)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# 2. star join — revenue per region/nation (O-20..O-23 joins; broadcast dims)
# --------------------------------------------------------------------------

def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count_distinct(F.col("o_orderkey")).alias("n_orders"),
        )
    )


_SQL_STAR_JOIN = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
# 3. whitelist semi-join (O-13: the gene-filter shape on generic tables)
# --------------------------------------------------------------------------

def q_whitelist_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    whitelist = part.where(F.col("p_size") <= 5).select("p_partkey")
    return (
        li.join(F.broadcast(whitelist), li["l_partkey"] == whitelist["p_partkey"], "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


_SQL_WHITELIST = """
SELECT l_returnflag, COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# 4. anti-join (O-16: dedup/absence shape)
# --------------------------------------------------------------------------

def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


_SQL_ANTI = """
SELECT c_mktsegment, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# 5. unpivot / melt (§1.1.3: the wide→long expression-matrix shape)
# --------------------------------------------------------------------------

def q_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    long = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


_SQL_UNPIVOT = """
WITH long AS (
  SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
)
SELECT metric, COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value,
       ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
FROM long GROUP BY metric
"""


# --------------------------------------------------------------------------
# 6. coalesce-UNKNOWN normalization + JSON extraction (O-10/O-17 shape)
# --------------------------------------------------------------------------

def q_props_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    segment = F.coalesce(
        F.nullif(F.trim(F.col("event_type")), F.lit("")), F.lit("UNKNOWN")
    )
    return (
        ev.select(segment.alias("segment"), k.alias("k"), F.col("value"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_SQL_PROPS = """
SELECT COALESCE(NULLIF(TRIM(event_type), ''), 'UNKNOWN') AS segment,
       COUNT(*) AS n_events,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1
"""


# --------------------------------------------------------------------------
# 7. DQ completion rates (O-27 on documents)
# --------------------------------------------------------------------------

def q_dq_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.avg(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)), 6
        ).alias("share_en"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


_SQL_DQ = """
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS share_en,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# 8. semi-join + distinct (O-21/O-29: studies-with-data shape)
# --------------------------------------------------------------------------

def q_nations_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    active_custs = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    return (
        n.join(
            active_custs, n["n_nationkey"] == active_custs["c_nationkey"], "left_semi"
        )
        .select("n_nationkey", "n_name")
        .distinct()
        .orderBy("n_nationkey")
    )


_SQL_NATIONS = """
SELECT DISTINCT n_nationkey, n_name
FROM nation n
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
    AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
)
ORDER BY n_nationkey
"""


# --------------------------------------------------------------------------
# 9. average rank with ties (O-35 exposed directly)
# --------------------------------------------------------------------------

def q_average_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    ranked = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("quantity"),
        average_rank(["l_returnflag"], "l_quantity").alias("avg_rank"),
    )
    return ranked.select(
        "l_returnflag", "quantity", F.col("avg_rank").cast("double").alias("avg_rank")
    ).distinct()


_SQL_AVG_RANK = """
SELECT DISTINCT l_returnflag, l_quantity AS quantity,
       (2.0 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1.0) / 2.0 AS avg_rank
FROM lineitem
"""


# --------------------------------------------------------------------------
# 9b. per-group top-k (dense_rank with deterministic tiebreak)
# --------------------------------------------------------------------------

def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            F.round(F.col("p_retailprice").cast("double"), 2).alias("price"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


_SQL_TOP_PARTS = """
SELECT p_brand, p_partkey, ROUND(CAST(p_retailprice AS DOUBLE), 2) AS price, rk
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part
)
WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# 10. FLAGSHIP: all-pairs Spearman + p + BH FDR over suppliers
#     (O-24/25/33/34/35/36/37/39/40 — the exact plan the genomic pipeline
#     runs, bound to suppliers-as-genes × parts-as-samples)
# --------------------------------------------------------------------------

def _spearman_rows(base: DataFrame, gene: str, sample: str) -> DataFrame:
    """Shared body of the Spearman queries: ``base`` (one row per
    ``gene`` × ``sample`` with an ``expression_value``) as ONE study, all
    pairs correlated, projected onto the oracle's 1e-6 grid."""
    expr = base.select(
        F.lit(1).cast("long").alias("study_key"),
        F.col(gene).cast("long").alias("gene_key"),
        F.col(sample).cast("string").alias("gsm_accession"),
        "expression_value",
    )
    corr = compute_gene_pair_correlations(expr, min_samples=2, computed_at="fixed")
    return corr.select(
        "gene_a_key",
        "gene_b_key",
        F.col("n_samples").cast("long").alias("n_samples"),
        round6("rho_spearman").alias("rho"),
        round6("p_value").alias("p"),
        round6("q_value").alias("q"),
    )


def q_spearman_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~600k rows. This supplier×part matrix is RAGGED (each supplier covers
    # ~3% of parts): the rank kernel ranks each pair within its shared
    # parts, as the reference semantics require; spearman_dense_auto below
    # is a dense matrix through the same kernel.
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").cast("double").alias("expression_value")
    )
    return _spearman_rows(base, "l_suppkey", "l_partkey")


_T_EXPR = "ABS(rho*SQRT((n-2)/(1.0-rho*rho)))"
_Y_EXPR = f"({_T_EXPR}/SQRT(2.0))"
_P_EXPR = (
    "CASE WHEN n < 3 THEN NULL WHEN ABS(rho) >= 1.0 THEN 0.0 "
    f"ELSE LEAST(GREATEST(2.0*(1.0-(0.5*(1.0+{_SQL_ERF.format(y=_Y_EXPR)}))), 0.0), 1.0) END"
)

def _spearman_sql(base_select: str) -> str:
    """Shared DuckDB oracle skeleton for the Spearman+BH plan; ranks are
    computed within each pair's shared sample set (reference semantics) —
    identical to per-gene ranks when the matrix is dense, so one oracle
    covers dense and ragged matrices alike."""
    return f"""
WITH base AS (
  {base_select}
),
pairs AS (
  SELECT a.g AS ga, b.g AS gb, a.s AS s, a.v AS va, b.v AS vb
  FROM base a JOIN base b ON a.s = b.s AND a.g < b.g
),
ranked AS (
  SELECT ga, gb, va, vb,
    (2.0 * RANK() OVER (PARTITION BY ga, gb ORDER BY va)
     + COUNT(*) OVER (PARTITION BY ga, gb, va) - 1.0) / 2.0 AS ra,
    (2.0 * RANK() OVER (PARTITION BY ga, gb ORDER BY vb)
     + COUNT(*) OVER (PARTITION BY ga, gb, vb) - 1.0) / 2.0 AS rb
  FROM pairs
),
stats AS (
  SELECT ga, gb, COUNT(*) AS n,
         COUNT(DISTINCT va) AS nda, COUNT(DISTINCT vb) AS ndb,
         COVAR_SAMP(ra, rb) AS cov, VAR_SAMP(ra) AS var_a, VAR_SAMP(rb) AS var_b
  FROM ranked GROUP BY 1, 2
),
rho_t AS (
  SELECT ga, gb, n,
         LEAST(GREATEST(cov / SQRT(var_a * var_b), -1.0), 1.0) AS rho
  FROM stats
  WHERE n >= 2 AND nda >= 2 AND ndb >= 2 AND var_a > 0 AND var_b > 0
),
p_t AS (
  SELECT ga, gb, n, rho, {_P_EXPR} AS p FROM rho_t
),
bh AS (
  SELECT ga, gb, n, rho, p,
         SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) OVER () AS m,
         ROW_NUMBER() OVER (ORDER BY CASE WHEN p IS NULL THEN 1 ELSE 0 END, p ASC) AS j
  FROM p_t
),
raws AS (
  SELECT *, CASE WHEN p IS NOT NULL THEN p * m / j END AS raw FROM bh
),
qs AS (
  SELECT *, CASE WHEN p IS NOT NULL THEN
    LEAST(MIN(raw) OVER (ORDER BY p DESC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
  END AS q
  FROM raws
)
SELECT ga AS gene_a_key, gb AS gene_b_key, n AS n_samples,
       (FLOOR(rho * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS rho, (FLOOR(COALESCE(p, 1.0) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS p, (FLOOR(q * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS q
FROM qs
"""


_SQL_SPEARMAN = _spearman_sql(
    "SELECT l_suppkey AS g, CAST(l_partkey AS VARCHAR) AS s, "
    "CAST(SUM(l_quantity) AS DOUBLE) AS v FROM lineitem GROUP BY 1, 2"
)


# --------------------------------------------------------------------------
# 10b. DENSE Spearman: supplier × line-number matrix — every supplier
#      covers all 7 line numbers, the kernel's all-ones-mask case. Same
#      oracle skeleton: per-pair ranks == per-gene ranks on a dense matrix.
# --------------------------------------------------------------------------

def q_spearman_dense_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_suppkey", "l_linenumber").agg(
        F.sum("l_quantity").cast("double").alias("expression_value")
    )
    return _spearman_rows(base, "l_suppkey", "l_linenumber")


_SQL_SPEARMAN_DENSE = _spearman_sql(
    "SELECT l_suppkey AS g, CAST(l_linenumber AS VARCHAR) AS s, "
    "CAST(SUM(l_quantity) AS DOUBLE) AS v FROM lineitem GROUP BY 1, 2"
)


# --------------------------------------------------------------------------
# 10c. 250-gene dense Spearman (part-bucket × order-priority): the
#      widest registry matrix through the same rank kernel; the name is
#      kept from the retired block-enumeration route it used to exercise.
#      The oracle is the same Spearman skeleton.
# --------------------------------------------------------------------------

def q_spearman_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy((F.col("l_partkey") % 250).alias("gene"), F.col("o_orderpriority"))
        .agg(F.sum("l_quantity").cast("double").alias("expression_value"))
    )
    return _spearman_rows(base, "gene", "o_orderpriority")


_SQL_SPEARMAN_BLOCK = _spearman_sql(
    "SELECT l_partkey % 250 AS g, CAST(o_orderpriority AS VARCHAR) AS s, "
    "CAST(SUM(l_quantity) AS DOUBLE) AS v FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2"
)


# --------------------------------------------------------------------------
# 11. exact dedup (hash-groupBy)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_t(spark, sf_dir, "documents"))


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# 12. n-gram Jaccard near-dup pairs (exact co-occurrence formulation)
# --------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact all-shared-shingle Jaccard is the *correctness baseline*; its
    # shingle self-join is quadratic in shingle document-frequency (Σdf² ≈
    # 1.5e9 at sf0.1 on this synthetic small-vocabulary corpus), so the query
    # is explicitly capped to doc_id < 600 — the scalable near-dup path is
    # MinHash-LSH (``dedup_minhash``), which bounds candidates by banding.
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.35)
    return pairs.select(
        "doc_a", "doc_b", "common",
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        round6("jaccard").alias("jaccard"),
    )


_SQL_NGRAM = """
WITH sh AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(length(text) - 4, 0) + 1),
                   i -> text[i : i + 4])
  )) AS shingle
  FROM documents WHERE doc_id < 600
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.set_size AS size_a, sb.set_size AS size_b,
       (FLOOR((common / (sa.set_size + sb.set_size - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.set_size + sb.set_size - common) >= 0.35
"""


# --------------------------------------------------------------------------
# 12a. stop-shingle-capped n-gram Jaccard — the scale valve for the exact
#      formulation: dropping shingles with document frequency > cap bounds
#      the co-occurrence join at |vocab|·cap² regardless of corpus size, so
#      (unlike 12's capped-input baseline) this runs UNBOUNDED over the
#      documents table. Jaccard is over the kept-shingle universe — near-dup
#      pairs share their rare shingles and survive; hot-shingle-only overlap
#      vanishes.
# --------------------------------------------------------------------------

def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.35, max_shingle_df=64)
    return pairs.select(
        "doc_a", "doc_b", "common",
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        round6("jaccard").alias("jaccard"),
    )


_SQL_NGRAM_CAPPED = """
WITH sh0 AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(length(text) - 4, 0) + 1),
                   i -> text[i : i + 4])
  )) AS shingle
  FROM documents
),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > 64),
sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.set_size AS size_a, sb.set_size AS size_b,
       (FLOOR((common / (sa.set_size + sb.set_size - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.set_size + sb.set_size - common) >= 0.35
"""


# --------------------------------------------------------------------------
# 12a'. n-gram max-containment — the near-SUPERSET score Jaccard misses:
#       a short doc fully embedded in a long one has J≈|A|/|B| but C=1.
#       Same co-occurrence join and df-cap valve; only the score differs.
# --------------------------------------------------------------------------

def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_containment_pairs(docs, k=5, threshold=0.8, max_shingle_df=64)
    return pairs.select(
        "doc_a", "doc_b", "common",
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        round6("containment").alias("containment"),
        "contained",
    )


_SQL_CONTAINMENT = """
WITH sh0 AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(length(text) - 4, 0) + 1),
                   i -> text[i : i + 4])
  )) AS shingle
  FROM documents
),
hot AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) > 64),
sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.set_size AS size_a, sb.set_size AS size_b,
       (FLOOR((common / LEAST(sa.set_size, sb.set_size)) * 1000000.0 + 0.5001)
        / 1000000.0) + 0.0 AS containment,
       CASE WHEN sa.set_size <= sb.set_size THEN doc_a ELSE doc_b END AS contained
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / LEAST(sa.set_size, sb.set_size) >= 0.8
"""


# --------------------------------------------------------------------------
# 12b. MinHash + LSH near-dup (the scalable dedup path)
# --------------------------------------------------------------------------

def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 bands x 8 rows: P(candidate | J) = 1-(1-J^8)^2 — steep around J≈0.8,
    # so candidate volume tracks true near-dups. 4x4 banding floods this
    # near-dup-rich synthetic corpus with J≈0.4 noise candidates (~100x the
    # verification work at sf0.1 for the same verified output).
    out = minhash_dedup(
        _t(spark, sf_dir, "documents"), k=5, num_hashes=16, bands=2,
        verify_threshold=0.5,
    )
    return out.select(
        "doc_a", "doc_b", "n_shared_bands",
        F.col("common").cast("long").alias("common"),
        round6("jaccard").alias("jaccard"),
    )


_POLY = _SQL_POLY_HASH.format(s="s")
_MINHASH_SIG_ITEMS = ",\n    ".join(
    f"list_min(list_transform(hh, h -> (h * {1 + 2 * i} + {97 + 31 * i}) % 1000000007))"
    for i in range(16)
)

def _minhash_ctes(src: str, max_bucket_size: int | None = None) -> str:
    """MinHash signature → banded candidates → shingle-verified pairs as a
    reusable CTE chain over source relation ``src`` (ends at ``verified``);
    the full-pipeline curation oracle re-runs it over the quality-filtered
    corpus. ``max_bucket_size`` replays the hot-bucket valve
    (``minhash_lsh_candidates``): band buckets larger than the cap emit no
    candidate pairs."""
    cand_src = "bands"
    cap_ctes = ""
    if max_bucket_size is not None:
        cand_src = "bands_capped"
        cap_ctes = f"""
bsz AS (
  SELECT band, slc, COUNT(*) AS n FROM bands GROUP BY 1, 2
),
bands_capped AS (
  SELECT b.doc_id, b.band, b.slc
  FROM bands b JOIN bsz z ON b.band = z.band AND b.slc = z.slc
  WHERE z.n <= {max_bucket_size}
),"""
    return f"""sh AS (
  SELECT doc_id, list_distinct(
    list_transform(range(1, GREATEST(length(text) - 4, 0) + 1), i -> text[i : i + 4])
  ) AS shingles
  FROM {src}
),
hs AS (
  -- shingle-less docs (len < k) carry no MinHash signature (see
  -- minhash_signatures: they can only be exact dups, never fuzzy)
  SELECT doc_id, shingles,
         list_transform(shingles, s -> {_POLY}) AS hh
  FROM sh WHERE len(shingles) > 0
),
sig AS (
  SELECT doc_id, shingles, [
    {_MINHASH_SIG_ITEMS}
  ] AS sig
  FROM hs
),
bands AS (
  SELECT doc_id, 0 AS band, sig[1:8] AS slc FROM sig
  UNION ALL SELECT doc_id, 1, sig[9:16] FROM sig
),{cap_ctes}
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
  FROM {cand_src} a JOIN {cand_src} b
    ON a.band = b.band AND a.slc = b.slc AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
verified AS (
  SELECT c.doc_a, c.doc_b, c.n_shared_bands,
         len(list_intersect(sa.shingles, sb.shingles)) AS common,
         len(sa.shingles) AS size_a, len(sb.shingles) AS size_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)"""


_SQL_MINHASH = f"""
WITH {_minhash_ctes("documents")}
SELECT doc_a, doc_b, n_shared_bands, common,
       (FLOOR((common / (size_a + size_b - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM verified
WHERE common / (size_a + size_b - common) >= 0.5
"""


def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The hot-bucket valve: a band bucket of m docs is m(m-1)/2 pairs, so
    # one boilerplate bucket scales quadratically with the corpus (the 10x
    # composed-curation probe measured 164x candidates for 10x docs —
    # SCALE.md). Cap 2 binds on this fixture (it has size-3 buckets); pairs
    # survive iff they share at least one under-cap band.
    out = minhash_dedup(
        _t(spark, sf_dir, "documents"), k=5, num_hashes=16, bands=2,
        verify_threshold=0.5, max_bucket_size=2,
    )
    return out.select(
        "doc_a", "doc_b", "n_shared_bands",
        F.col("common").cast("long").alias("common"),
        round6("jaccard").alias("jaccard"),
    )


_SQL_MINHASH_CAPPED = f"""
WITH {_minhash_ctes("documents", max_bucket_size=2)}
SELECT doc_a, doc_b, n_shared_bands, common,
       (FLOOR((common / (size_a + size_b - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM verified
WHERE common / (size_a + size_b - common) >= 0.5
"""


# --------------------------------------------------------------------------
# 12c. SimHash near-dup (bit-sketch dedup)
# --------------------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 blocks of 16 bits, hamming ≤ 1: a candidate must match half the
    # fingerprint exactly, keeping bucket sizes (and the pair join) small on
    # this highly-self-similar corpus; hamming ≤ 3 with 8-bit blocks floods
    # the join with ~70s of noise pairs at sf0.1.
    docs = _t(spark, sf_dir, "documents")
    fps = simhash(docs, bits=32)
    pairs = simhash_near_pairs(fps, bits=32, max_hamming=1, bands=2)
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


_TOKEN_POLY = _SQL_POLY_HASH.format(s="t")

# SimHash fingerprint + banded candidate pairs as a reusable CTE body — the
# dedup_clusters oracle composes these same CTEs with a recursive
# connected-components walk.
_SIMHASH_CTES = f"""toks AS (
  SELECT doc_id, UNNEST(
    CASE WHEN TRIM(lower(text)) = '' THEN []
         ELSE string_split_regex(TRIM(lower(text)), '\\s+') END
  ) AS t
  FROM documents
),
th AS (SELECT doc_id, {_TOKEN_POLY} AS h FROM toks),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th, range(0, 32) AS r(bit)
  GROUP BY doc_id, bit
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, blk, (simhash >> CAST(blk * 16 AS INTEGER)) & 65535 AS val
  FROM fp, range(0, 2) AS r(blk)
),
simpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
)"""

_SQL_SIMHASH = f"""
WITH {_SIMHASH_CTES}
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM simpairs
WHERE bit_count(xor(sh_a, sh_b)) <= 1
"""


# --------------------------------------------------------------------------
# 13. text quality metrics per language
# --------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = annotate_documents(_t(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias("avg_tokens"),
        F.round(F.avg(F.col("n_bpe_tokens").cast("double")), 4).alias("avg_bpe_tokens"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


_SQL_TEXT_QUALITY = """
WITH toks AS (
  SELECT lang, text,
         CASE WHEN TRIM(text) = '' THEN []
              ELSE string_split_regex(TRIM(text), '\\s+') END AS tokens,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS bpe
  FROM documents
),
m AS (
  SELECT lang,
    len(tokens) AS n_tokens,
    len(bpe) AS n_bpe_tokens,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
              / length(text) END AS punct_ratio,
    CASE WHEN len(tokens) = 0 THEN 0.0
         ELSE CAST(len(list_filter(list_transform(tokens, t -> lower(t)),
                                   t -> t IN ('the','and','of','to','a'))) AS DOUBLE)
              / len(tokens) END AS stop_ratio
  FROM toks
),
q AS (
  SELECT lang, n_tokens, n_bpe_tokens, punct_ratio,
    0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
    + 0.3 * (1.0 - LEAST(punct_ratio * 4.0, 1.0))
    + 0.3 * LEAST(stop_ratio * 5.0, 1.0) AS quality
  FROM m
)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(AVG(CAST(n_tokens AS DOUBLE)), 4) AS avg_tokens,
       ROUND(AVG(CAST(n_bpe_tokens AS DOUBLE)), 4) AS avg_bpe_tokens,
       ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio,
       ROUND(AVG(quality), 6) AS avg_quality
FROM q GROUP BY lang
"""


# --------------------------------------------------------------------------
# 14. language ID (stopword-marker argmax) vs labeled lang
# --------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = annotate_documents(_t(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_SQL_LANG_ID = """
WITH toks AS (
  SELECT lang,
         CASE WHEN TRIM(lower(text)) = '' THEN []
              ELSE string_split_regex(TRIM(lower(text)), '\\s+') END AS tokens
  FROM documents
),
scores AS (
  SELECT lang,
    len(list_filter(tokens, t -> t IN ('der','die','das','und','ist'))) AS s_de,
    len(list_filter(tokens, t -> t IN ('the','and','of','to','a'))) AS s_en,
    len(list_filter(tokens, t -> t IN ('el','la','los','y','es'))) AS s_es,
    len(list_filter(tokens, t -> t IN ('le','la','les','et','est'))) AS s_fr
  FROM toks
),
pred AS (
  SELECT lang,
    CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
         WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END AS predicted_lang
  FROM scores
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs FROM pred GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 15. document fingerprint (portable polynomial rolling hash)
# --------------------------------------------------------------------------

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = annotate_documents(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", "fingerprint")


_NORMALIZED_TEXT_SQL = "regexp_replace(TRIM(lower(text)), '\\s+', ' ', 'g')"
# identity-class hash → the combined ~2^60 two-pair key (same hardening —
# and the same replayable SQL combine — as the span window keys)
_SQL_FINGERPRINT = (
    "SELECT doc_id, "
    + _SQL_POLY_HASH.format(s=_NORMALIZED_TEXT_SQL)
    + " * 998244353 + "
    + _SQL_POLY_HASH2.format(s=_NORMALIZED_TEXT_SQL)
    + " AS fingerprint FROM documents"
)


# --------------------------------------------------------------------------
# 16. brute-force cosine top-k similarity search
# --------------------------------------------------------------------------

def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = brute_force_topk(queries, emb, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


# unit-normalized vectors + pair dot product — mirrors similarity.unit_vectors
# term-for-term (sequential list_reduce sum == Spark's sequential aggregate):
# cosine per pair is ONE dot over pre-normalized vectors, not dot/(|a|·|b|)
_SQL_UNIT_CTE = (
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    "nullif(SQRT(list_reduce(list_prepend(0.0, list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))), (acc, z) -> acc + z)), 0.0)) AS uv "
    "FROM embeddings"
)

_SQL_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
)

_SQL_EMBED_TOPK = f"""
WITH unit AS ({_SQL_UNIT_CTE}),
q AS (SELECT vec_id AS query_id, uv AS qv FROM unit WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, uv AS cv FROM unit),
scored AS (
  SELECT query_id, neighbor_id, {_SQL_DOT.format(a="qv", b="cv")} AS cos_sim
  FROM q, c
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 6) + 0.0 AS cos_sim, rank
FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# 16b. IVF (inverted-file) approximate nearest neighbors — the scale path
# --------------------------------------------------------------------------

def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # deterministic centroids: the first 8 vectors; cell id = their vec_id
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10)
    out = ivf_topk(queries, emb, centroids, k=3, n_probes=2)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_EMBED_IVF = f"""
WITH unit AS ({_SQL_UNIT_CTE}),
cent AS (
  SELECT vec_id AS cell, uv AS ucv FROM unit WHERE vec_id < 8
),
corpus_scored AS (
  SELECT u.vec_id AS vid, c.cell, {_SQL_DOT.format(a="u.uv", b="c.ucv")} AS sim
  FROM unit u, cent c
),
corpus_cells AS (
  SELECT vid AS neighbor_id, cell FROM (
    SELECT vid, cell, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY sim DESC, cell ASC) AS pr
    FROM corpus_scored
  ) WHERE pr <= 1
),
query_cells AS (
  SELECT vid AS query_id, cell FROM (
    SELECT vid, cell, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY sim DESC, cell ASC) AS pr
    FROM corpus_scored WHERE vid < 10
  ) WHERE pr <= 2
),
cand AS (
  SELECT DISTINCT qc.query_id, cc.neighbor_id
  FROM query_cells qc JOIN corpus_cells cc ON qc.cell = cc.cell
  WHERE qc.query_id <> cc.neighbor_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_SQL_DOT.format(a="q.uv", b="n.uv")} AS cos_sim
  FROM cand
  JOIN unit q ON q.vec_id = cand.query_id
  JOIN unit n ON n.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 6) + 0.0 AS cos_sim, rank
FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# 16b2. embedding-cosine near-duplicate pairs (semantic dedup)
# --------------------------------------------------------------------------

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import embedding_near_duplicates

    # brute-force all-pairs is the oracle baseline — bounded to vec_id < 500
    # (≈125k pairs) so the quadratic stays fixed across scale factors; the
    # scale path for semantic dedup is dedup_embedding_ivf below.
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    out = embedding_near_duplicates(emb, threshold=0.35)
    return out.select(
        "doc_a", "doc_b", (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim")
    )


_SQL_DEDUP_EMBED = f"""
WITH unit AS ({_SQL_UNIT_CTE} WHERE vec_id < 500),
pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         {_SQL_DOT.format(a="a.uv", b="b.uv")} AS cos_sim
  FROM unit a JOIN unit b ON a.vec_id < b.vec_id
)
SELECT doc_a, doc_b, ROUND(cos_sim, 6) + 0.0 AS cos_sim
FROM pairs WHERE cos_sim >= 0.35
"""


# --------------------------------------------------------------------------
# 16b3. IVF-bucketed embedding near-dup — the SCALE path for semantic dedup:
#     candidates from a multi-probe cell equi-join (Σ|cell|², never n²),
#     cosine-verified; same candidates→verify shape as minhash_dedup. Runs
#     UNBOUNDED over the embeddings table (the brute-force form above stays
#     capped — that asymmetry is the point).
# --------------------------------------------------------------------------

def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import embedding_near_duplicates_ivf

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic centroids: the first 32 vectors; cell id = their vec_id.
    # 32 cells × 2 probes bounds candidate volume at ~n²/8 worst-case uniform
    # (measured far below that on clustered data) while double-probing keeps
    # centroid-boundary near-dup pairs co-bucketed.
    centroids = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cell"), F.col("embedding")
    )
    out = embedding_near_duplicates_ivf(emb, centroids, threshold=0.35, n_probes=2)
    return out.select(
        "doc_a", "doc_b", (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim")
    )


# shared CTE fragment: IVF cell assignment → candidate pairs → verified
# near-dup pairs at threshold 0.35 (used by dedup_embedding_ivf AND the
# composed embedding_pipeline oracle)
_EMBED_IVF_CTES = f"""unit AS ({_SQL_UNIT_CTE}),
cent AS (SELECT vec_id AS cell, uv AS ucv FROM unit WHERE vec_id < 32),
scored AS (
  SELECT u.vec_id AS vid, c.cell, {_SQL_DOT.format(a="u.uv", b="c.ucv")} AS sim
  FROM unit u, cent c
),
cells AS (
  SELECT vid, cell FROM (
    SELECT vid, cell, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY sim DESC, cell ASC) AS pr
    FROM scored
  ) WHERE pr <= 2
),
cand AS (
  SELECT DISTINCT a.vid AS doc_a, b.vid AS doc_b
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vid < b.vid
),
allpairs AS (
  SELECT doc_a, doc_b, {_SQL_DOT.format(a="ua.uv", b="ub.uv")} AS cos_sim
  FROM cand
  JOIN unit ua ON ua.vec_id = cand.doc_a
  JOIN unit ub ON ub.vec_id = cand.doc_b
),
ivf_pairs AS (SELECT doc_a, doc_b, cos_sim FROM allpairs WHERE cos_sim >= 0.35)"""

_SQL_DEDUP_EMBED_IVF = f"""
WITH {_EMBED_IVF_CTES}
SELECT doc_a, doc_b, ROUND(cos_sim, 6) + 0.0 AS cos_sim
FROM ivf_pairs
"""


# --------------------------------------------------------------------------
# 16c. multimodal decode — Arrow-batched mapInPandas over binary payloads
#     (the stubbed decoder is hash-deterministic, so the oracle verifies the
#     entire binary-column + pandas-UDF plumbing end to end)
# --------------------------------------------------------------------------

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import attach_fake_media, decode_images

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return decode_images(media)


_SQL_MULTIMODAL = (
    "SELECT doc_id AS media_id, "
    "64 + " + _SQL_POLY_HASH.format(s="text") + " % 961 AS width, "
    "64 + (" + _SQL_POLY_HASH.format(s="text") + " * 31 + 7) % 961 AS height, "
    "CAST(length(text) AS BIGINT) AS n_bytes "
    "FROM documents"
)


# --------------------------------------------------------------------------
# 17. events: hourly tumbling-window aggregation (batch form of the
#     streaming windowed agg; true streaming is exercised in tests)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hour_us = (F.expr("ts_us div 3600000000") * F.lit(3_600_000_000)).alias("hour_us")
    return (
        ev.groupBy(hour_us, F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


_SQL_EVENTS_HOURLY = """
SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000 AS hour_us,
       event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 18. events: gap-based sessionization (stateful-streaming analog in batch)
# --------------------------------------------------------------------------

def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn("session_seq", F.sum("new_session").over(w))
    return with_sid.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("session_start_us"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_SQL_SESSIONIZE = """
WITH ev AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events
),
flagged AS (
  SELECT user_id, ts_us, value,
    CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
           OR ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
              > 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM ev
),
sessions AS (
  SELECT user_id, ts_us, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events,
       MAX(ts_us) - MIN(ts_us) AS duration_us,
       ROUND(SUM(value), 2) AS sum_value
FROM sessions GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 19. document quality filtering (C4/Gopher-style rule pipeline)
# --------------------------------------------------------------------------


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import annotate_quality

    docs = annotate_quality(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "source",
        "n_words",
        round6("mean_word_len").alias("mean_word_len"),
        round6("type_token_ratio").alias("type_token_ratio"),
        round6("stopword_ratio").alias("stopword_ratio"),
        "pass_n_words",
        "pass_word_len",
        "pass_ttr",
        "pass_stopwords",
        "keep",
    )


_SQL_QUALITY = """
WITH t AS (
  SELECT doc_id, source,
         string_split_regex(TRIM(text), '\\s+') AS toks,
         string_split_regex(lower(TRIM(text)), '\\s+') AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id, source,
    CAST(len(toks) AS BIGINT) AS n_words,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_reduce(list_transform(toks, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(toks) > 0 THEN
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS type_token_ratio,
    CASE WHEN len(toks) > 0 THEN
      CAST(len(list_filter(ltoks, w -> w IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS stopword_ratio
  FROM t
)
SELECT doc_id, source, n_words,
  (FLOOR(mean_word_len * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS mean_word_len,
  (FLOOR(type_token_ratio * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS type_token_ratio,
  (FLOOR(stopword_ratio * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS stopword_ratio,
  CAST(CASE WHEN n_words BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS BIGINT) AS pass_n_words,
  CAST(CASE WHEN mean_word_len BETWEEN 3.5 AND 5.0 THEN 1 ELSE 0 END AS BIGINT) AS pass_word_len,
  CAST(CASE WHEN type_token_ratio >= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS pass_ttr,
  CAST(CASE WHEN stopword_ratio >= 0.02 THEN 1 ELSE 0 END AS BIGINT) AS pass_stopwords,
  CAST(CASE WHEN n_words BETWEEN 30 AND 90 AND mean_word_len BETWEEN 3.5 AND 5.0
             AND type_token_ratio >= 0.3 AND stopword_ratio >= 0.02
       THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM m
"""


# --------------------------------------------------------------------------
# 20. contiguous sequence packing (concat-then-split training batches)
# --------------------------------------------------------------------------

def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_contiguous
    from .operators.textops import token_count

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    packed = pack_contiguous(
        docs, "n_tokens", budget=512, group_col="source", order_col="doc_id"
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_SQL_PACK = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT doc_id, source, n_tokens,
    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
               / 512.0) AS BIGINT) AS pack_id
  FROM t
)
SELECT source, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM p GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 21. stratified deterministic hash sampling (per-source data-mix rates)
# --------------------------------------------------------------------------

def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    # per-stratum rate as a pure expression over the stratum column — works
    # at any SF without a driver-side source list; a broadcast-joined rate
    # dim plugs into the same ``rate`` parameter (see tests/test_llm_ops.py)
    src_idx = F.substring(F.col("source"), 4, 10).cast("int")
    rate = F.when(src_idx % 2 == 0, F.lit(250)).otherwise(F.lit(600))
    return hash_sample(docs, F.col("doc_id"), rate, denom=1000).select(
        "doc_id", "source", "sample_bucket"
    )


_SQL_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, source,
    (({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 7919 + 104729)
      % 1000000007 % 1000 AS sample_bucket
  FROM documents
)
SELECT doc_id, source, sample_bucket
FROM b
WHERE sample_bucket < CASE WHEN CAST(source[4:] AS INTEGER) % 2 = 0
                           THEN 250 ELSE 600 END
"""


# --------------------------------------------------------------------------
# 22. incremental cross-snapshot dedup (new batch vs seen digest set)
# --------------------------------------------------------------------------

def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    seen = (
        docs.where(F.col("doc_id") < 250)
        .select(F.md5(F.col("text")).alias("text_hash"))
        .distinct()
    )
    return incremental_new_documents(docs.where(F.col("doc_id") >= 250), seen)


_SQL_DEDUP_INCR = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id < 250
),
nb AS (
  SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id,
         COUNT(*) AS n_in_batch
  FROM documents WHERE doc_id >= 250 GROUP BY 1
)
SELECT nb.* FROM nb ANTI JOIN seen USING (text_hash)
"""


# --------------------------------------------------------------------------
# 23. overlapping text chunking (RAG / pretraining context windows)
# --------------------------------------------------------------------------

def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import chunk_text

    chunks = chunk_text(_t(spark, sf_dir, "documents"), size=200, stride=150)
    return chunks.select("doc_id", "chunk_idx", "chunk_len", "chunk_hash")


_SQL_CHUNK = f"""
WITH s AS (
  SELECT doc_id, text, UNNEST(range(1, length(text) + 1, 150)) AS st
  FROM documents WHERE length(text) > 0
),
c AS (
  SELECT doc_id, CAST((st - 1) // 150 AS BIGINT) AS chunk_idx,
         text[st : st + 199] AS ct
  FROM s
)
SELECT doc_id, chunk_idx, CAST(length(ct) AS BIGINT) AS chunk_len,
       {_SQL_POLY_HASH.format(s="ct")} * 998244353
         + {_SQL_POLY_HASH2.format(s="ct")} AS chunk_hash
FROM c
"""


# --------------------------------------------------------------------------
# 24. dedup clusters: connected components over near-dup pair graphs —
#     exact-dup star edges ∪ SimHash near-pairs, iterative min-label
#     propagation + pointer jumping in Spark vs a recursive-CTE transitive
#     closure in DuckDB.
# --------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    fps = simhash(docs, bits=32)
    near = simhash_near_pairs(fps, bits=32, max_hamming=1, bands=2)
    return dedup_clusters(docs, near)


# shared cluster CTE chain: simhash near-pairs ∪ exact-dup stars → transitive
# closure (recursive walk) → min-label components; reused by the keeper-policy
# oracle below
_CLUSTER_CTES = f"""{_SIMHASH_CTES},
near AS (
  SELECT doc_a AS u, doc_b AS v FROM simpairs
  WHERE bit_count(xor(sh_a, sh_b)) <= 1
),
star0 AS (
  SELECT doc_id AS u, MIN(doc_id) OVER (PARTITION BY md5(text)) AS v
  FROM documents
),
star AS (SELECT u, v FROM star0 WHERE u != v),
edges0 AS (SELECT u, v FROM star UNION SELECT u, v FROM near),
edges AS (SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
nodes AS (SELECT doc_id AS node FROM documents),
walk AS (
  SELECT node, node AS reach FROM nodes
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
),
comp AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY 1)"""

_SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_CLUSTER_CTES},
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
SELECT comp.node AS doc_id, comp.cluster_id, csize.cluster_size,
       CAST(CASE WHEN comp.node = comp.cluster_id THEN 1 ELSE 0 END AS BIGINT)
         AS is_keeper
FROM comp JOIN csize USING (cluster_id)
"""


# --------------------------------------------------------------------------
# 25. rollup revenue — multi-level aggregation (GROUPING SETS family, §2.6)
# --------------------------------------------------------------------------

def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    agg = orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
    )
    return agg.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "sum_price",
        "g_status",
        "g_priority",
    )


_SQL_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# 26. exact token-count percentiles per source (corpus length profile)
# --------------------------------------------------------------------------

def q_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textops import token_count

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.expr("percentile(n_tokens, 0.25)").alias("p25_raw"),
        F.expr("percentile(n_tokens, 0.5)").alias("p50_raw"),
        F.expr("percentile(n_tokens, 0.75)").alias("p75_raw"),
        F.expr("percentile(n_tokens, 0.9)").alias("p90_raw"),
    )
    return agg.select(
        "source",
        "n_docs",
        "min_tokens",
        "max_tokens",
        round6("p25_raw").alias("p25"),
        round6("p50_raw").alias("p50"),
        round6("p75_raw").alias("p75"),
        round6("p90_raw").alias("p90"),
    )


_SQL_PERCENTILES = """
WITH t AS (
  SELECT source,
         CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens,
       (FLOOR(quantile_cont(n_tokens, 0.25) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS p25,
       (FLOOR(quantile_cont(n_tokens, 0.5) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS p50,
       (FLOOR(quantile_cont(n_tokens, 0.75) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS p75,
       (FLOOR(quantile_cont(n_tokens, 0.9) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS p90
FROM t GROUP BY 1
"""


# --------------------------------------------------------------------------
# 27. as-of join: each click enriched with the user's latest view value at
#     or before the click (union-and-window formulation — no range-join
#     explosion; see operators/asof.py)
# --------------------------------------------------------------------------

def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us", "value"
    )
    # collapse same-instant views deterministically (max value) so the
    # as-of carry has a total order on ties in BOTH engines
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        clicks, views, key="user_id", left_ts="ts_us", right_ts="ts_us",
        value_cols=["view_value"],
    )
    return out.select("event_id", "user_id", "ts_us", "value", "view_value_asof")


_SQL_ASOF = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_type, value
  FROM events
),
views AS (
  SELECT user_id, ts_us, MAX(value) AS view_value
  FROM ev WHERE event_type = 'view' GROUP BY 1, 2
),
m AS (
  SELECT event_id, user_id, ts_us, value, 1 AS side,
         CAST(NULL AS DOUBLE) AS rv
  FROM ev WHERE event_type = 'click'
  UNION ALL
  SELECT NULL, user_id, ts_us, NULL, 0, view_value FROM views
),
c AS (
  SELECT *,
    LAST_VALUE(rv IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts_us, side
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_value_asof
  FROM m
)
SELECT event_id, user_id, ts_us, value, view_value_asof
FROM c WHERE side = 1
"""


# --------------------------------------------------------------------------
# 27b. per-user rolling window over event time (time-series smoothing —
#      ROWS frame; deterministic (ts, id) order; §2.6 window family)
# --------------------------------------------------------------------------

def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    # one shuffle on user_id serves both frames; (ts_us, event_id) makes the
    # order total, so the ROWS frame is engine-independent
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    out = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        round6(
            F.avg("value").over(w.rowsBetween(-4, Window.currentRow))
        ).alias("avg5"),
        round6(
            F.sum("value").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("running_sum"),
    )
    return out


_SQL_ROLLING = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events WHERE event_type = 'click'
)
SELECT event_id, user_id, ts_us,
  (FLOOR(AVG(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5001)
   / 1000000.0) + 0.0 AS avg5,
  (FLOOR(SUM(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5001)
   / 1000000.0) + 0.0 AS running_sum
FROM ev
"""


# --------------------------------------------------------------------------
# 27c. retention cohorts: users active on day D grouped by their first-seen
#      day (pure integer day arithmetic — exact across engines)
# --------------------------------------------------------------------------

def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id", F.expr("ts_us DIV 86400000000").alias("day")
    ).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_SQL_RETENTION = """
WITH days AS (
  SELECT DISTINCT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
  FROM events
),
cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
SELECT cohort.cohort_day, days.day - cohort.cohort_day AS day_offset,
       COUNT(DISTINCT days.user_id) AS n_users
FROM days JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 27d. skew-safe aggregation: the salted two-phase plan over a hot-key
#      distribution, verified against the plain one-phase oracle
# --------------------------------------------------------------------------

def q_events_skewed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.skew import salted_aggregate

    ev = _events(spark, sf_dir)
    # event_type is a classic hot-key column (a handful of values over the
    # whole fact table). The salted plan must be *semantically invisible*:
    # the oracle is the plain GROUP BY.
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": ("sum", F.count(F.lit(1))),
            "sum_value": ("sum", F.sum("value")),
            "max_value": ("max", F.max("value")),
            "min_ts_us": ("min", F.min("ts_us")),
        },
        n_salts=8,
    )
    return out.select(
        "event_type",
        "n_events",
        round6("sum_value").alias("sum_value"),
        round6("max_value").alias("max_value"),
        "min_ts_us",
    )


_SQL_SKEWED_AGG = """
WITH ev AS (
  SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       (FLOOR(SUM(value) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS sum_value,
       (FLOOR(MAX(value) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS max_value,
       MIN(ts_us) AS min_ts_us
FROM ev GROUP BY 1
"""


# --------------------------------------------------------------------------
# 27e. conversion funnel: view → click per user, strictly ordered in event
#      time (sequence analytics via conditional windows — no self-join)
# --------------------------------------------------------------------------

def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # first view per user, then the first click AFTER that view: two
    # conditional MIN aggregations — the naive formulation self-joins events
    # against events per user; this one is a single shuffle on user_id
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias(
            "first_view_us"
        )
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_us")
    )
    conv = (
        clicks.join(per_user, "user_id")
        .where(F.col("click_us") >= F.col("first_view_us"))
        .groupBy("user_id", "first_view_us")
        .agg(F.min("click_us").alias("first_conv_click_us"))
    )
    out = per_user.join(conv.select("user_id", "first_conv_click_us"), "user_id", "left")
    return out.select(
        "user_id",
        "first_view_us",
        "first_conv_click_us",
        (F.col("first_conv_click_us") - F.col("first_view_us")).alias("lag_us"),
        F.col("first_conv_click_us").isNotNull().cast("long").alias("converted"),
    )


_SQL_FUNNEL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
),
per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS first_view_us
  FROM ev GROUP BY 1
),
conv AS (
  SELECT ev.user_id, MIN(ev.ts_us) AS first_conv_click_us
  FROM ev JOIN per_user USING (user_id)
  WHERE ev.event_type = 'click' AND ev.ts_us >= per_user.first_view_us
  GROUP BY 1
)
SELECT per_user.user_id, per_user.first_view_us, conv.first_conv_click_us,
       conv.first_conv_click_us - per_user.first_view_us AS lag_us,
       CAST(CASE WHEN conv.first_conv_click_us IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS converted
FROM per_user LEFT JOIN conv USING (user_id)
"""


# --------------------------------------------------------------------------
# 27f. pivot (long → wide): per-user value totals by event type. Dual of
#      unpivot_part; explicit value list keeps the schema static (the
#      reference's nested-dict matrix pivot is the same shape, single-node —
#      reference repositories.py:312-328)
# --------------------------------------------------------------------------

_PIVOT_TYPES = ("click", "view", "purchase")


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = (
        ev.where(F.col("event_type").isin(list(_PIVOT_TYPES)))
        .groupBy("user_id")
        # explicit pivot values: no extra distinct pass, static schema, and
        # the whole pivot compiles to one grouped conditional aggregation
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.sum("value"))
    )
    return out.select(
        "user_id",
        *[
            round6(F.coalesce(F.col(t), F.lit(0.0))).alias(f"{t}_value")
            for t in _PIVOT_TYPES
        ],
    )


_SQL_PIVOT = """
WITH ev AS (SELECT user_id, event_type, value FROM events)
SELECT user_id,
  (FLOOR(COALESCE(SUM(value) FILTER (event_type = 'click'), 0.0)
         * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS click_value,
  (FLOOR(COALESCE(SUM(value) FILTER (event_type = 'view'), 0.0)
         * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS view_value,
  (FLOOR(COALESCE(SUM(value) FILTER (event_type = 'purchase'), 0.0)
         * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS purchase_value
FROM ev WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY 1
"""


# --------------------------------------------------------------------------
# 27g. document-length histogram (width_bucket distribution profile —
#      fixed-width bins are a single narrow projection + one agg, the
#      at-scale alternative to exact percentiles when a profile suffices)
# --------------------------------------------------------------------------

def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.width_bucket(F.col("n_chars"), F.lit(0), F.lit(500), F.lit(10)).alias(
                "bucket"
            ),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# DuckDB has no width_bucket scalar — the bucket rule spelled out:
# below range → 0, above → n+1, else floor(x/width)+1
_SQL_HISTOGRAM = """
SELECT source,
       CAST(CASE WHEN n_chars < 0 THEN 0
                 WHEN n_chars >= 500 THEN 11
                 ELSE n_chars // 50 + 1 END AS BIGINT) AS bucket,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 27h. integrity report: unique-key + FK assertions as one query (Parquet
#      analog of the reference's DB constraints — reference models.py:55,
#      74-76,92-97; same shapes as plans/integrity.py, made oracle-visible)
# --------------------------------------------------------------------------

def q_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _events(spark, sf_dir)  # nanos-timestamp-safe read

    def count1(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check"), "n_violations"
        )

    dup_cust = (
        customer.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    dup_event = (
        events.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    orphan_orders = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    )
    orphan_lines = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
    )
    return (
        count1("customer_pk_unique", dup_cust)
        .union(count1("event_pk_unique", dup_event))
        .union(count1("orders_custkey_fk", orphan_orders))
        .union(count1("lineitem_orderkey_fk", orphan_lines))
    )


_SQL_INTEGRITY = """
SELECT 'customer_pk_unique' AS check, COUNT(*) AS n_violations
FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'event_pk_unique', COUNT(*)
FROM (SELECT event_id FROM events GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'orders_custkey_fk', COUNT(*)
FROM orders ANTI JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem_orderkey_fk', COUNT(*)
FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey
"""


# --------------------------------------------------------------------------
# 27i. full-outer reconciliation: per-user click vs view activity — §2.3
#      join-family completion (inner/semi/anti/left covered elsewhere)
# --------------------------------------------------------------------------

def q_events_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)

    def per_user(etype: str, alias: str):
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    clicks, views = per_user("click", "n_clicks"), per_user("view", "n_views")
    out = clicks.join(views, "user_id", "full_outer")
    return out.select(
        "user_id",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_views", F.lit(0)).alias("n_views"),
        F.when(F.col("n_clicks").isNull(), "view_only")
        .when(F.col("n_views").isNull(), "click_only")
        .otherwise("both")
        .alias("activity"),
    )


_SQL_FULL_OUTER = """
WITH ev AS (SELECT user_id, event_type FROM events),
c AS (SELECT user_id, COUNT(*) AS n_clicks FROM ev WHERE event_type = 'click' GROUP BY 1),
v AS (SELECT user_id, COUNT(*) AS n_views FROM ev WHERE event_type = 'view' GROUP BY 1)
SELECT COALESCE(c.user_id, v.user_id) AS user_id,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_views, 0) AS n_views,
       CASE WHEN n_clicks IS NULL THEN 'view_only'
            WHEN n_views IS NULL THEN 'click_only'
            ELSE 'both' END AS activity
FROM c FULL OUTER JOIN v ON c.user_id = v.user_id
"""


# --------------------------------------------------------------------------
# 27j. latest record per key (SCD-style recency dedup — the standard
#      upsert-view over an append-only log; one shuffle, top-1 window)
# --------------------------------------------------------------------------

def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "event_type", "value")
    )


_SQL_LATEST = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_type, value
  FROM events
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM ev
)
SELECT user_id, event_id, ts_us, event_type, value FROM r WHERE rn = 1
"""


# --------------------------------------------------------------------------
# 28. train/eval decontamination: flag training docs sharing any word 3-gram
#     with a held-out eval slice (GPT-3/PaLM decontamination recipe)
# --------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.contamination import decontaminate

    docs = _t(spark, sf_dir, "documents")
    # eval slice derived from the corpus itself (every 50th doc) so the query
    # runs at any SF with a guaranteed-nonempty eval side
    return decontaminate(
        docs.where(F.col("doc_id") % 50 != 0),
        docs.where(F.col("doc_id") % 50 == 0),
        n=3,
    )


# word 3-grams, distinct per doc — mirrors operators/contamination.word_ngrams
_SQL_NGRAM3 = """
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS g
  FROM (
    SELECT doc_id, toks, UNNEST(range(1, len(toks) - 1)) AS i
    FROM (
      SELECT doc_id,
             CASE WHEN TRIM(lower(text)) = '' THEN []
                  ELSE string_split_regex(TRIM(lower(text)), '\\s+') END AS toks
      FROM {src}
    )
    WHERE len(toks) >= 3
  )
"""

_SQL_DECONTAMINATE = f"""
WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 != 0),
ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
tg AS ({_SQL_NGRAM3.format(src="train")}),
eg AS (SELECT DISTINCT g FROM ({_SQL_NGRAM3.format(src="ev")})),
ov AS (
  SELECT doc_id, COUNT(*) AS n_overlap_ngrams
  FROM tg JOIN eg USING (g) GROUP BY 1
)
SELECT t.doc_id,
       COALESCE(ov.n_overlap_ngrams, 0) AS n_overlap_ngrams,
       CAST(CASE WHEN COALESCE(ov.n_overlap_ngrams, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS contaminated
FROM train t LEFT JOIN ov USING (doc_id)
"""


# --------------------------------------------------------------------------
# 29. within-document repetition metrics (Gopher repetition filters)
# --------------------------------------------------------------------------

def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import repetition_metrics

    rep = repetition_metrics(_t(spark, sf_dir, "documents"), ngram=2)
    return rep.select(
        "doc_id",
        "n_grams",
        round6("top_gram_frac").alias("top_gram_frac"),
        round6("dup_token_frac").alias("dup_token_frac"),
    )


_SQL_REPETITION = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN TRIM(lower(text)) = '' THEN []
              ELSE string_split_regex(TRIM(lower(text)), '\\s+') END AS toks
  FROM documents
),
base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct
  FROM t
),
grams AS (
  SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS g
  FROM (
    SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
    FROM t WHERE len(toks) >= 2
  )
),
gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
pd AS (SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS top_cnt FROM gc GROUP BY 1)
SELECT base.doc_id,
       CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
       (FLOOR(COALESCE(CAST(pd.top_cnt AS DOUBLE) / pd.n_grams, 0.0)
              * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS top_gram_frac,
       (FLOOR(CASE WHEN base.n_tokens > 0
                   THEN 1.0 - CAST(base.n_distinct AS DOUBLE) / base.n_tokens
                   ELSE 0.0 END * 1000000.0 + 0.5001) / 1000000.0) + 0.0
         AS dup_token_frac
FROM base LEFT JOIN pd USING (doc_id)
"""


# --------------------------------------------------------------------------
# 30. PII redaction: mask emails/phones/IPs, count per kind, verify the
#     masked text byte-for-byte via md5 (PII synthesized deterministically —
#     the corpus itself is clean)
# --------------------------------------------------------------------------

def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textops import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-000-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    out = redact_pii(docs)
    return out.select(
        "doc_id",
        "n_pii_email",
        "n_pii_phone",
        "n_pii_ipv4",
        F.md5(F.col("text")).alias("masked_md5"),
    )


_SQL_PII = r"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-000-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
    AS n_pii_email,
  CAST(len(regexp_extract_all(text,
    '\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3}[- .]?[0-9]{2,4}')) AS BIGINT)
    AS n_pii_phone,
  CAST(len(regexp_extract_all(text,
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
    AS n_pii_ipv4,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII:email]', 'g'),
        '\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3}[- .]?[0-9]{2,4}',
        '[PII:phone]', 'g'),
      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[PII:ipv4]', 'g')
  ) AS masked_md5
FROM d
"""


# --------------------------------------------------------------------------
# 31. BM25 retrieval over the corpus (Robertson k1/b form, Lucene idf)
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import bm25_topk

    out = bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=20)
    return out.select("doc_id", "n_hit_terms", round6("score").alias("score"))


_SQL_BM25 = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN TRIM(lower(text)) = '' THEN []
              ELSE string_split_regex(TRIM(lower(text)), '\\s+') END AS toks
  FROM documents
),
d AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
hits AS (
  SELECT doc_id, dl, UNNEST(toks) AS term FROM d
),
tf AS (
  SELECT doc_id, term, dl, COUNT(*) AS tf FROM hits
  WHERE term IN {tuple(_BM25_TERMS)!r}
  GROUP BY 1, 2, 3
),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (corpus.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         * (tf.tf * (1.2 + 1))
         / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / corpus.avgdl))
           AS term_score
  FROM tf JOIN dfq USING (term) CROSS JOIN corpus
)
SELECT doc_id, COUNT(*) AS n_hit_terms,
       (FLOOR(SUM(term_score) * 1000000.0 + 0.5001) / 1000000.0) + 0.0
         AS score
FROM scored GROUP BY 1
ORDER BY SUM(term_score) DESC, doc_id
LIMIT 20
"""


# --------------------------------------------------------------------------
# 32. domain-mixture sampling to a token budget (deterministic, replayable)
# --------------------------------------------------------------------------

def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import mix_to_budget

    docs = _t(spark, sf_dir, "documents")
    # weights as an expression-derived tiny dim (even-indexed sources get 3x
    # weight) — works at any SF without a driver-side source list
    weights = (
        docs.select("source")
        .distinct()
        .withColumn(
            "weight",
            F.when(
                F.substring(F.col("source"), 4, 10).cast("int") % 2 == 0,
                F.lit(3.0),
            ).otherwise(F.lit(1.0)),
        )
    )
    kept = mix_to_budget(
        docs,
        stratum_col="source",
        weight_col_df=weights,
        token_col="n_chars",
        budget_tokens=30_000,
        key_col="doc_id",
    )
    return kept.select("doc_id", "source", "sample_bucket", "keep_rate_mille")


_SQL_MIX = f"""
WITH w AS (
  SELECT source,
         CASE WHEN CAST(source[4:] AS INTEGER) % 2 = 0 THEN 3.0 ELSE 1.0 END
           AS weight
  FROM (SELECT DISTINCT source FROM documents)
),
totals AS (SELECT source, SUM(n_chars) AS actual_tokens FROM documents GROUP BY 1),
wsum AS (SELECT SUM(weight) AS wsum FROM w),
rates AS (
  SELECT totals.source,
         CAST(LEAST(1000, FLOOR(CAST(30000 AS DOUBLE) * w.weight / wsum.wsum
                                / totals.actual_tokens * 1000))
              AS BIGINT) AS keep_rate_mille
  FROM totals JOIN w USING (source) CROSS JOIN wsum
),
b AS (
  SELECT doc_id, documents.source, keep_rate_mille,
    (({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 7919 + 104729)
      % 1000000007 % 1000 AS sample_bucket
  FROM documents JOIN rates ON documents.source = rates.source
)
SELECT doc_id, source, sample_bucket, keep_rate_mille
FROM b WHERE sample_bucket < keep_rate_mille
"""


# --------------------------------------------------------------------------
# 34. dedup keeper policy — cluster representatives by quality (max tokens)
# --------------------------------------------------------------------------

def q_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster graph as ``dedup_clusters``, but the keeper is chosen by
    policy (longest member, ties → lowest id) via one ``max_by`` aggregation
    — no per-cluster window sort (see ``select_cluster_keepers``)."""
    from .operators.dedup_graph import dedup_clusters, select_cluster_keepers
    from .operators.textops import token_count

    docs = _t(spark, sf_dir, "documents")
    fps = simhash(docs, bits=32)
    near = simhash_near_pairs(fps, bits=32, max_hamming=1, bands=2)
    clustered = dedup_clusters(docs, near)
    scored = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return select_cluster_keepers(
        clustered.join(scored, "doc_id"), score_col="n_tokens"
    ).select(
        "cluster_id",
        "cluster_size",
        "keeper_doc_id",
        F.col("keeper_score").alias("keeper_tokens"),
    )


_SQL_DEDUP_KEEPER = f"""
WITH RECURSIVE {_CLUSTER_CTES},
scored AS (
  SELECT doc_id,
         CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT comp.cluster_id, comp.node AS doc_id, s.n_tokens,
         ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                            ORDER BY s.n_tokens DESC, comp.node ASC) AS rn,
         COUNT(*) OVER (PARTITION BY comp.cluster_id) AS cluster_size
  FROM comp JOIN scored s ON s.doc_id = comp.node
)
SELECT cluster_id, cluster_size, doc_id AS keeper_doc_id,
       n_tokens AS keeper_tokens
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# 35. corpus sharding — deterministic global shuffle into N training shards
# --------------------------------------------------------------------------

def q_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment balance profile: every document dealt to one of 16
    shards by the portable hash (``operators/sharding.py``); per-shard doc
    count, token mass, and source spread show the deal is uniform and
    source-decorrelated — the properties a training loader needs."""
    from .operators.sharding import assign_shards
    from .operators.textops import token_count

    docs = assign_shards(_t(spark, sf_dir, "documents"), n_shards=16)
    return docs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("sum_tokens"),
        F.count_distinct(F.col("source")).alias("n_sources"),
    )


_SQL_CORPUS_SHARD = f"""
WITH sharded AS (
  SELECT source,
         CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
         (({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 12289 + 65537)
           % 1000000007 % 16 AS shard
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       COUNT(DISTINCT source) AS n_sources
FROM sharded GROUP BY 1
"""


# --------------------------------------------------------------------------
# 36. normalization-robust dedup — canonical-form digest groups
# --------------------------------------------------------------------------

def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the *canonical* text form (lowercase, punctuation/
    whitespace collapsed — ``canonicalize_text``): catches trivial-variant
    duplicates byte-exact dedup misses, still one linear digest-keyed
    shuffle. ``n_raw_variants`` counts distinct raw bytes per canonical
    group — >1 means the group is invisible to ``dedup_exact``."""
    from .operators.textops import canonicalize_text

    docs = _t(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", F.md5(canonicalize_text(F.col("text"))).alias("canon_hash"),
        F.md5(F.col("text")).alias("raw_hash"),
    )
    return canon.groupBy("canon_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.count_distinct(F.col("raw_hash")).alias("n_raw_variants"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


_SQL_DEDUP_NORMALIZED = """
WITH canon AS (
  SELECT doc_id,
         md5(TRIM(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS canon_hash,
         md5(text) AS raw_hash
  FROM documents
)
SELECT canon_hash, COUNT(*) AS n_copies,
       COUNT(DISTINCT raw_hash) AS n_raw_variants,
       MIN(doc_id) AS keeper_doc_id
FROM canon GROUP BY 1
"""


# --------------------------------------------------------------------------
# 37. native session windows — batch `session_window` (gap-merge semantics)
# --------------------------------------------------------------------------

def q_events_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` in batch: per-event windows
    ``[t, t+gap)`` merged on overlap. Complements ``events_sessionize``
    (explicit lag/cumsum formulation): the native operator's merge rule makes
    a *new* session when the gap is ≥ 30 min (end-exclusive), vs the lag
    formulation's >; the oracle pins the native semantics, covering the
    boundary case the other query can't."""
    ev = _events(spark, sf_dir)
    w = F.session_window(F.timestamp_micros(F.col("ts_us")), "30 minutes")
    return (
        ev.groupBy(F.col("user_id"), w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


_SQL_SESSIONS_NATIVE = """
WITH ev AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events
),
flagged AS (
  SELECT user_id, ts_us, value,
    CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
           OR ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
              >= 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM ev
),
sessions AS (
  SELECT user_id, ts_us, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 30 * 60 * 1000000 AS session_end_us,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM sessions GROUP BY user_id, session_seq
"""


# --------------------------------------------------------------------------
# 38. k-means embedding clustering — iterative Lloyd's, unrolled-CTE oracle
# --------------------------------------------------------------------------

def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations (k=8, deterministic init + quantized centroids —
    see ``kmeans_fit``), then final nearest-centroid assignment. The oracle
    replays the identical iterations as unrolled CTEs."""
    from .operators.similarity import kmeans_fit, kmeans_predict

    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, k=8, n_iter=2)
    asg = kmeans_predict(emb, cent)
    return asg.select(
        "vec_id",
        "cell",
        round6("sq_dist").alias("sq_dist"),
    )


def _kmeans_sql(k: int, n_iter: int) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs, mirroring ``kmeans_fit``
    term-for-term (same fold order, same 1e-6 centroid grid)."""
    dist = (
        "list_reduce(list_transform(range(1, len(v)+1), "
        "i -> (v[i]-c[i])*(v[i]-c[i])), (a,b) -> a+b)"
    )
    sql = f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cell, v AS c FROM vecs
  WHERE vec_id IN (SELECT vec_id FROM vecs ORDER BY vec_id LIMIT {k})
)"""
    prev = "c0"
    for it in range(1, n_iter + 1):
        sql += f""",
a{it} AS (
  SELECT vec_id, cell FROM (
    SELECT vecs.vec_id, {prev}.cell,
           ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                              ORDER BY {dist}, {prev}.cell) AS rn
    FROM vecs CROSS JOIN {prev}
  ) t WHERE rn = 1
),
m{it} AS (
  SELECT cell, i.pos AS pos,
         (FLOOR(AVG(v[i.pos]) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS m
  FROM a{it} JOIN vecs USING (vec_id) CROSS JOIN range(1, 65) i(pos)
  GROUP BY 1, 2
),
mm{it} AS (SELECT cell, list(m ORDER BY pos) AS c_new FROM m{it} GROUP BY 1),
c{it} AS (
  SELECT {prev}.cell, COALESCE(mm{it}.c_new, {prev}.c) AS c
  FROM {prev} LEFT JOIN mm{it} USING (cell)
)"""
        prev = f"c{it}"
    sql += f"""
SELECT vec_id, cell,
       (FLOOR(sq_dist * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS sq_dist
FROM (
  SELECT vecs.vec_id, {prev}.cell, {dist} AS sq_dist,
         ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                            ORDER BY {dist}, {prev}.cell) AS rn
  FROM vecs CROSS JOIN {prev}
) t WHERE rn = 1
"""
    return sql


_SQL_KMEANS = _kmeans_sql(k=8, n_iter=2)


# --------------------------------------------------------------------------
# 39. corpus vocabulary — global word frequencies + document frequency, top-k
# --------------------------------------------------------------------------

def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: the 50 most frequent (lowercased) words
    with term count and document frequency. One explode + one groupBy —
    map-side combine does the heavy lifting; the top-k is a TakeOrdered
    (no global sort materialization). Deterministic total order
    (count desc, word asc) makes the LIMIT cut stable."""
    from .functions.hashing import word_tokens as _wt  # reuse tokenization

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_wt(F.lower(F.col("text")))).alias("w")
    ).where(F.col("w") != "")
    return (
        toks.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.count_distinct(F.col("doc_id")).alias("doc_freq"),
        )
        .orderBy(F.col("term_count").desc(), F.col("w").asc())
        .limit(50)
    )


_SQL_VOCAB = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(lower(TRIM(text)), '\\s+')) AS w
  FROM documents
)
SELECT w, COUNT(*) AS term_count, COUNT(DISTINCT doc_id) AS doc_freq
FROM toks WHERE w != ''
GROUP BY 1 ORDER BY term_count DESC, w ASC LIMIT 50
"""


# --------------------------------------------------------------------------
# 40. SCD Type-2 interval build — state-change versioning with validity spans
# --------------------------------------------------------------------------

def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) build from an event stream: per
    user, each run of consecutive identical states (event_type) becomes one
    version row with ``[valid_from, valid_to)`` and a version number; the
    open version has NULL valid_to. Two window passes over one (user, ts)
    sort — the standard gaps-and-islands SCD2 formulation, no self-join."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w))
    ).cast("int")
    starts = ev.withColumn("chg", changed).where(F.col("chg") == 1)
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return starts.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version_n"),
        F.lead("ts_us").over(w2).isNull().cast("long").alias("is_current"),
    )


_SQL_SCD2 = """
WITH ev AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, event_type, ts_us,
    CASE WHEN LAG(event_type) OVER w IS NULL
           OR event_type != LAG(event_type) OVER w
         THEN 1 ELSE 0 END AS chg
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
starts AS (SELECT * FROM flagged WHERE chg = 1)
SELECT user_id, event_type AS state, ts_us AS valid_from_us,
       LEAD(ts_us) OVER w2 AS valid_to_us,
       CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version_n,
       CAST(CASE WHEN LEAD(ts_us) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current
FROM starts
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


# --------------------------------------------------------------------------
# 41. decile profile — ntile distribution windows per group (§2.6 breadth)
# --------------------------------------------------------------------------

def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value deciles via ``ntile(10)`` over a deterministic
    total order (value, event_id), aggregated to decile boundaries — the
    window + re-aggregate shape of distribution profiling."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.round(F.avg("value"), 2).alias("mean_value"),
        )
    )


_SQL_DECILES = """
WITH d AS (
  SELECT event_type, value,
         NTILE(10) OVER (PARTITION BY event_type
                         ORDER BY value ASC, event_id ASC) AS decile
  FROM events
)
SELECT event_type, decile, COUNT(*) AS n,
       ROUND(MIN(value), 2) AS lo, ROUND(MAX(value), 2) AS hi,
       ROUND(AVG(value), 2) AS mean_value
FROM d GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 42. join-key skew report — the pre-flight diagnosis for salting decisions
# --------------------------------------------------------------------------

def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest join keys with their hotness relative to a uniform deal:
    ``hot_mille = 1000 · n_key / (total/n_keys)``. This is the measurement
    that decides when to reach for ``functions/skew.py`` salting (the events
    table is deliberately Zipf-skewed — see ``events_skewed_agg``). One
    groupBy + a TakeOrdered top-10 + a broadcast of the 1-row totals."""
    ev = _events(spark, sf_dir)
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = per_key.agg(
        F.sum("n").alias("total_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    top = per_key.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(10)
    return top.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n",
        "total_rows",
        "n_keys",
        F.expr("n * 1000 * n_keys div total_rows").alias("hot_mille"),
    )


_SQL_SKEW_REPORT = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_rows, COUNT(*) AS n_keys FROM per_key
),
top AS (
  SELECT user_id, n FROM per_key ORDER BY n DESC, user_id ASC LIMIT 10
)
SELECT user_id, n, total_rows, n_keys,
       (n * 1000 * n_keys) // total_rows AS hot_mille
FROM top CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# 43. correlated scalar subquery — Catalyst decorrelation via the SQL API
# --------------------------------------------------------------------------

def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced >1.5× their customer's average — written as a correlated
    scalar subquery through ``spark.sql`` on purpose: Catalyst must
    decorrelate it into an aggregate + join (no per-row re-execution), which
    is the rewrite that makes this shape viable at scale. The oracle runs the
    *identical* SQL text. The AVG threshold is quantized to the suite's 1e-6
    grid before the comparison: an unrounded double-AVG boundary depends on
    partial-aggregation order, so at larger SFs a knife-edge row could flip
    between engines/partitionings — the grid makes the boundary decision
    order-independent (same discipline as kmeans centroid quantization)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_ABOVE_AVG)


_SQL_ABOVE_AVG = """
SELECT o_orderkey, o_custkey,
       ROUND(o_totalprice, 2) AS totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT (FLOOR(1.5 * AVG(o2.o_totalprice) * 1000000.0 + 0.5001) / 1000000.0)
  FROM orders o2
  WHERE o2.o_custkey = o.o_custkey
)
"""


# --------------------------------------------------------------------------
# 44. ANSI set operations — INTERSECT / EXCEPT over keyed projections
# --------------------------------------------------------------------------

def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with orders in BOTH 1995 and 1996 (INTERSECT), excluding
    any with an urgent 1996 order (EXCEPT) — the set-op family the reference
    never needed (SURVEY §2.6) expressed natively; both engines run the same
    ANSI text. Set ops compile to aggregate/join shapes, so the usual
    shuffle-key reasoning applies unchanged."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_SET_OPS_BODY)


_SQL_SET_OPS_BODY = """
SELECT o_custkey FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
  AND o_orderpriority = '1-URGENT'
"""


# --------------------------------------------------------------------------
# 45. regional revenue — 6-table star join (TPC-H Q5 shape, join reordering)
# --------------------------------------------------------------------------

def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analog: revenue per nation for one region-year, with the
    local-supplier condition (c_nationkey = s_nationkey). Declared as six
    chained joins; Catalyst reorders them and broadcasts every dimension
    (region/nation/customer/supplier), so lineitem — the 100 TB table —
    is never shuffled for the dims, only aggregated."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    lineitem = _t(spark, sf_dir, "lineitem")
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_SQL_REGIONAL = """
SELECT n_name AS nation,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# 46. unigram LM scoring — corpus-as-model mean log-probability per document
# --------------------------------------------------------------------------

def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap LM quality filter (CCNet/KenLM shape): mean log₁₀ unigram
    probability under the corpus's own distribution. 6-dp rounding absorbs
    cross-engine AVG summation-order noise."""
    from .operators.textops import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs).select(
        "doc_id",
        "n_tokens",
        round6("mean_log10_prob").alias("mean_log10_prob"),
    )


_SQL_UNIGRAM = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(lower(TRIM(text)), '\\s+')) AS w
  FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE w != ''),
freq AS (SELECT w, COUNT(*) AS c FROM toks_ne GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM freq)
SELECT doc_id, COUNT(*) AS n_tokens,
       (FLOOR(AVG(log10(CAST(c AS DOUBLE) / total)) * 1000000.0 + 0.5001)
         / 1000000.0) + 0.0 AS mean_log10_prob
FROM toks_ne JOIN freq USING (w) CROSS JOIN tot
GROUP BY 1
"""


# --------------------------------------------------------------------------
# 47. Zipf fit — linear-regression aggregates over the rank/frequency curve
# --------------------------------------------------------------------------

def q_vocab_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail diagnostics for the corpus vocabulary: OLS fit of
    log₁₀ frequency against log₁₀ rank via the native regression aggregate
    family (``regr_slope``/``regr_intercept``/``regr_r2``) — a Zipfian
    corpus has slope ≈ −1. The vocabulary is Zipf-small vs the token stream
    but still unbounded at crawl scale (hundreds of millions of types with
    web noise), so the total-order rank comes from ``attach_global_order``
    — a range-partitioned distributed rank on (count desc, term asc); the
    huge count=1 tie mass is spread across ranges by the term tiebreaker —
    never a single-task global window. The regression itself is one
    map-side-combinable aggregate — the moment sums are associative, so
    this scales exactly like avg/var."""
    from .functions.hashing import word_tokens as _wt
    from .operators.globalorder import attach_global_order

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(_wt(F.lower(F.col("text")))).alias("w")
    ).where(F.col("w") != "")
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ranked = attach_global_order(
        freq, order=[("c", False), ("w", True)], rank_col="r"
    )
    lr = ranked.select(
        F.log10(F.col("c").cast("double")).alias("lf"),
        F.log10(F.col("r").cast("double")).alias("lr"),
    )
    return lr.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        round6(F.expr("regr_slope(lf, lr)")).alias("zipf_slope"),
        round6(F.expr("regr_intercept(lf, lr)")).alias("zipf_intercept"),
        round6(F.expr("regr_r2(lf, lr)")).alias("r2"),
    )


_SQL_ZIPF = """
WITH toks AS (
  SELECT UNNEST(string_split_regex(lower(TRIM(text)), '\\s+')) AS w
  FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM toks WHERE w != '' GROUP BY 1),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS r FROM freq
),
lr AS (
  SELECT log10(CAST(c AS DOUBLE)) AS lf, log10(CAST(r AS DOUBLE)) AS lr
  FROM ranked
)
SELECT COUNT(*) AS vocab_size,
       (FLOOR(REGR_SLOPE(lf, lr) * 1000000.0 + 0.5001) / 1000000.0) + 0.0
         AS zipf_slope,
       (FLOOR(REGR_INTERCEPT(lf, lr) * 1000000.0 + 0.5001) / 1000000.0) + 0.0
         AS zipf_intercept,
       (FLOOR(REGR_R2(lf, lr) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS r2
FROM lr
"""


# --------------------------------------------------------------------------
# 48. full curation pipeline — quality → MinHash dedup → keeper election,
#     one oracle replaying every stage end-to-end
# --------------------------------------------------------------------------

def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ``plans/curation.py::curate_corpus`` plan (default rules,
    no eval set): quality-rule filter, MinHash-LSH near-dup clustering with
    exact-dup star edges, longest-member keeper election. The oracle chains
    the quality, MinHash, connected-components, and election SQL end-to-end
    — the strongest single correctness statement in the suite: every stage's
    semantics AND their composition hash-match."""
    from .plans.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    res = curate_corpus(docs)
    return res.kept.select("doc_id", F.md5(F.col("text")).alias("text_md5"))


_SQL_CURATION = f"""
WITH RECURSIVE q AS (
  SELECT doc_id,
    string_split_regex(TRIM(text), '\\s+') AS toks,
    string_split_regex(lower(TRIM(text)), '\\s+') AS ltoks
  FROM documents
),
qm AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_reduce(list_transform(toks, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(toks) > 0 THEN
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS type_token_ratio,
    CASE WHEN len(toks) > 0 THEN
      CAST(len(list_filter(ltoks, w -> w IN ('the','a','and','of','to'))) AS DOUBLE) / len(toks)
    ELSE 0.0 END AS stopword_ratio
  FROM q
),
clean AS (
  SELECT d.doc_id, d.text FROM documents d JOIN qm USING (doc_id)
  WHERE qm.n_words BETWEEN 30 AND 90
    AND qm.mean_word_len BETWEEN 3.5 AND 5.0
    AND qm.type_token_ratio >= 0.3
    AND qm.stopword_ratio >= 0.02
),
{_minhash_ctes("clean")},
near AS (
  SELECT doc_a AS u, doc_b AS v FROM verified
  WHERE common / (size_a + size_b - common) >= 0.5
),
star0 AS (
  SELECT doc_id AS u, MIN(doc_id) OVER (PARTITION BY md5(text)) AS v
  FROM clean
),
star AS (SELECT u, v FROM star0 WHERE u != v),
edges0 AS (SELECT u, v FROM star UNION SELECT u, v FROM near),
edges AS (SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
nodes AS (SELECT doc_id AS node FROM clean),
walk AS (
  SELECT node, node AS reach FROM nodes
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
),
comp AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY 1),
scored AS (
  SELECT doc_id,
         CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM clean
),
ranked AS (
  SELECT comp.cluster_id, comp.node,
         ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                            ORDER BY s.n_tokens DESC, comp.node ASC) AS rn
  FROM comp JOIN scored s ON s.doc_id = comp.node
),
keepers AS (SELECT node AS doc_id FROM ranked WHERE rn = 1)
SELECT c.doc_id, md5(c.text) AS text_md5
FROM clean c JOIN keepers USING (doc_id)
"""


# --------------------------------------------------------------------------
# 49. incremental MinHash dedup — new batch vs stored corpus, no seen×seen
# --------------------------------------------------------------------------

def q_dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy incremental dedup: docs ≥ 250 arrive as the new crawl batch,
    docs < 250 are the stored corpus. Only (new×seen) and (new×new) pairs
    are computed — the oracle runs the full-corpus pipeline and drops
    seen×seen pairs, proving the incremental path finds exactly the pairs
    the batch could contribute."""
    from .operators.dedup import incremental_minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    out = incremental_minhash_dedup(new, seen, bands=2, verify_threshold=0.5)
    return out.select(
        "doc_a",
        "doc_b",
        "vs_seen",
        "n_shared_bands",
        F.col("common").cast("long").alias("common"),
        round6("jaccard").alias("jaccard"),
    )


_SQL_MINHASH_INCR = f"""
WITH {_minhash_ctes("documents")}
SELECT doc_a, doc_b,
       CAST(CASE WHEN doc_a < 250 THEN 1 ELSE 0 END AS BIGINT) AS vs_seen,
       n_shared_bands, common,
       (FLOOR((common / (size_a + size_b - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM verified
WHERE doc_b >= 250
  AND common / (size_a + size_b - common) >= 0.5
"""


# --------------------------------------------------------------------------
# 50. cube revenue — full grouping-sets lattice (completes the §2.6 family)
# --------------------------------------------------------------------------

def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one pass —
    the Expand-based plan computes every lattice level from a single scan
    with map-side partials, vs four separate aggregations."""
    orders = _t(spark, sf_dir, "orders")
    agg = orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
    )
    return agg.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "sum_price",
        "g_status",
        "g_priority",
    )


_SQL_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# 55. bucketed interval (range) join — events inside per-user error windows.
#     Spark plans a raw range predicate as BroadcastNestedLoopJoin/cartesian
#     (O(|L|·|R|)); the operator quantizes time into buckets, replicates
#     each interval across its covered buckets, and equi-joins on
#     (user, bucket) + exact post-filter — a keyed, AQE-managed shuffle.
#     The oracle runs the naive range join (DuckDB has a real IEJoin).
# --------------------------------------------------------------------------

def q_events_error_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rangejoin import bucketed_interval_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    windows = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
        )
    )
    joined = bucketed_interval_join(
        ev, windows,
        ts_col="ts", start_col="w_start", end_col="w_end",
        on=["user_id"], bucket_width_seconds=600,
    )
    return joined.groupBy("err_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        round6(F.sum("value")).alias("sum_value"),
    )


_SQL_ERROR_WINDOW = """
WITH err AS (
  SELECT event_id AS err_id, user_id, ts AS w_start,
         ts + INTERVAL 10 MINUTE AS w_end
  FROM events WHERE event_type = 'error'
)
SELECT err_id, err.user_id AS user_id, COUNT(*) AS n_events,
       (FLOOR(SUM(e.value) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS sum_value
FROM err JOIN events e
  ON e.user_id = err.user_id AND e.ts >= err.w_start AND e.ts < err.w_end
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 56. interpolated bigram LM scoring — sequence-aware text quality (catches
#     implausible word ORDER, which the unigram model cannot); one corpus
#     scan, per-row bigram assembly, Zipf-bounded count tables.
# --------------------------------------------------------------------------

def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textops import bigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    out = bigram_logprob_scores(docs, lam=0.75)
    return out.select(
        "doc_id",
        "n_bigrams",
        round6("mean_log10_bigram_prob").alias("mean_log10_bigram_prob"),
    )


_SQL_BIGRAM = r"""
WITH lst AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\s+') AS tk FROM documents
),
-- empty text: Spark's word_tokens yields [], DuckDB's split yields [''] —
-- drop the empty token so both corpora count identically
toks AS (SELECT doc_id, UNNEST(tk) AS w FROM lst WHERE len(tk) > 0),
uni AS (SELECT w, COUNT(*) AS cu FROM toks WHERE w != '' GROUP BY 1),
tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS ntot FROM uni),
big AS (
  SELECT doc_id, tk[i - 1] AS w1, tk[i] AS w2
  FROM lst, UNNEST(generate_series(2, len(tk))) AS u(i)
),
pc AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM big GROUP BY 1, 2, 3),
cb AS (SELECT w1, w2, SUM(n) AS c12 FROM pc GROUP BY 1, 2),
cp AS (SELECT w1, SUM(c12) AS c1 FROM cb GROUP BY 1),
scored AS (
  SELECT pc.doc_id, SUM(pc.n) AS n_bigrams,
         SUM(pc.n * log10(0.75 * cb.c12 / cp.c1 + 0.25 * uni.cu / tot.ntot))
           / SUM(pc.n) AS mlp
  FROM pc
  JOIN cb USING (w1, w2)
  JOIN cp USING (w1)
  JOIN uni ON uni.w = pc.w2
  CROSS JOIN tot
  GROUP BY 1
)
SELECT d.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       (FLOOR(s.mlp * 1000000.0 + 0.5001) / 1000000.0) + 0.0
         AS mean_log10_bigram_prob
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


# --------------------------------------------------------------------------
# 57. embedding scalar quantization (SQ8) — float32 → int8 codes with a
#     corpus-fitted per-dimension codebook; encode + decode both pinned:
#     the query returns each vector's code checksum AND its worst
#     reconstruction error, so the oracle verifies the full round trip.
# --------------------------------------------------------------------------

def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quantization import (
        dequantize_embeddings,
        fit_scalar_quantizer,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    quantizer = fit_scalar_quantizer(emb)
    codes = quantize_embeddings(emb, quantizer)
    recon = dequantize_embeddings(codes, quantizer).select(
        "vec_id", F.col("embedding").alias("recon")
    )
    err = (
        emb.select("vec_id", "embedding")
        .join(recon, "vec_id")
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "embedding", "recon",
                    lambda x, r: F.abs(x.cast("double") - r),
                ),
                F.lit(0.0),
                lambda acc, v: F.greatest(acc, v),
            ).alias("max_abs_err"),
        )
    )
    return (
        codes.select(
            "vec_id",
            F.size("codes").alias("n_dims"),
            F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
                "sum_codes"
            ),
        )
        .join(err, "vec_id")
        .select("vec_id", "n_dims", "sum_codes", round6("max_abs_err").alias("max_abs_err"))
    )


# shared CTE fragment: SQ8 codebook fit + per-dimension codes over the full
# embeddings table (reused by embedding_quantize and embedding_pipeline)
_SQ8_CTES = """pos AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
),
cb AS (
  SELECT i,
         (FLOOR(MIN(x) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS lo,
         (FLOOR(MAX(x) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS hi
  FROM pos GROUP BY 1
),
coded AS (
  SELECT pos.vec_id, pos.i, cb.lo, cb.hi,
         CASE WHEN cb.hi = cb.lo THEN 0
              ELSE CAST(LEAST(GREATEST(FLOOR(
                (FLOOR((pos.x - cb.lo) / (cb.hi - cb.lo) * 255.0 * 1000000.0
                       + 0.5001) / 1000000.0 + 0.0)
                + 0.5001), 0), 255) AS BIGINT)
         END AS code,
         pos.x AS x
  FROM pos JOIN cb USING (i)
)"""

_SQL_QUANTIZE = f"""
WITH {_SQ8_CTES},
recon AS (
  SELECT vec_id, i, x,
         lo + code * (hi - lo) / 255.0 AS r, code
  FROM coded
)
SELECT vec_id, CAST(COUNT(*) AS INT) AS n_dims,
       CAST(SUM(code) AS BIGINT) AS sum_codes,
       (FLOOR(MAX(ABS(x - r)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS max_abs_err
FROM recon GROUP BY 1
"""


# --------------------------------------------------------------------------
# 58. heavy hitters — exact top-k tokens via per-partition Misra–Gries
#     candidates + exact recount: shuffle ∝ partitions × m, never the full
#     vocabulary. The oracle is the plain exact top-k — the sketch path must
#     land on the identical answer (its contract, verifiable via
#     support_bound in the output).
# --------------------------------------------------------------------------

def q_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.hashing import word_tokens as _wt
    from .operators.heavyhitters import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_wt(F.lower(F.col("text")))).alias("item")).where(
        F.col("item") != ""
    )
    out = heavy_hitters(toks, item_col="item", k=20, m=4096)
    return out.select(
        "item", "cnt", "rank", round6("support_bound").alias("support_bound")
    )


_SQL_HEAVY_HITTERS = r"""
WITH lst AS (
  SELECT string_split_regex(lower(TRIM(text)), '\s+') AS tk FROM documents
),
toks AS (SELECT UNNEST(tk) AS w FROM lst WHERE len(tk) > 0),
toks_ne AS (SELECT w FROM toks WHERE w != ''),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks_ne),
counted AS (
  SELECT w AS item, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w ASC) AS rank
  FROM toks_ne GROUP BY 1
)
SELECT item, cnt, rank,
       (FLOOR(tot.n / 4097.0 * 1000000.0 + 0.5001) / 1000000.0) + 0.0
         AS support_bound
FROM counted CROSS JOIN tot
WHERE rank <= 20
"""


# --------------------------------------------------------------------------
# 59. end-to-end embedding curation — IVF near-dup → connected components →
#     keeper election → SQ8 quantization of keepers, oracle-checked as ONE
#     chained SQL statement (the embedding analog of curation_pipeline, the
#     strongest single correctness statement for the vector stack).
# --------------------------------------------------------------------------

def q_embedding_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.embedding_curation import curate_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cell"), F.col("embedding")
    )
    res = curate_embeddings(emb, centroids, threshold=0.35, n_probes=2)
    return res.kept_codes.select(
        "vec_id",
        "cluster_size",
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
            "sum_codes"
        ),
    )


_SQL_EMBED_PIPELINE = f"""
WITH RECURSIVE {_EMBED_IVF_CTES},
edges0 AS (SELECT doc_a AS u, doc_b AS v FROM ivf_pairs),
edges AS (SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
enodes AS (SELECT vec_id AS node FROM embeddings),
walk AS (
  SELECT node, node AS reach FROM enodes
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
),
comp AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY 1),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1),
keep AS (
  SELECT comp.node, csize.cluster_size
  FROM comp JOIN csize USING (cluster_id)
  WHERE comp.node = comp.cluster_id
),
{_SQ8_CTES}
SELECT keep.node AS vec_id, keep.cluster_size,
       CAST(SUM(coded.code) AS BIGINT) AS sum_codes
FROM keep JOIN coded ON coded.vec_id = keep.node
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 60. fixed-size per-group sampling — exactly n docs per source by portable
#     hash order (frozen-tape reservoir): eval-set construction and
#     per-domain exports need a COUNT guarantee, which rate-based sampling
#     cannot give. The oracle replays the hash permutation bit-for-bit.
# --------------------------------------------------------------------------

def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import sample_fixed_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_fixed_per_group(
        docs, group_cols=["source"], key_col="doc_id", n=20
    )


_SQL_SAMPLE_FIXED = f"""
WITH b AS (
  SELECT doc_id, source,
    (({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 7919 + 104729)
      % 1000000007 % 1000000000 AS h
  FROM documents
),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS rn
  FROM b
)
SELECT doc_id, source FROM r WHERE rn <= 20
"""


# --------------------------------------------------------------------------
# 61. TF-IDF query-by-example — lexical "more like this" via a sparse
#     co-occurrence join on term (docs sharing no terms with a probe never
#     meet; word-level analog of the shingle join).
# --------------------------------------------------------------------------

def q_tfidf_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import tfidf_doc_similarity

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_doc_similarity(docs, probe_ids=[0, 1, 2], k=10)
    return out.select(
        "probe_id", "doc_id", round6("cos_sim").alias("cos_sim"), "rank"
    )


_SQL_TFIDF = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(lower(TRIM(text)), '\s+')) AS term
  FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE term != ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks_ne GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln(nd.n_docs / dfreq.df) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1),
dots AS (
  SELECT p.doc_id AS probe_id, d.doc_id AS doc_id, SUM(p.w * d.w) AS dot
  FROM w p JOIN w d ON p.term = d.term AND p.doc_id != d.doc_id
  WHERE p.doc_id IN (0, 1, 2)
  GROUP BY 1, 2
),
scored AS (
  SELECT dots.probe_id, dots.doc_id,
         dots.dot / (pn.nrm * dn.nrm) AS cos_sim
  FROM dots
  JOIN norms pn ON pn.doc_id = dots.probe_id
  JOIN norms dn ON dn.doc_id = dots.doc_id
),
ranked AS (
  -- rank on the QUANTIZED cosine (ties -> doc id): the raw SUM-aggregated
  -- cosine differs at fp-noise level across engines/partitionings
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY probe_id
    ORDER BY (FLOOR(cos_sim * 1000000.0 + 0.5001) / 1000000.0) DESC, doc_id ASC
  ) AS rank
  FROM scored
)
SELECT probe_id, doc_id,
       (FLOOR(cos_sim * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS cos_sim,
       rank
FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# 62. keyed snapshot diff — the warehouse regression-audit primitive: one
#     full-outer join classifies every key as added/removed/changed with
#     the column-level change mask. Fixture: orders vs a deterministically
#     perturbed rerun (drops, price bumps, priority rewrites, new keys).
# --------------------------------------------------------------------------

def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.diff import snapshot_diff

    old = _t(spark, sf_dir, "orders")
    base = old.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderdate",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("X-DIFF"))
        .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
    ).where(F.col("o_orderkey") % 7 != 0)
    added = old.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )
    new = base.unionByName(added)
    out = snapshot_diff(old, new, keys=["o_orderkey"])
    return out.select(
        "o_orderkey",
        "change",
        F.array_join("changed_cols", ",").alias("changed_cols"),
        "n_changed_cols",
    )


_SQL_SNAPSHOT_DIFF = """
WITH new AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN ROUND(o_totalprice * 1.1, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate,
         CASE WHEN o_orderkey % 3 = 0 THEN 'X-DIFF'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 7 != 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NOT NULL AS in_old,
         n.o_orderkey IS NOT NULL AS in_new,
         list_sort(list_filter([
           CASE WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey) THEN 'o_custkey' END,
           CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) THEN 'o_orderstatus' END,
           CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) THEN 'o_totalprice' END,
           CASE WHEN NOT (o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate) THEN 'o_orderdate' END,
           CASE WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) THEN 'o_orderpriority' END
         ], x -> x IS NOT NULL)) AS cc
  FROM orders o FULL OUTER JOIN new n USING (o_orderkey)
)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS change,
       CASE WHEN in_old AND in_new THEN array_to_string(cc, ',') ELSE '' END
         AS changed_cols,
       CASE WHEN in_old AND in_new THEN CAST(len(cc) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS n_changed_cols
FROM j
WHERE NOT (in_old AND in_new AND len(cc) = 0)
"""


# --------------------------------------------------------------------------
# edit-distance near-dup join — PassJoin pigeonhole segment blocking
# --------------------------------------------------------------------------

def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dups: all pairs within Levenshtein distance 4,
    found via PassJoin segment blocking (``operators/editdist.py``) — an
    *exact* join (pigeonhole-complete candidates + thresholded verify), so
    the brute-force oracle must agree pair-for-pair. The Spark plan is an
    equi-join on segment content (never all-pairs); the oracle brute-forces
    the length-banded cross product, which is only viable at oracle scale."""
    from .operators.editdist import editdist_near_pairs

    docs = _t(spark, sf_dir, "documents")
    return editdist_near_pairs(docs, max_dist=4)


_SQL_EDITDIST = """
WITH d AS (SELECT doc_id, text, LENGTH(text) AS l FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.text, b.text) AS dist
FROM d a JOIN d b ON a.doc_id < b.doc_id AND ABS(a.l - b.l) <= 4
WHERE levenshtein(a.text, b.text) <= 4
"""


# --------------------------------------------------------------------------
# semantic (embedding-space) train/eval decontamination
# --------------------------------------------------------------------------

def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every 29th vector plays the held-out
    eval set; each remaining train vector reports its max cosine to the eval
    set and a ≥0.95 contamination flag. The eval side is broadcast (eval
    sets are small by construction) — the train side is one scan with a
    map-side-combined per-id max, no train×train term. The dot product is
    the same sequential fold in both engines, so the unrounded threshold
    comparison sees bit-identical doubles."""
    from .operators.contamination import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 29 != 0)
    evals = emb.where(F.col("vec_id") % 29 == 0)
    out = semantic_decontaminate(train, evals, threshold=0.95)
    return out.select(
        "vec_id",
        (F.round("max_eval_sim", 6) + F.lit(0.0)).alias("max_eval_sim"),
        "contaminated",
    )


_SQL_SEMANTIC_DECONTAM = f"""
WITH unit AS ({_SQL_UNIT_CTE}),
t AS (SELECT vec_id, uv AS tv FROM unit WHERE vec_id % 29 != 0),
e AS (SELECT uv AS ev FROM unit WHERE vec_id % 29 = 0),
scored AS (
  SELECT vec_id, MAX({_SQL_DOT.format(a="tv", b="ev")}) AS max_eval_sim
  FROM t, e
  GROUP BY vec_id
)
SELECT vec_id,
       ROUND(COALESCE(max_eval_sim, -1.0), 6) + 0.0 AS max_eval_sim,
       CAST(COALESCE(max_eval_sim, -1.0) >= 0.95 AS BIGINT) AS contaminated
FROM scored
"""


# --------------------------------------------------------------------------
# time-spine gap fill with LOCF (regularized per-user hourly series)
# --------------------------------------------------------------------------

def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular per-user hourly series: latest 'view' observation per hour,
    dense spine over each user's observed span, empty hours filled by LOCF
    (``operators/timeseries.py``). The spine explode fans out per *user*
    (post-aggregation), never per event, and the LOCF window's cumulative
    ROWS frame is single-pass. ``(ts_us, event_id)`` totalizes "latest" so
    both engines pick the same observation on timestamp ties."""
    from .operators.timeseries import gap_fill_locf

    ev = _events(spark, sf_dir).where(F.col("event_type") == "view")
    out = gap_fill_locf(ev, bucket_width=3_600_000_000)
    return out.select(
        F.col("key").alias("user_id"),
        "bucket",
        round6("value").alias("value"),
        "n_events",
        "gap_filled",
    )


_SQL_GAPFILL = """
WITH ev AS (
  SELECT user_id, event_id, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events WHERE event_type = 'view'
),
agg AS (
  -- DuckDB's arg_max has no composite-key overload: emulate
  -- max_by(value, (ts_us, event_id)) with a windowed row_number
  SELECT user_id, bucket, last_value, n_events FROM (
    SELECT user_id,
           CAST(FLOOR(ts_us / 3600000000) AS BIGINT) AS bucket,
           value AS last_value,
           ROW_NUMBER() OVER (
             PARTITION BY user_id, FLOOR(ts_us / 3600000000)
             ORDER BY ts_us DESC, event_id DESC) AS rn,
           COUNT(*) OVER (
             PARTITION BY user_id, FLOOR(ts_us / 3600000000)) AS n_events
    FROM ev) WHERE rn = 1
),
spine AS (
  SELECT user_id, UNNEST(range(b0, b1 + 1)) AS bucket
  FROM (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        FROM agg GROUP BY user_id)
),
j AS (
  SELECT s.user_id, s.bucket, a.last_value, a.n_events
  FROM spine s LEFT JOIN agg a USING (user_id, bucket)
)
SELECT user_id, bucket,
       ROUND(LAST_VALUE(last_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS value,
       COALESCE(n_events, 0) AS n_events,
       CAST(n_events IS NULL AS BIGINT) AS gap_filled
FROM j
"""


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis, frozen tape)
# --------------------------------------------------------------------------

def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-weighted sample of 8 docs: E-S exponential-clock
    keys from the portable hash (``operators/sampling.py``) — longer docs
    proportionally likelier, yet the draw is deterministic and the oracle
    replays the identical arithmetic (same hash, same ``(h+0.5)/10^9``
    uniform, same ``-ln(u)/w`` key), so both engines elect the same rows."""
    from .operators.sampling import sample_weighted_per_group

    docs = _t(spark, sf_dir, "documents")
    out = sample_weighted_per_group(
        docs, group_cols=["source"], key_col="doc_id", weight_col="n_chars", n=8
    )
    return out.select(
        "doc_id", "source", "n_chars", round6("es_key").alias("es_key"),
        "sample_rank",
    )


_SQL_SAMPLE_WEIGHTED = f"""
WITH b AS (
  SELECT doc_id, source, n_chars,
    -LN(((({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 7919 + 104729)
         % 1000000007 % 1000000000 + 0.5) / 1000000000.0) / n_chars AS es_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
r AS (
  SELECT doc_id, source, n_chars, es_key,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY es_key ASC, doc_id ASC) AS sample_rank
  FROM b
)
SELECT doc_id, source, n_chars, ROUND(es_key, 6) + 0.0 AS es_key, sample_rank
FROM r WHERE sample_rank <= 8
"""


# --------------------------------------------------------------------------
# single-pass column profiler (data-quality intake audit)
# --------------------------------------------------------------------------

def q_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table column profile of ``customer`` in ONE aggregation pass
    (``operators/profiling.py``): null counts, exact distinct counts,
    typed min/max/mean — the intake audit a warehouse runs before trusting
    a table. The exact-distinct form (Expand) is oracle-checked here; the
    production default at scale is the HLL++ ``approx=True`` twin of the
    same plan."""
    from .operators.profiling import profile_columns

    cust = _t(spark, sf_dir, "customer")
    out = profile_columns(cust)
    return out.select(
        "column", "n_rows", "n_nulls", round6("null_frac").alias("null_frac"),
        "n_distinct",
        round6("min_num").alias("min_num"),
        round6("max_num").alias("max_num"),
        round6("mean").alias("mean"),
        "min_str", "max_str",
    )


def _sql_profile_col(name: str, kind: str) -> str:
    num = kind == "num"
    return f"""
SELECT '{name}' AS column, COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  ROUND(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
    + 0.0 AS null_frac,
  COUNT(DISTINCT {name}) AS n_distinct,
  {f"ROUND(CAST(MIN({name}) AS DOUBLE), 6) + 0.0" if num else "CAST(NULL AS DOUBLE)"} AS min_num,
  {f"ROUND(CAST(MAX({name}) AS DOUBLE), 6) + 0.0" if num else "CAST(NULL AS DOUBLE)"} AS max_num,
  {f"ROUND(AVG({name}), 6) + 0.0" if num else "CAST(NULL AS DOUBLE)"} AS mean,
  {f"MIN({name})" if not num else "CAST(NULL AS VARCHAR)"} AS min_str,
  {f"MAX({name})" if not num else "CAST(NULL AS VARCHAR)"} AS max_str
FROM customer"""


_SQL_PROFILE = " UNION ALL ".join(
    _sql_profile_col(n, k)
    for n, k in [
        ("c_custkey", "num"), ("c_name", "str"), ("c_nationkey", "num"),
        ("c_acctbal", "num"), ("c_mktsegment", "str"),
    ]
)


# --------------------------------------------------------------------------
# co-visitation / market-basket related items
# --------------------------------------------------------------------------

def q_events_covisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related items from co-visitation: baskets are (user, day), items are
    the ``props.k`` id; per-item top-5 partners by shared-basket count
    (``operators/cooccurrence.py``). The pair join is per-basket (never
    corpus-wide) and the 64-item basket gate bounds the quadratic fan-out
    against bot-like outlier users — the guard that keeps this shape alive
    at log scale."""
    from .operators.cooccurrence import related_items_topk

    ev = _events(spark, sf_dir).withColumn(
        "day", F.floor(F.col("ts_us") / 86_400_000_000)
    )
    item = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    out = related_items_topk(
        ev, item=item, key_cols=["user_id", "day"], k=5, max_basket=64
    )
    return out.select("item", "partner", "n_baskets", F.col("rank").cast("long").alias("rank"))


_SQL_COVISIT = """
WITH ev AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
),
b0 AS (SELECT DISTINCT user_id, day, item FROM ev WHERE item IS NOT NULL),
b AS (
  SELECT user_id, day, item FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY user_id, day) AS bsz FROM b0
  ) WHERE bsz <= 64
),
pairs AS (
  SELECT l.item AS item_a, r.item AS item_b, COUNT(*) AS n_baskets
  FROM b l JOIN b r ON l.user_id = r.user_id AND l.day = r.day
  WHERE l.item < r.item
  GROUP BY 1, 2
),
sym AS (
  SELECT item_a AS item, item_b AS partner, n_baskets FROM pairs
  UNION ALL
  SELECT item_b AS item, item_a AS partner, n_baskets FROM pairs
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY item ORDER BY n_baskets DESC, partner ASC) AS rank
  FROM sym
)
SELECT item, partner, n_baskets, rank FROM r WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# distribution-position windows: percent_rank / cume_dist
# --------------------------------------------------------------------------

def q_acctbal_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's position within their market segment's balance
    distribution — ``percent_rank`` and ``cume_dist`` complete the §2.6
    ranking-window surface (row_number/rank/ntile live in other queries).
    Ties share positions by definition, so the result is order-independent
    without a tiebreak column; one shuffle on segment serves both windows."""
    from pyspark.sql.window import Window

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        round6("c_acctbal").alias("acctbal"),
        round6(F.percent_rank().over(w)).alias("pct_rank"),
        round6(F.cume_dist().over(w)).alias("cume_dist"),
    )


_SQL_ACCTBAL_POSITION = """
SELECT c_custkey, c_mktsegment,
       ROUND(c_acctbal, 6) + 0.0 AS acctbal,
       ROUND(PERCENT_RANK() OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) + 0.0 AS pct_rank,
       ROUND(CUME_DIST() OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) + 0.0 AS cume_dist
FROM customer
"""


# --------------------------------------------------------------------------
# PageRank over the co-visitation item graph (iterative, unrolled oracle)
# --------------------------------------------------------------------------

def q_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped weighted PageRank (5 iterations) over the symmetric item
    co-visitation graph (``operators/graphrank.py``). Per-iteration ranks
    are snapped to the 1e-6 grid (kmeans discipline) so the DuckDB oracle —
    the identical iterations unrolled as CTEs — lands on the same doubles
    despite engine-specific summation order."""
    from .operators.cooccurrence import cooccurrence_counts
    from .operators.graphrank import pagerank

    ev = _events(spark, sf_dir).withColumn(
        "day", F.floor(F.col("ts_us") / 86_400_000_000)
    )
    item = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    pairs = cooccurrence_counts(
        ev, item=item, key_cols=["user_id", "day"], max_basket=64
    )
    edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst"),
        F.col("n_baskets").cast("double").alias("w"),
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("src"), F.col("item_a").alias("dst"),
            F.col("n_baskets").cast("double").alias("w"),
        )
    )
    ranks = pagerank(edges, weight_col="w", damping=0.85, n_iter=5)
    return ranks.select(
        F.col("node").alias("item"), (F.col("rank") + F.lit(0.0)).alias("pr")
    )


def _pagerank_sql(n_iter: int) -> str:
    """Unrolled PageRank iterations mirroring ``graphrank.pagerank``
    term-for-term: same share normalization, same teleport arithmetic, same
    biased-floor 1e-6 quantization per iteration."""
    q = "FLOOR(({x}) * 1000000.0 + 0.5001) / 1000000.0"
    sql = f"""WITH ev AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
),
b0 AS (SELECT DISTINCT user_id, day, item FROM ev WHERE item IS NOT NULL),
b AS (
  SELECT user_id, day, item FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY user_id, day) AS bsz FROM b0
  ) WHERE bsz <= 64
),
pairs AS (
  SELECT l.item AS item_a, r.item AS item_b, COUNT(*) AS n_baskets
  FROM b l JOIN b r ON l.user_id = r.user_id AND l.day = r.day
  WHERE l.item < r.item
  GROUP BY 1, 2
),
edges AS (
  SELECT item_a AS src, item_b AS dst, CAST(n_baskets AS DOUBLE) AS w FROM pairs
  UNION ALL
  SELECT item_b AS src, item_a AS dst, CAST(n_baskets AS DOUBLE) AS w FROM pairs
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
cnt AS (SELECT COUNT(*) AS c FROM nodes),
outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
ew AS (
  SELECT e.src, e.dst, e.w / o.ow AS share FROM edges e JOIN outw o USING (src)
),
r0 AS (SELECT node, {q.format(x="1.0 / c")} AS rank FROM nodes, cnt)"""
    for i in range(n_iter):
        sql += f""",
r{i + 1} AS (
  SELECT n.node,
         {q.format(x=f"(1.0 - 0.85) / cnt.c + 0.85 * COALESCE(s.m, 0.0)")} AS rank
  FROM nodes n CROSS JOIN cnt
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * e.share) AS m
    FROM ew e JOIN r{i} r ON e.src = r.node
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
    sql += f"\nSELECT node AS item, rank + 0.0 AS pr FROM r{n_iter}"
    return sql


_SQL_PAGERANK = _pagerank_sql(5)


# --------------------------------------------------------------------------
# month-over-month revenue growth (calendar lag on aggregated series)
# --------------------------------------------------------------------------

def q_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month growth: one aggregation to
    calendar months, then ``lag`` over the (bounded-by-calendar) month
    series — the unpartitioned window runs AFTER reduction to ~one row per
    month, so the single-partition sort is over decades of months, never
    order rows. Growth is NULL for the first month and quantized to the
    1e-6 grid in both engines (ratio of two rounded sums)."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("ym")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "ym",
        "revenue",
        "n_orders",
        round6((F.col("revenue") - prev) / prev).alias("mom_growth"),
    )


_SQL_REVENUE_MOM = """
WITH m AS (
  SELECT EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate) AS ym,
         ROUND(SUM(o_totalprice), 2) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT ym, revenue, n_orders,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY ym))
             / LAG(revenue) OVER (ORDER BY ym), 6) + 0.0 AS mom_growth
FROM m
"""


# --------------------------------------------------------------------------
# CDC changelog application (MERGE/upsert-delete against a snapshot)
# --------------------------------------------------------------------------

def q_orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-state materialization from base + changelog
    (``operators/diff.py::apply_changelog``): a late upsert (seq 2) beats an
    early one (seq 1) for conflicting keys, deletes remove keys, inserts
    appear, untouched rows pass through. The changelog reduces to one
    winner per key FIRST (map-side-combined ``max_by``), then ONE
    full-outer join against the base — the raw changelog never windows."""
    from .operators.diff import apply_changelog

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    k = F.col("o_orderkey")

    def _chg(cond, price, prio, op, seq):
        return base.where(cond).select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            price.alias("o_totalprice"), prio.alias("o_orderpriority"),
            F.lit(op).alias("op"), F.lit(seq).cast("long").alias("seq"),
        )

    changes = (
        _chg(k % 10 == 3, F.col("o_totalprice") * 2, F.lit("X-EARLY"), "U", 1)
        .unionByName(
            _chg(k % 100 == 3, F.col("o_totalprice") * 1.05, F.lit("X-LATE"), "U", 2)
        )
        .unionByName(
            _chg(k % 10 == 7, F.col("o_totalprice"), F.col("o_orderpriority"), "D", 1)
        )
        .unionByName(
            base.where(k % 97 == 0).select(
                (k + 5000000).alias("o_orderkey"), "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderpriority",
                F.lit("U").alias("op"), F.lit(1).cast("long").alias("seq"),
            )
        )
    )
    out = apply_changelog(base, changes, ["o_orderkey"])
    # *1.05 lands on exact half-cents where the engines' ROUND disagree —
    # biased-floor grid (kmeans discipline) instead
    price2 = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5001)) / 100.0
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (price2 + F.lit(0.0)).alias("totalprice"), "o_orderpriority",
    )


_SQL_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 2 AS o_totalprice, 'X-EARLY' AS o_orderpriority,
         'U' AS op, 1 AS seq
  FROM base WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 1.05, 'X-LATE', 'U', 2
  FROM base WHERE o_orderkey % 100 = 3
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderpriority, 'D', 1
  FROM base WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey + 5000000, o_custkey, o_orderstatus,
         o_totalprice, o_orderpriority, 'U', 1
  FROM base WHERE o_orderkey % 97 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM changes
  ) WHERE rn = 1
),
merged AS (
  SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
         c.op,
         CASE WHEN c.op IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
         CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
         CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
         CASE WHEN c.op IS NOT NULL THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
  FROM base b FULL OUTER JOIN latest c ON b.o_orderkey = c.o_orderkey
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       FLOOR(o_totalprice * 100.0 + 0.5001) / 100.0 + 0.0 AS totalprice,
       o_orderpriority
FROM merged
WHERE op IS NULL OR op != 'D'
"""


# --------------------------------------------------------------------------
# deterministic train/val/test splits
# --------------------------------------------------------------------------

def q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint 90/5/5 train/val/test assignment by portable-hash band
    (``operators/sampling.py::assign_splits``) — a pure per-row projection
    whose placement is reproducible across engines and corpus growth (the
    property that keeps eval sets stable). Output is per-doc so the oracle
    pins every single placement, not just the counts."""
    from .operators.sampling import assign_splits

    docs = _t(spark, sf_dir, "documents")
    out = assign_splits(
        docs, key_col="doc_id",
        fractions={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return out.select("doc_id", "source", "split")


_SQL_SPLITS = f"""
WITH b AS (
  SELECT doc_id, source,
    (({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 7919 + 104729)
      % 1000000007 % 1000000 AS h
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN h < 900000 THEN 'train'
            WHEN h < 950000 THEN 'val'
            WHEN h < 1000000 THEN 'test' END AS split
FROM b
"""


# --------------------------------------------------------------------------
# per-dimension embedding standardization (feature scaling)
# --------------------------------------------------------------------------

def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dim z-scores for the first 50 vectors: stats are ONE
    dim-bounded posexplode aggregation (same driver contract as k-means
    centroids), the scaling a shuffle-free indexed-``transform`` projection
    (``operators/scaling.py``). Long output so the oracle pins every
    element; 1e-6 rounding absorbs engine aggregation-order noise in
    μ/σ."""
    from .operators.scaling import standardize_vectors

    emb = _t(spark, sf_dir, "embeddings")
    z = standardize_vectors(emb)
    return (
        z.where(F.col("vec_id") < 50)
        .select("vec_id", F.posexplode("z").alias("dim", "zval"))
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            # biased-floor grid, not ROUND: z values land on half-boundaries
            # where 1e-12 aggregation-order noise in mu/sigma flips ROUND
            round6("zval").alias("zval"),
        )
    )


_SQL_STANDARDIZE = """
WITH dims AS (SELECT CAST(i AS BIGINT) AS i FROM range(1, 65) t(i)),
vals AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, dims
),
stats AS (
  SELECT i, AVG(v) AS mu, STDDEV_POP(v) AS sigma FROM vals GROUP BY i
)
SELECT v.vec_id, v.i - 1 AS dim,
       FLOOR((v.v - s.mu) / NULLIF(s.sigma, 0.0) * 1000000.0 + 0.5001)
         / 1000000.0 + 0.0 AS zval
FROM vals v JOIN stats s USING (i)
WHERE v.vec_id < 50
"""


# --------------------------------------------------------------------------
# incremental embedding near-dup (new batch vs seen corpus, IVF-bucketed)
# --------------------------------------------------------------------------

def q_dedup_embedding_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-crawl-batch semantic dedup: every 5th vector is the NEW batch,
    the rest the stored corpus; candidates are (new×seen) ∪ (new×new) cell
    joins — seen×seen never recomputed
    (``similarity.embedding_near_duplicates_ivf_incremental``). Same frozen
    centroids and 0.35/2-probe settings as ``dedup_embedding_ivf`` so the
    two oracles share the cell CTEs."""
    from .operators.similarity import embedding_near_duplicates_ivf_incremental

    emb = _t(spark, sf_dir, "embeddings")
    new = emb.where(F.col("vec_id") % 5 == 0)
    seen = emb.where(F.col("vec_id") % 5 != 0)
    centroids = emb.where(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cell"), F.col("embedding")
    )
    out = embedding_near_duplicates_ivf_incremental(
        new, seen, centroids, threshold=0.35, n_probes=2
    )
    return out.select(
        "doc_a", "doc_b", "vs_seen",
        (F.round("cos_sim", 6) + F.lit(0.0)).alias("cos_sim"),
    )


_SQL_DEDUP_EMBED_INCR = f"""
WITH {_EMBED_IVF_CTES},
cand_incr AS (
  SELECT DISTINCT LEAST(n.vid, s.vid) AS doc_a, GREATEST(n.vid, s.vid) AS doc_b,
         1 AS vs_seen
  FROM cells n JOIN cells s ON n.cell = s.cell
  WHERE n.vid % 5 = 0 AND s.vid % 5 != 0
  UNION
  SELECT DISTINCT a.vid AS doc_a, b.vid AS doc_b, 0 AS vs_seen
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vid < b.vid
  WHERE a.vid % 5 = 0 AND b.vid % 5 = 0
),
scored_incr AS (
  SELECT doc_a, doc_b, vs_seen, {_SQL_DOT.format(a="ua.uv", b="ub.uv")} AS cos_sim
  FROM cand_incr
  JOIN unit ua ON ua.vec_id = cand_incr.doc_a
  JOIN unit ub ON ub.vec_id = cand_incr.doc_b
)
SELECT doc_a, doc_b, vs_seen, ROUND(cos_sim, 6) + 0.0 AS cos_sim
FROM scored_incr WHERE cos_sim >= 0.35
"""


# --------------------------------------------------------------------------
# temperature-scaled source mixing (alpha sampling)
# --------------------------------------------------------------------------

def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style α-sampling: source weights are the sources' own token
    masses raised to α=0.5 before normalization — low-resource sources get
    lifted, the mix stays deterministic (same hash-bucket rule as
    ``mix_budget``) and replayable in the oracle (``POWER`` is IEEE in both
    engines)."""
    from .operators.sampling import mix_to_budget

    docs = _t(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(
        F.sum("n_chars").cast("double").alias("weight")
    )
    kept = mix_to_budget(
        docs,
        stratum_col="source",
        weight_col_df=weights,
        token_col="n_chars",
        budget_tokens=30_000,
        key_col="doc_id",
        alpha=0.5,
    )
    return kept.select("doc_id", "source", "sample_bucket", "keep_rate_mille")


_SQL_MIX_TEMPERATURE = f"""
WITH w AS (
  SELECT source, POWER(CAST(SUM(n_chars) AS DOUBLE), 0.5) AS weight
  FROM documents GROUP BY 1
),
totals AS (SELECT source, SUM(n_chars) AS actual_tokens FROM documents GROUP BY 1),
wsum AS (SELECT SUM(weight) AS wsum FROM w),
rates AS (
  SELECT totals.source,
         CAST(LEAST(1000, FLOOR(CAST(30000 AS DOUBLE) * w.weight / wsum.wsum
                                / totals.actual_tokens * 1000))
              AS BIGINT) AS keep_rate_mille
  FROM totals JOIN w USING (source) CROSS JOIN wsum
),
b AS (
  SELECT doc_id, documents.source, keep_rate_mille,
    (({_SQL_POLY_HASH.format(s="CAST(doc_id AS VARCHAR)")}) * 7919 + 104729)
      % 1000000007 % 1000 AS sample_bucket
  FROM documents JOIN rates ON documents.source = rates.source
)
SELECT doc_id, source, sample_bucket, keep_rate_mille
FROM b WHERE sample_bucket < keep_rate_mille
"""


# --------------------------------------------------------------------------
# quantile normalization (cross-sample distribution alignment)
# --------------------------------------------------------------------------

def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bolstad quantile normalization with sources as 'samples' and docs as
    'genes': every source's n_chars distribution is replaced by the
    cross-source per-rank mean (``operators/expression.py::
    quantile_normalize`` — the same operator the genomic binding runs on
    expression matrices). Ranks use a (value, id) total order so ties are
    engine-independent; the per-rank mean is grid-snapped."""
    from .operators.expression import quantile_normalize

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("n_chars")
    )
    out = quantile_normalize(
        docs, sample_col="source", item_col="doc_id", value_col="n_chars"
    )
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("qn_rank").cast("long").alias("qn_rank"),
        round6("qn_value").alias("qn_value"),
    )


_SQL_QUANTILE_NORM = """
WITH ranked AS (
  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE) ASC, doc_id ASC
         ) AS qn_rank
  FROM documents
),
ref AS (
  SELECT qn_rank, AVG(n_chars) AS qn_value FROM ranked GROUP BY qn_rank
)
SELECT r.doc_id, r.source, r.n_chars, r.qn_rank,
       FLOOR(ref.qn_value * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS qn_value
FROM ranked r JOIN ref USING (qn_rank)
"""


# --------------------------------------------------------------------------
# Welch's two-sample t-test (differential comparison per group)
# --------------------------------------------------------------------------

def q_welch_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type A/B comparison of ``value`` between even/odd user
    cohorts via Welch's t (``functions/stats.py::welch_t_test``): both
    cohorts' moments come from ONE conditional-aggregate pass (no cohort
    join), p is the shared A&S normal closed form so the oracle replicates
    it term-for-term. All doubles grid-snapped (aggregation-order noise)."""
    from .functions.stats import welch_t_test

    ev = _events(spark, sf_dir).withColumn("cohort", F.col("user_id") % 2)
    out = welch_t_test(
        ev, group_cols=["event_type"], cohort_col="cohort",
        value_col="value", cohort_a=0, cohort_b=1,
    )

    return out.select(
        "event_type", "n_a", "n_b",
        round6("mean_a").alias("mean_a"), round6("mean_b").alias("mean_b"),
        round6("var_a").alias("var_a"), round6("var_b").alias("var_b"),
        round6("t_stat").alias("t_stat"), round6("df_welch").alias("df_welch"),
        round6("p_value").alias("p_value"),
    )


_WELCH_T_ABS = "ABS((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b))"
_SQL_WELCH = f"""
WITH base AS (
  SELECT event_type, user_id % 2 AS cohort, value FROM events
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN cohort = 0 THEN value END) AS n_a,
         COUNT(CASE WHEN cohort = 1 THEN value END) AS n_b,
         AVG(CASE WHEN cohort = 0 THEN value END) AS mean_a,
         AVG(CASE WHEN cohort = 1 THEN value END) AS mean_b,
         VAR_SAMP(CASE WHEN cohort = 0 THEN value END) AS var_a,
         VAR_SAMP(CASE WHEN cohort = 1 THEN value END) AS var_b
  FROM base GROUP BY 1
),
w AS (
  SELECT *,
    CASE WHEN n_a >= 2 AND n_b >= 2 AND (var_a / n_a + var_b / n_b) > 0
         THEN (mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b) END AS t_stat,
    CASE WHEN n_a >= 2 AND n_b >= 2 AND (var_a / n_a + var_b / n_b) > 0
         THEN POWER(var_a / n_a + var_b / n_b, 2)
              / (POWER(var_a / n_a, 2) / (n_a - 1)
                 + POWER(var_b / n_b, 2) / (n_b - 1)) END AS df_welch
  FROM agg
),
p AS (
  SELECT *,
    CASE WHEN t_stat IS NULL THEN NULL
         ELSE LEAST(GREATEST(
           2.0 * (1.0 - (0.5 * (1.0 + {_SQL_ERF.format(y=f"({_WELCH_T_ABS}/SQRT(2.0))")}))),
           0.0), 1.0) END AS p_value
  FROM w
)
SELECT event_type, n_a, n_b,
       FLOOR(mean_a * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS mean_a,
       FLOOR(mean_b * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS mean_b,
       FLOOR(var_a * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS var_a,
       FLOOR(var_b * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS var_b,
       FLOOR(t_stat * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS t_stat,
       FLOOR(df_welch * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS df_welch,
       FLOOR(p_value * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value
FROM p
"""


# --------------------------------------------------------------------------
# Mann–Whitney U (nonparametric A/B, tie-corrected)
# --------------------------------------------------------------------------

def q_mannwhitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum A/B twin of ``welch_ab_test`` on the same cohorts: combined
    average ranks (one sort per event type), U statistic, tie-corrected
    normal z and the shared A&S p — every term replicated by the oracle."""
    from .functions.stats import mann_whitney_u

    ev = _events(spark, sf_dir).withColumn("cohort", F.col("user_id") % 2)
    out = mann_whitney_u(
        ev, group_cols=["event_type"], cohort_col="cohort",
        value_col="value", cohort_a=0, cohort_b=1,
    )

    return out.select(
        "event_type", "n_a", "n_b",
        round6("u_a").alias("u_a"), round6("z").alias("z"), round6("p_value").alias("p_value"),
    )


_MW_Z_ABS = "ABS((u_a - mu) / SQRT(sigma2))"
_SQL_MANNWHITNEY = f"""
WITH base AS (
  SELECT event_type, user_id % 2 AS cohort, value FROM events
),
ranked AS (
  SELECT event_type, cohort, value,
         RANK() OVER (PARTITION BY event_type ORDER BY value ASC)
           + (COUNT(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS r
  FROM base
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN cohort = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN cohort = 1 THEN 1 END) AS n_b,
         SUM(CASE WHEN cohort = 0 THEN r END) AS r_a
  FROM ranked GROUP BY 1
),
ties AS (
  SELECT event_type, SUM(t * t * t - t) AS tie3 FROM (
    SELECT event_type, value, COUNT(*) AS t FROM base GROUP BY 1, 2
  ) GROUP BY 1
),
w AS (
  SELECT a.event_type, n_a, n_b,
         r_a - n_a * (n_a + 1) / 2.0 AS u_a,
         n_a * n_b / 2.0 AS mu,
         n_a * n_b / 12.0 * ((n_a + n_b + 1)
           - tie3 / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))) AS sigma2
  FROM agg a JOIN ties USING (event_type)
),
p AS (
  SELECT *,
    CASE WHEN n_a >= 1 AND n_b >= 1 AND sigma2 > 0
         THEN (u_a - mu) / SQRT(sigma2) END AS z,
    CASE WHEN n_a >= 1 AND n_b >= 1 AND sigma2 > 0
         THEN LEAST(GREATEST(
           2.0 * (1.0 - (0.5 * (1.0 + {_SQL_ERF.format(y=f"({_MW_Z_ABS}/SQRT(2.0))")}))),
           0.0), 1.0) END AS p_value
  FROM w
)
SELECT event_type, n_a, n_b,
       FLOOR(u_a * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS u_a,
       FLOOR(z * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS z,
       FLOOR(p_value * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value
FROM p
"""


# --------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (deterministic tape)
# --------------------------------------------------------------------------

def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the per-event-type mean value, B=100 Poisson
    replicates on the frozen hash tape (``functions/bootstrap.py``): every
    replicate's weighted mean comes from ONE aggregation over the B-fanned
    rows, percentiles reduce the tiny (groups × B) table. The oracle
    replays the identical hash → inverse-CDF weights, so even the resampled
    draws match across engines."""
    from .functions.bootstrap import bootstrap_mean_ci

    ev = _events(spark, sf_dir)
    out = bootstrap_mean_ci(
        ev, group_cols=["event_type"], key_col="event_id",
        value_col="value", n_replicates=100, ci=0.95,
    )

    return out.select(
        "event_type", round6("mean").alias("mean"),
        round6("ci_lo").alias("ci_lo"), round6("ci_hi").alias("ci_hi"),
        "n", "n_replicates",
    )


_SQL_BOOTSTRAP = f"""
WITH base AS (SELECT event_type, event_id, value FROM events),
fan0 AS (
  SELECT event_type, value, b,
    (({_SQL_POLY_HASH.format(s="CAST(event_id AS VARCHAR)")}) + b * 65537)
      % 1000000007 AS x
  FROM base, (SELECT UNNEST(range(1, 101)) AS b)
),
fan AS (
  SELECT event_type, value, b,
    (((x * x) % 1000000007 * 7919 + 104729) % 1000000007 % 1000000000 + 0.5)
      / 1000000000.0 AS u
  FROM fan0
),
wts AS (
  SELECT event_type, value, b,
    CASE WHEN u < 0.36787944117144233 THEN 0
         WHEN u < 0.7357588823428847 THEN 1
         WHEN u < 0.9196986029286058 THEN 2
         WHEN u < 0.9810118431238462 THEN 3
         WHEN u < 0.9963401531726563 THEN 4
         WHEN u < 0.9994058151824183 THEN 5
         ELSE 6 END AS w
  FROM fan
),
reps AS (
  SELECT event_type, b, SUM(w * value) / SUM(w) AS m
  FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0
),
cis AS (
  SELECT event_type,
         quantile_cont(m, 0.025) AS ci_lo,
         quantile_cont(m, 0.975) AS ci_hi,
         COUNT(*) AS n_replicates
  FROM reps GROUP BY 1
),
pt AS (
  SELECT event_type, AVG(value) AS mean, COUNT(value) AS n
  FROM base GROUP BY 1
)
SELECT pt.event_type,
       FLOOR(mean * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS mean,
       FLOOR(ci_lo * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS ci_lo,
       FLOOR(ci_hi * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS ci_hi,
       n, n_replicates
FROM pt JOIN cis USING (event_type)
"""


# --------------------------------------------------------------------------
# two-sample Kolmogorov–Smirnov (distribution-shape A/B)
# --------------------------------------------------------------------------

def q_events_ks_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-S distribution comparison on the same cohorts as the Welch/MW
    queries: the ECDF sup-gap is computed over DISTINCT values (the data
    collapses before any window), p from the Kolmogorov series — a finite
    codegen'd fold the oracle replays term-for-term."""
    from .functions.stats import ks_two_sample

    ev = _events(spark, sf_dir).withColumn("cohort", F.col("user_id") % 2)
    out = ks_two_sample(
        ev, group_cols=["event_type"], cohort_col="cohort",
        value_col="value", cohort_a=0, cohort_b=1,
    )

    return out.select(
        "event_type", "n_a", "n_b",
        round6("d_stat").alias("d_stat"), round6("p_value").alias("p_value"),
    )


_SQL_KS = """
WITH base AS (
  SELECT event_type, user_id % 2 AS cohort, value FROM events
),
pv AS (
  SELECT event_type, value,
         SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS cb
  FROM base GROUP BY 1, 2
),
st AS (
  SELECT event_type,
         SUM(ca) OVER (PARTITION BY event_type) AS n_a,
         SUM(cb) OVER (PARTITION BY event_type) AS n_b,
         SUM(ca) OVER (PARTITION BY event_type ORDER BY value ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (PARTITION BY event_type ORDER BY value ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM pv
),
agg AS (
  SELECT event_type, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
         MAX(ABS(cum_a / CAST(n_a AS DOUBLE) - cum_b / CAST(n_b AS DOUBLE))) AS d_stat
  FROM st GROUP BY 1
),
lamb AS (
  SELECT *,
    (SQRT(n_a * n_b / CAST(n_a + n_b AS DOUBLE))
     + 0.12 + 0.11 / SQRT(n_a * n_b / CAST(n_a + n_b AS DOUBLE))) * d_stat AS lam
  FROM agg
),
p AS (
  SELECT event_type, n_a, n_b, d_stat,
    CASE WHEN lam < 0.05 THEN 1.0  -- series not converged below; true Q ≡ 1
         ELSE LEAST(GREATEST(2.0 * list_reduce(
           list_prepend(0.0, list_transform(range(1, 101),
             k -> POWER(-1.0, CAST(k - 1 AS DOUBLE))
                  * EXP(-2.0 * k * k * lam * lam))),
           (acc, x) -> acc + x), 0.0), 1.0) END AS p_value
  FROM lamb
)
SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       FLOOR(d_stat * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS d_stat,
       FLOOR(p_value * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value
FROM p
"""


# --------------------------------------------------------------------------
# PSI distribution drift (first vs second half of the event window)
# --------------------------------------------------------------------------

def q_events_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type: the first half-month is
    the reference, the second the comparison (``functions/drift.py``).
    Reference decile edges are one group-bounded percentile aggregation;
    buckets, the ε floor, and the PSI sum are codegen'd folds the oracle
    replays; stable synthetic data should sit in the PSI < 0.1 band."""
    from .functions.drift import psi

    cut = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z epoch micros
    ev = _events(spark, sf_dir).withColumn(
        "period",
        F.when(F.col("ts_us") < cut, F.lit("ref")).otherwise(F.lit("cmp")),
    )
    out = psi(
        ev, group_cols=["event_type"], period_col="period",
        value_col="value", ref_period="ref", cmp_period="cmp",
    )
    return out.select(
        "event_type", "n_ref", "n_cmp",
        round6("psi").alias("psi"),
    )


_SQL_PSI = """
WITH base AS (
  SELECT event_type,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < 1705363200000000
              THEN 'ref' ELSE 'cmp' END AS period,
         value
  FROM events
),
edges AS (
  SELECT event_type,
         quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
           AS e
  FROM base WHERE period = 'ref' GROUP BY 1
),
bucketed AS (
  SELECT b.event_type, b.period,
         1 + list_reduce(list_prepend(0,
               list_transform(e, x -> CASE WHEN b.value > x THEN 1 ELSE 0 END)),
             (acc, v) -> acc + v) AS bk
  FROM base b JOIN edges USING (event_type)
),
counts AS (
  SELECT event_type, bk,
         CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(SUM(CASE WHEN period = 'cmp' THEN 1 ELSE 0 END) AS BIGINT) AS c_cmp
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         CAST(SUM(c_cmp) AS BIGINT) AS n_cmp
  FROM counts GROUP BY 1
),
cells AS (
  SELECT c.event_type,
         GREATEST(c.c_ref * 1.0 / t.n_ref, 0.0001) AS p_ref,
         GREATEST(c.c_cmp * 1.0 / t.n_cmp, 0.0001) AS p_cmp
  FROM counts c JOIN tot t USING (event_type)
),
s AS (
  SELECT event_type, SUM((p_cmp - p_ref) * LN(p_cmp / p_ref)) AS psi
  FROM cells GROUP BY 1
)
SELECT t.event_type, t.n_ref, t.n_cmp,
       FLOOR(s.psi * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS psi
FROM tot t JOIN s USING (event_type)
"""


# --------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# --------------------------------------------------------------------------

def q_events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED adjustment per event type: units are users, the covariate is
    each user's pre-cut mean value, the metric the post-cut mean
    (``functions/experiments.py``). Per-unit pre/post come from two masked
    aggregates in ONE pass; θ from one covar/var aggregation per group;
    the adjustment is a projection. Users without history fall back to the
    unadjusted metric (θ·0), exactly as the oracle replays."""
    from .functions.experiments import cuped_adjust

    cut = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z epoch micros
    ev = _events(spark, sf_dir)
    per_unit = ev.groupBy("event_type", "user_id").agg(
        F.avg(F.when(F.col("ts_us") < cut, F.col("value"))).alias("pre"),
        F.avg(F.when(F.col("ts_us") >= cut, F.col("value"))).alias("post"),
    ).where(F.col("post").isNotNull())
    out = cuped_adjust(
        per_unit, group_cols=["event_type"], unit_col="user_id",
        pre_col="pre", post_col="post",
    )

    return out.select(
        "event_type", "user_id",
        round6("pre").alias("pre"), round6("post").alias("post"),
        round6("theta").alias("theta"), round6("adjusted").alias("adjusted"),
    )


_SQL_CUPED = """
WITH per_unit AS (
  SELECT event_type, user_id,
         AVG(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < 1705363200000000
                  THEN value END) AS pre,
         AVG(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= 1705363200000000
                  THEN value END) AS post
  FROM events GROUP BY 1, 2
),
units AS (SELECT * FROM per_unit WHERE post IS NOT NULL),
stats AS (
  SELECT event_type, COVAR_SAMP(pre, post) AS cv, VAR_SAMP(pre) AS vr,
         AVG(pre) AS mean_pre
  FROM units GROUP BY 1
),
adj AS (
  SELECT u.event_type, u.user_id, u.pre, u.post,
         CASE WHEN s.vr > 0 THEN s.cv / s.vr ELSE 0.0 END AS theta,
         u.post - (CASE WHEN s.vr > 0 THEN s.cv / s.vr ELSE 0.0 END)
                  * COALESCE(u.pre - s.mean_pre, 0.0) AS adjusted
  FROM units u JOIN stats s USING (event_type)
)
SELECT event_type, user_id,
       FLOOR(pre * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS pre,
       FLOOR(post * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS post,
       FLOOR(theta * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS theta,
       FLOOR(adjusted * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS adjusted
FROM adj
"""


# --------------------------------------------------------------------------
# Kaplan–Meier churn curves (right-censored survival)
# --------------------------------------------------------------------------

def q_user_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-M survival of user activity spans per cohort: duration = whole
    days between a user's first and last event; users still active in the
    final 3 days of the window are right-CENSORED, not churned — the
    distinction naive averages get wrong (``functions/survival.py``). The
    curve computes over distinct durations; ln/exp cumulative products are
    grid-snapped for the oracle."""
    from .functions.survival import kaplan_meier

    censor_cut = 1_706_400_000_000_000  # 2024-01-28T00:00:00Z epoch micros
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("first_us"), F.max("ts_us").alias("last_us")
    ).select(
        (F.col("user_id") % 2).alias("cohort"),
        F.floor((F.col("last_us") - F.col("first_us")) / 86_400_000_000)
        .alias("duration_days"),
        (F.col("last_us") < censor_cut).cast("long").alias("churned"),
    )
    out = kaplan_meier(
        per_user, group_cols=["cohort"], duration_col="duration_days",
        event_col="churned",
    )
    return out.select(
        "cohort", "duration_days", "n_risk", "n_events", "n_censored",
        round6("survival").alias("survival"),
    )


_SQL_SURVIVAL = """
WITH per_user AS (
  SELECT user_id % 2 AS cohort,
         CAST(FLOOR((MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                     - MIN(epoch_us(CAST(ts AS TIMESTAMP)))) / 86400000000)
              AS BIGINT) AS duration_days,
         CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) < 1706400000000000
              AS BIGINT) AS churned
  FROM events GROUP BY user_id
),
per_t AS (
  SELECT cohort, duration_days,
         CAST(SUM(churned) AS BIGINT) AS n_events,
         CAST(SUM(1 - churned) AS BIGINT) AS n_censored
  FROM per_user GROUP BY 1, 2
),
stepped AS (
  SELECT *,
    CAST(SUM(n_events + n_censored) OVER (PARTITION BY cohort)
         - COALESCE(SUM(n_events + n_censored) OVER (
             PARTITION BY cohort ORDER BY duration_days ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS n_risk
  FROM per_t
),
curve AS (
  SELECT *,
    MAX(CASE WHEN 1.0 - n_events * 1.0 / n_risk <= 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY cohort ORDER BY duration_days ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero,
    SUM(CASE WHEN 1.0 - n_events * 1.0 / n_risk > 0
             THEN LN(1.0 - n_events * 1.0 / n_risk) END)
      OVER (PARTITION BY cohort ORDER BY duration_days ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS log_surv
  FROM stepped
)
SELECT cohort, duration_days, n_risk, n_events, n_censored,
       FLOOR((CASE WHEN hit_zero = 1 THEN 0.0 ELSE EXP(log_surv) END)
             * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS survival
FROM curve
"""


# --------------------------------------------------------------------------
# log-rank test (are the two churn curves the same?)
# --------------------------------------------------------------------------

def q_user_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Cox log-rank on customer purchase lifespans (orders spans
    1995-2001, so churn/censoring genuinely mixes — the events window is
    too short for anyone to churn): duration = whole months between a
    customer's first and last order, churned unless the last order falls
    in the final year. O−E and the hypergeometric variance accumulate over
    distinct pooled times; the 1-df χ² p reduces to the shared A&S normal
    form (no incomplete gamma), so the oracle replays it exactly."""
    from .functions.survival import logrank_test

    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_d"),
        F.max("o_orderdate").alias("last_d"),
    ).select(
        F.lit("all").alias("family"),
        (F.col("o_custkey") % 2).alias("cohort"),
        F.floor(F.datediff("last_d", "first_d") / 30).alias("duration_months"),
        (F.col("last_d") < F.lit("2000-08-01").cast("timestamp"))
        .cast("long")
        .alias("churned"),
    )
    out = logrank_test(
        per_cust, group_cols=["family"], cohort_col="cohort",
        duration_col="duration_months", event_col="churned",
        cohort_a=0, cohort_b=1,
    )

    return out.select(
        "family", "n_a", "n_b",
        round6("o_minus_e").alias("o_minus_e"), round6("var_oe").alias("var_oe"),
        round6("chi2").alias("chi2"), round6("p_value").alias("p_value"),
    )


_SQL_LOGRANK = f"""
WITH per_user AS (
  SELECT 'all' AS family, o_custkey % 2 AS cohort,
         CAST(FLOOR(date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) / 30)
              AS BIGINT) AS duration_months,
         CAST(MAX(o_orderdate) < TIMESTAMP '2000-08-01' AS BIGINT) AS churned
  FROM orders GROUP BY o_custkey
),
per_t AS (
  SELECT family, duration_months,
         SUM(CASE WHEN cohort = 0 THEN churned ELSE 0 END) AS d_a,
         SUM(CASE WHEN cohort = 1 THEN churned ELSE 0 END) AS d_b,
         SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS u_a,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS u_b
  FROM per_user GROUP BY 1, 2
),
stepped AS (
  SELECT *,
    SUM(u_a) OVER (PARTITION BY family)
      - COALESCE(SUM(u_a) OVER (PARTITION BY family ORDER BY duration_months ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
    SUM(u_b) OVER (PARTITION BY family)
      - COALESCE(SUM(u_b) OVER (PARTITION BY family ORDER BY duration_months ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
  FROM per_t
),
agg AS (
  SELECT family,
         CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
         SUM(d_a - (d_a + d_b) * na * 1.0 / (na + nb)) AS o_minus_e,
         SUM(CASE WHEN na + nb > 1
              THEN (d_a + d_b) * (na * 1.0 / (na + nb))
                   * (1.0 - na * 1.0 / (na + nb))
                   * ((na + nb) - (d_a + d_b)) * 1.0 / ((na + nb) - 1)
              ELSE 0.0 END) AS var_oe
  FROM stepped GROUP BY 1
),
p AS (
  SELECT *,
    o_minus_e * o_minus_e / var_oe AS chi2,
    LEAST(GREATEST(2.0 * (1.0 - (0.5 * (1.0
      + {_SQL_ERF.format(y="(SQRT(o_minus_e * o_minus_e / var_oe)/SQRT(2.0))")}))),
      0.0), 1.0) AS p_value
  FROM agg WHERE n_a > 0 AND n_b > 0 AND var_oe > 0
)
SELECT family, n_a, n_b,
       FLOOR(o_minus_e * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS o_minus_e,
       FLOOR(var_oe * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS var_oe,
       FLOOR(chi2 * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS chi2,
       FLOOR(p_value * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value
FROM p
"""


# --------------------------------------------------------------------------
# distributed OLS (normal equations, driver-bounded solve)
# --------------------------------------------------------------------------

def q_lineitem_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extended price on (quantity, discount): ONE
    Gram-matrix aggregation pass + a groups×d²-bounded numpy solve
    (``functions/regression.py``). The oracle solves the same 3×3 normal
    equations by Cramer's rule — algebraically identical, numerically a
    different path, so coefficients snap to a 1e-4 grid (the raw normal
    equations' condition number amplifies last-ulp sum noise ~1e4×; the
    grid leaves 4+ orders of margin)."""
    from .functions.regression import ols_fit

    li = _t(spark, sf_dir, "lineitem")
    out = ols_fit(
        li, feature_cols=["l_quantity", "l_discount"],
        label_col="l_extendedprice", group_cols=["l_returnflag"],
    )

    def _g4(c):
        return (F.floor(c * 10000.0 + F.lit(0.5001)) / 10000.0) + F.lit(0.0)

    return out.select(
        "l_returnflag", "n",
        _g4(F.col("intercept")).alias("intercept"),
        _g4(F.col("coef")[0]).alias("coef_qty"),
        _g4(F.col("coef")[1]).alias("coef_disc"),
        round6("r2").alias("r2"),
    )


_SQL_OLS = """
WITH s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(l_quantity) AS sq, SUM(l_discount) AS sd,
         SUM(l_extendedprice) AS sy,
         SUM(l_quantity * l_quantity) AS sqq,
         SUM(l_quantity * l_discount) AS sqd,
         SUM(l_discount * l_discount) AS sdd,
         SUM(l_quantity * l_extendedprice) AS sqy,
         SUM(l_discount * l_extendedprice) AS sdy,
         SUM(l_extendedprice * l_extendedprice) AS syy
  FROM lineitem GROUP BY 1
),
b AS (
  SELECT *,
    n*(sqq*sdd-sqd*sqd) - sq*(sq*sdd-sqd*sd) + sd*(sq*sqd-sqq*sd) AS det,
    sy*(sqq*sdd-sqd*sqd) - sq*(sqy*sdd-sqd*sdy) + sd*(sqy*sqd-sqq*sdy) AS det0,
    n*(sqy*sdd-sdy*sqd) - sy*(sq*sdd-sqd*sd) + sd*(sq*sdy-sqy*sd) AS det1,
    n*(sqq*sdy-sqd*sqy) - sq*(sq*sdy-sqy*sd) + sy*(sq*sqd-sqq*sd) AS det2
  FROM s
),
fit AS (
  SELECT l_returnflag, n,
         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2,
         syy, sy, sqy, sdy
  FROM b
),
r AS (
  SELECT *,
    1.0 - GREATEST(syy - (b0*sy + b1*sqy + b2*sdy), 0.0)
          / (syy - sy*sy / n) AS r2
  FROM fit
)
SELECT l_returnflag, n,
       FLOOR(b0 * 10000.0 + 0.5001) / 10000.0 + 0.0 AS intercept,
       FLOOR(b1 * 10000.0 + 0.5001) / 10000.0 + 0.0 AS coef_qty,
       FLOOR(b2 * 10000.0 + 0.5001) / 10000.0 + 0.0 AS coef_disc,
       FLOOR(r2 * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS r2
FROM r
"""


# --------------------------------------------------------------------------
# multi-touch attribution (time-decay credit for purchases)
# --------------------------------------------------------------------------

def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution of purchases to the day's preceding
    views/clicks (``operators/attribution.py``): user-keyed equi-join with
    the lookback window as a post-filter (the correlation-join shape);
    per-conversion normalization makes total credit = #attributed
    purchases — the conservation invariant the summary exposes."""
    from .operators.attribution import attribute_conversions, attribution_summary

    ev = _events(spark, sf_dir)
    credits = attribute_conversions(
        ev, conversion_type="purchase", touch_types=("view", "click"),
        window_us=86_400_000_000, model="time_decay",
        half_life_us=3_600_000_000,
    )
    out = attribution_summary(credits)
    return out.select(
        "touch_type", "n_touches",
        round6("credit").alias("credit"),
    )


_SQL_ATTRIBUTION = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events
),
conv AS (
  SELECT user_id AS u, event_id AS conversion_id, ts_us AS c_ts
  FROM ev WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id AS u, event_id AS touch_id, event_type AS touch_type,
         ts_us AS t_ts
  FROM ev WHERE event_type IN ('view', 'click')
),
pairs AS (
  SELECT conversion_id, touch_id, touch_type,
         POWER(2.0, -(c_ts - t_ts) * 1.0 / 3600000000) AS raw
  FROM conv JOIN touch USING (u)
  WHERE t_ts <= c_ts AND t_ts > c_ts - 86400000000
),
weighted AS (
  SELECT touch_type,
         raw / SUM(raw) OVER (PARTITION BY conversion_id) AS weight
  FROM pairs
)
SELECT touch_type, COUNT(*) AS n_touches,
       FLOOR(SUM(weight) * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS credit
FROM weighted GROUP BY 1
"""


# --------------------------------------------------------------------------
# leave-one-out target encoding (leakage-free categorical features)
# --------------------------------------------------------------------------

def q_segment_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed LOO target encoding of market segment against account
    balance (``operators/features.py``): category totals aggregate once
    and broadcast back; each row's own label is subtracted in a projection
    so its feature never sees itself; smoothing m=10 shrinks toward the
    global prior. Pure shared-operand arithmetic → the unrounded values
    agree and only the output is grid-snapped."""
    from .operators.features import target_encode_loo

    cust = _t(spark, sf_dir, "customer")
    out = target_encode_loo(
        cust, category_col="c_mktsegment", label_col="c_acctbal",
        smoothing=10.0,
    )
    return out.select(
        "c_custkey", "c_mktsegment",
        round6("te").alias("te"),
    )


_SQL_TARGET_ENCODE = """
WITH cat AS (
  SELECT c_mktsegment, SUM(c_acctbal) AS s, COUNT(c_acctbal) AS n
  FROM customer GROUP BY 1
),
prior AS (SELECT AVG(c_acctbal) AS p FROM customer)
SELECT c.c_custkey, c.c_mktsegment,
       FLOOR(((cat.s - c.c_acctbal + 10.0 * prior.p)
              / (cat.n - 1 + 10.0)) * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS te
FROM customer c JOIN cat USING (c_mktsegment) CROSS JOIN prior
"""


# --------------------------------------------------------------------------
# two-proportion z-test and chi-square independence
# --------------------------------------------------------------------------

def q_events_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-rate A/B per event type: success = value > 50, cohorts by
    user parity; pooled-variance z and the shared A&S p
    (``functions/stats.py::proportions_z_test``)."""
    from .functions.stats import proportions_z_test

    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
        (F.col("value") > 50).cast("long").alias("conv"),
    )
    out = proportions_z_test(
        ev, group_cols=["event_type"], cohort_col="cohort",
        success_col="conv", cohort_a=0, cohort_b=1,
    )

    return out.select(
        "event_type", "n_a", "n_b",
        round6("rate_a").alias("rate_a"), round6("rate_b").alias("rate_b"),
        round6("z").alias("z"), round6("p_value").alias("p_value"),
    )


_Z_ABS_SQL = "ABS((s_a * 1.0 / n_a - s_b * 1.0 / n_b) / SQRT(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b)))"
_SQL_ZTEST = f"""
WITH base AS (
  SELECT event_type, user_id % 2 AS cohort,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS conv
  FROM events
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN cohort = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN cohort = 1 THEN 1 END) AS n_b,
         CAST(SUM(CASE WHEN cohort = 0 THEN conv END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN cohort = 1 THEN conv END) AS BIGINT) AS s_b
  FROM base GROUP BY 1
),
w AS (
  SELECT *, (s_a + s_b) * 1.0 / (n_a + n_b) AS pool FROM agg
),
p AS (
  SELECT event_type, n_a, n_b,
         s_a * 1.0 / n_a AS rate_a, s_b * 1.0 / n_b AS rate_b,
         CASE WHEN pool * (1.0 - pool) > 0
              THEN (s_a * 1.0 / n_a - s_b * 1.0 / n_b)
                   / SQRT(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b)) END AS z,
         CASE WHEN pool * (1.0 - pool) > 0
              THEN LEAST(GREATEST(2.0 * (1.0 - (0.5 * (1.0
                   + {_SQL_ERF.format(y=f"({_Z_ABS_SQL}/SQRT(2.0))")}))), 0.0), 1.0)
              END AS p_value
  FROM w
)
SELECT event_type, n_a, n_b,
       FLOOR(rate_a * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS rate_a,
       FLOOR(rate_b * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS rate_b,
       FLOOR(z * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS z,
       FLOOR(p_value * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value
FROM p
"""


def q_events_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson independence of event_type × user-parity cohort: the 5×2
    table has df = 4 (EVEN by fixture design), so the p-value is the exact
    finite-sum survival function — for df 4 simply ``e^{−χ²/2}(1 + χ²/2)``,
    which the oracle states verbatim."""
    from .functions.stats import chi2_independence

    ev = _events(spark, sf_dir).select(
        F.lit("all").alias("family"),
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
    )
    out = chi2_independence(
        ev, group_cols=["family"], row_col="event_type", col_col="cohort"
    )

    return out.select(
        "family", "n", "df", round6("chi2").alias("chi2"),
        round6("p_value").alias("p_value"),
    )


_SQL_CHI2 = """
WITH cells AS (
  SELECT 'all' AS family, event_type, user_id % 2 AS cohort, COUNT(*) AS o
  FROM events GROUP BY 1, 2, 3
),
marg AS (
  SELECT *,
    SUM(o) OVER (PARTITION BY family, event_type) AS rt,
    SUM(o) OVER (PARTITION BY family, cohort) AS ct,
    SUM(o) OVER (PARTITION BY family) AS n
  FROM cells
),
agg AS (
  SELECT family, CAST(MAX(n) AS BIGINT) AS n,
         CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT cohort) - 1)
              AS BIGINT) AS df,
         SUM((o - rt * ct * 1.0 / n) * (o - rt * ct * 1.0 / n)
             / (rt * ct * 1.0 / n))
           + (MAX(n) - SUM(rt * ct * 1.0 / n)) AS chi2
  FROM marg GROUP BY 1
)
SELECT family, n, df,
       FLOOR(chi2 * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS chi2,
       FLOOR(LEAST(GREATEST(EXP(-chi2 / 2.0) * (1.0 + chi2 / 2.0), 0.0), 1.0)
             * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value
FROM agg
"""


# --------------------------------------------------------------------------
# Benford first-digit conformity + revenue concentration
# --------------------------------------------------------------------------

def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford screen on order totals (``functions/drift.py``):
    arithmetic digit extraction (string casts hit scientific-notation
    rendering differences), χ² against the Benford shares with missing-
    digit mass added analytically, df=8 exact finite-sum p. TPC-H prices
    are ~uniform, NOT Benford — the expected verdict is non-conformity
    (p ≈ 0), which is itself the point of the screen."""
    from .functions.drift import benford_test

    orders = _t(spark, sf_dir, "orders").select(
        F.lit("all").alias("family"), "o_totalprice"
    )
    out = benford_test(orders, group_cols=["family"], value_col="o_totalprice")

    return out.select(
        "family", "n", round6("chi2").alias("chi2"),
        round6("p_value").alias("p_value"), round6("max_dev").alias("max_dev"),
    )


_SQL_BENFORD = """
WITH vals AS (
  SELECT 'all' AS family, ABS(o_totalprice) AS ax FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice != 0
),
digits AS (
  SELECT family,
         LEAST(GREATEST(CAST(FLOOR(ax / POWER(10.0, FLOOR(LOG10(ax)))) AS INTEGER), 1), 9) AS d
  FROM vals
),
counts AS (SELECT family, d, COUNT(*) AS o FROM digits GROUP BY 1, 2),
withn AS (
  SELECT *, SUM(o) OVER (PARTITION BY family) AS n,
         LOG10(1.0 + 1.0 / d) AS p_d
  FROM counts
),
agg AS (
  SELECT family, CAST(MAX(n) AS BIGINT) AS n,
         SUM((o - n * p_d) * (o - n * p_d) / (n * p_d)) AS chi2_present,
         SUM(p_d) AS mass,
         MAX(ABS(o * 1.0 / n - p_d)) AS max_dev
  FROM withn GROUP BY 1
),
fin AS (
  SELECT family, n, chi2_present + n * (1.0 - mass) AS chi2, max_dev FROM agg
)
SELECT family, n,
       FLOOR(chi2 * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS chi2,
       FLOOR(LEAST(GREATEST(
         EXP(-chi2 / 2.0) * (1.0 + chi2 / 2.0 + POWER(chi2 / 2.0, 2) / 2.0
                             + POWER(chi2 / 2.0, 3) / 6.0),
         0.0), 1.0) * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS p_value,
       FLOOR(max_dev * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS max_dev
FROM fin
"""


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini + Herfindahl of customer revenue per market segment
    (``functions/inequality.py``): one rank window (total order via
    custkey) + one aggregation per metric pair."""
    from .functions.inequality import concentration

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
        .join(
            cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
            "o_custkey",
        )
    )
    out = concentration(
        rev, group_cols=["c_mktsegment"], value_col="revenue",
        id_col="o_custkey",
    )

    return out.select(
        "c_mktsegment", "n", F.round("total", 2).alias("total"),
        round6("gini").alias("gini"), round6("hhi").alias("hhi"),
    )


_SQL_CONCENTRATION = """
WITH rev AS (
  SELECT o.o_custkey, c.c_mktsegment, SUM(o.o_totalprice) AS revenue
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, CAST(revenue AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY revenue ASC, o_custkey ASC) AS i
  FROM rev
),
agg AS (
  SELECT c_mktsegment, COUNT(*) AS n, SUM(v) AS total,
         SUM(i * v) AS iw, SUM(v * v) AS sq
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, n, ROUND(total, 2) AS total,
       FLOOR((2.0 * iw / (n * total) - (n + 1) * 1.0 / n) * 1000000.0 + 0.5001)
         / 1000000.0 + 0.0 AS gini,
       FLOOR((sq / (total * total)) * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS hhi
FROM agg
"""


# --------------------------------------------------------------------------
# behavioral analytics: event-type transition matrix + per-user entropy
# --------------------------------------------------------------------------

def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for each
    consecutive event pair within a user's timeline (one lag window per
    user, total (ts, id) order), count transitions and the row-normalized
    probability P(next | current). The user-journey primitive behind
    "where do people go after a view?"."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("cur")
    return counts.select(
        "cur", "nxt", "n",
        round6(F.col("n") / F.sum("n").over(w_row)).alias("p"),
    )


_SQL_TRANSITIONS = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_id
  FROM events
),
pairs AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts_us ASC, event_id ASC) AS nxt
  FROM ev
),
counts AS (
  SELECT cur, nxt, COUNT(*) AS n FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT cur, nxt, n,
       FLOOR((n * 1.0 / SUM(n) OVER (PARTITION BY cur)) * 1000000.0 + 0.5001)
         / 1000000.0 + 0.0 AS p
FROM counts
"""


def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy (nats) of each user's
    event-type mix — two keyed aggregations ((user, type) counts → per-user
    −Σ p ln p), no windows. Bots/scripted users show near-zero entropy;
    the per-user scalar feeds anomaly screens."""
    ev = _events(spark, sf_dir)
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log("c")).alias("__clogc"),
    )
    # −Σ (c/n)·ln(c/n) = ln n − (Σ c·ln c)/n  — one pass, no second join
    ent = F.log("n") - F.col("__clogc") / F.col("n")
    return per_user.select(
        "user_id", "n",
        round6(ent).alias("entropy"),
    )


_SQL_ENTROPY = """
WITH per_type AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n, SUM(c * LN(c)) AS clogc
  FROM per_type GROUP BY 1
)
SELECT user_id, n,
       FLOOR((LN(n) - clogc / n) * 1000000.0 + 0.5001) / 1000000.0 + 0.0
         AS entropy
FROM per_user
"""


# --------------------------------------------------------------------------
# RFM segmentation + Pareto/ABC classification
# --------------------------------------------------------------------------

def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic CRM scoring: per customer Recency (days since last order at
    the dataset horizon), Frequency (#orders), Monetary (revenue), each
    quintile-scored over a (metric, custkey)-totalized order, concatenated
    to the familiar '545'-style segment code. One aggregation, then ALL
    THREE quintiles come from ONE ``global_ntile_scores`` pass — the three
    metrics stacked into a single range-partitioned distributed rank
    (every stage splittable, no single-task global window; one lineage
    pin + one bounded collect instead of three) — and ``ntile_from_rank``,
    the exact arithmetic form of SQL NTILE(5). The oracle keeps the
    global-window NTILE formulation; outputs are bit-identical."""
    from .operators.globalorder import global_ntile_scores

    horizon = F.lit("2001-09-01").cast("timestamp")
    orders = _t(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.datediff(horizon, F.max("o_orderdate")).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )

    # recency: smaller is better → descending rank gives 5 to most recent
    out = global_ntile_scores(
        rfm,
        specs=[
            ("r_score", "recency_days", False),
            ("f_score", "frequency", True),
            ("m_score", "monetary", True),
        ],
        tiebreak="o_custkey",
        k=5,
    )
    return out.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
        F.concat_ws("", "r_score", "f_score", "m_score").alias("segment"),
    )


_SQL_RFM = """
WITH rfm AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), TIMESTAMP '2001-09-01')
           AS recency_days,
         COUNT(*) AS frequency,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT *,
    NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey ASC) AS r_score,
    NTILE(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_score,
    NTILE(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_score
  FROM rfm
)
SELECT o_custkey, CAST(recency_days AS INTEGER) AS recency_days,
       frequency, monetary, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM scored
"""


def q_customer_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification: customers sorted by revenue descending,
    class A while the cumulative share ≤ 80%, B to 95%, else C — the
    inventory/CRM 80-20 cut over the AGGREGATED per-customer table (never
    over raw orders). The running revenue sum comes from
    ``attach_global_order`` (range-partitioned local running sums + tiny
    broadcast offsets) instead of a single-task global window — every
    stage splittable. The cumulative share is quantized to a 1e-6 grid
    before the class cut so the boundary decision is independent of
    summation order across engines AND across the partial-sum grouping the
    distributed form introduces (same discipline as orders_above_avg's
    quantized threshold)."""
    from .operators.globalorder import attach_global_order

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("revenue")
    )
    d = attach_global_order(
        rev,
        order=[("revenue", False), ("o_custkey", True)],
        rank_col=None,
        running_sum={"__cum": "revenue"},
        total_sum_cols={"__tot": "revenue"},
    )
    share = F.floor(
        (F.col("__cum") / F.col("__tot")) * 1000000.0 + F.lit(0.5001)
    )
    out = d.select(
        "o_custkey",
        F.round("revenue", 2).alias("revenue"),
        F.when(share <= 800000, F.lit("A"))
        .when(share <= 950000, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    return out


_SQL_ABC = """
WITH rev AS (
  SELECT o_custkey, SUM(o_totalprice) AS revenue FROM orders GROUP BY 1
),
s AS (
  SELECT o_custkey, revenue,
         FLOOR((SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / SUM(revenue) OVER ()) * 1000000.0 + 0.5001) AS cum_share_q
  FROM rev
)
SELECT o_custkey, ROUND(revenue, 2) AS revenue,
       CASE WHEN cum_share_q <= 800000 THEN 'A'
            WHEN cum_share_q <= 950000 THEN 'B'
            ELSE 'C' END AS abc
FROM s
"""


# --------------------------------------------------------------------------
# n-gram novelty scoring + rolling z-score anomaly flags
# --------------------------------------------------------------------------

def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-novelty score per document: the fraction of its distinct word
    trigrams that occur in NO other document (df = 1). High novelty ⇒
    unique content; low ⇒ boilerplate/template text — the inverse signal
    of the repetition filters. One gram explode, one df aggregation keyed
    by gram, one per-doc rollup; same shuffle shape as vocab profiling."""
    from .operators.contamination import word_ngrams

    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    from .partitioning import compute_spread

    grams = compute_spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 3)).alias("g")
    )
    # df via a count window over the gram key instead of a groupBy+join
    # back: the HOF gram-building lineage executes ONCE (the join form ran
    # it twice — the unigram-logprob lesson; measured 8.8 s → ~4 s here)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per_doc = (
        grams.withColumn("df", df_w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
    )
    return per_doc.select(
        "doc_id", "n_grams", "n_unique",
        round6(F.col("n_unique") / F.col("n_grams")).alias("novelty"),
    )


_SQL_NOVELTY = """
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
grams AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(len(t) - 2, 0) + 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  )) AS g
  FROM toks
),
dfc AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
  FROM grams JOIN dfc USING (g) GROUP BY 1
)
SELECT doc_id, n_grams, n_unique,
       FLOOR((n_unique * 1.0 / n_grams) * 1000000.0 + 0.5001) / 1000000.0
         + 0.0 AS novelty
FROM per_doc
"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each event's value against its
    user's trailing 20 observations (mean/stddev over a ROWS frame with a
    total (ts, id) order); |z| ≥ 3 flags. One shuffle on user serves both
    frame aggregates; warm-up rows (< 5 prior points) are unflaggable by
    construction and excluded. Output is the flagged rows only — sparse by
    design."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-20, -1)
    )
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    cnt = F.count("value").over(w)
    z = (F.col("value") - mu) / sd
    # quantize BEFORE the threshold: sliding-frame aggregates may sum in
    # different orders across engines, and the flag must not depend on
    # last-ulp noise at |z| = 3
    zq = round6(z)
    out = ev.select(
        "event_id", "user_id", "ts_us", "value",
        F.when((cnt >= 5) & (sd > 0), zq).alias("z"),
    ).where(F.abs(F.col("z")) >= 3)
    return out.select(
        "event_id", "user_id", "ts_us",
        F.round("value", 2).alias("value"), "z",
    )


_SQL_ANOMALY = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events
),
roll AS (
  SELECT *,
    AVG(value) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS mu,
    STDDEV_SAMP(value) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sd,
    COUNT(value) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS cnt
  FROM ev
),
flagged AS (
  SELECT event_id, user_id, ts_us, value,
         CASE WHEN cnt >= 5 AND sd > 0
              THEN FLOOR(((value - mu) / sd) * 1000000.0 + 0.5001)
                   / 1000000.0 + 0.0 END AS z
  FROM roll
)
SELECT event_id, user_id, ts_us, ROUND(value, 2) AS value, z
FROM flagged WHERE ABS(z) >= 3
"""


# --------------------------------------------------------------------------
# weighted quantiles (token-mass median)
# --------------------------------------------------------------------------

def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass median document length per source: the length at which
    half the source's CHARACTER MASS sits in shorter docs — the weighted
    quantile (``functions/stats.py::weighted_quantile``), which diverges
    from the plain median exactly when lengths are skewed. The cumulative
    share is grid-quantized inside the operator so the qualifying-row
    decision is engine-independent."""
    from .functions.stats import weighted_quantile

    docs = _t(spark, sf_dir, "documents")
    out = weighted_quantile(
        docs, group_cols=["source"], value_col="n_chars",
        weight_col="n_chars", q=0.5, id_col="doc_id",
    )
    return out.select("source", F.col("wq_50").cast("long").alias("wq_50"))


_SQL_WEIGHTED_MEDIAN = """
WITH base AS (
  SELECT source, n_chars AS v, CAST(n_chars AS DOUBLE) AS w, doc_id
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
),
stepped AS (
  SELECT source, v,
    FLOOR((SUM(w) OVER (PARTITION BY source ORDER BY v ASC, doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / SUM(w) OVER (PARTITION BY source)) * 1000000.0 + 0.5001)
      / 1000000.0 AS share
  FROM base
)
SELECT source, CAST(MIN(v) AS BIGINT) AS wq_50
FROM stepped WHERE share >= 0.5 GROUP BY 1
"""


# --------------------------------------------------------------------------
# ROC AUC via the rank identity
# --------------------------------------------------------------------------

def q_events_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type AUC of the props.k score predicting value > 50
    (``functions/stats.py::auc_score``): the exact tie-aware rank identity
    — one shared sort, no curve construction. On independent synthetic
    fields the expected verdict is AUC ~ 0.5 (no signal), which the metric
    states honestly."""
    from .functions.stats import auc_score

    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("value") > 50).cast("int").alias("label"),
        F.get_json_object(F.col("props"), "$.k").try_cast("long").alias("score"),
    ).where(F.col("score").isNotNull())
    out = auc_score(
        ev, group_cols=["event_type"], label_col="label", score_col="score"
    )
    return out.select(
        "event_type", "n_pos", "n_neg",
        round6("auc").alias("auc"),
    )


_SQL_AUC = """
WITH base AS (
  SELECT event_type,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS label,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS score
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
),
ranked AS (
  SELECT *,
         RANK() OVER (PARTITION BY event_type ORDER BY score ASC)
           + (COUNT(*) OVER (PARTITION BY event_type, score) - 1) / 2.0 AS r
  FROM base
),
agg AS (
  SELECT event_type,
         COUNT(CASE WHEN label = 1 THEN 1 END) AS n_pos,
         COUNT(CASE WHEN label = 0 THEN 1 END) AS n_neg,
         SUM(CASE WHEN label = 1 THEN r END) AS rp
  FROM ranked GROUP BY 1
)
SELECT event_type, n_pos, n_neg,
       FLOOR(((rp - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg))
             * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS auc
FROM agg WHERE n_pos >= 1 AND n_neg >= 1
"""


# --------------------------------------------------------------------------
# probability calibration: reliability buckets + Brier score
# --------------------------------------------------------------------------

def q_events_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram data + Brier score per event type, treating
    props.k/100 as a pseudo-probability for the value>50 label: fixed-width
    probability deciles (bucket edges are constants — no quantile coupling
    between engines), per-bucket predicted-vs-observed rates, and the
    bucket's Brier contribution. The full-table Brier is the
    count-weighted sum of the contributions — recoverable from this output,
    so one query serves both the curve and the scalar."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("value") > 50).cast("double").alias("label"),
        (F.get_json_object(F.col("props"), "$.k").try_cast("long") / 100.0)
        .alias("p"),
    ).where(F.col("p").isNotNull())
    bucket = F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9))
    out = ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("p").alias("mean_p"),
        F.avg("label").alias("obs_rate"),
        F.avg((F.col("p") - F.col("label")) * (F.col("p") - F.col("label")))
        .alias("brier"),
    )

    return out.select(
        "event_type", "bucket", "n",
        round6("mean_p").alias("mean_p"), round6("obs_rate").alias("obs_rate"),
        round6("brier").alias("brier"),
    )


_SQL_CALIBRATION = """
WITH base AS (
  SELECT event_type,
         CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS label,
         CAST(json_extract_string(props, '$.k') AS BIGINT) / 100.0 AS p
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
)
SELECT event_type,
       LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bucket,
       COUNT(*) AS n,
       FLOOR(AVG(p) * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS mean_p,
       FLOOR(AVG(label) * 1000000.0 + 0.5001) / 1000000.0 + 0.0 AS obs_rate,
       FLOOR(AVG((p - label) * (p - label)) * 1000000.0 + 0.5001) / 1000000.0
         + 0.0 AS brier
FROM base GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# expanding-window anomaly flags — the batch twin of the stateful streaming
# detector (streaming/events.py::stream_anomaly_flags)
# --------------------------------------------------------------------------

def q_events_anomaly_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window anomaly flags: each event's value against ALL of its
    user's prior observations (the batch twin of the streaming Welford
    detector ``stream_anomaly_flags`` — parity across micro-batches is
    pinned in ``test_streaming.py``; this registry entry gives the batch
    form its own oracle row). Frame is ``rowsBetween(unboundedPreceding,
    -1)`` per user over a total (ts, id) order — keyed by user, so the
    window parallelism is the user count, and per-user history is the
    bounded dimension. Warm-up rows (< 5 priors) and zero-variance
    histories are unflaggable by construction; z is quantized BEFORE the
    |z| ≥ 3 threshold so the flag decision is engine-independent."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    cnt = F.count("value").over(w)
    z = (F.col("value") - mu) / sd
    zq = round6(z)
    out = ev.select(
        "event_id", "user_id", "ts_us", "value",
        F.when((cnt >= 5) & (sd > 0), zq).alias("z"),
    ).where(F.abs(F.col("z")) >= 3)
    return out.select(
        "event_id", "user_id", "ts_us",
        F.round("value", 2).alias("value"), "z",
    )


_SQL_ANOMALY_EXPANDING = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events
),
roll AS (
  SELECT *,
    AVG(value) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mu,
    STDDEV_SAMP(value) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sd,
    COUNT(value) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cnt
  FROM ev
),
flagged AS (
  SELECT event_id, user_id, ts_us, value,
         CASE WHEN cnt >= 5 AND sd > 0
              THEN FLOOR(((value - mu) / sd) * 1000000.0 + 0.5001)
                   / 1000000.0 + 0.0 END AS z
  FROM roll
)
SELECT event_id, user_id, ts_us, ROUND(value, 2) AS value, z
FROM flagged WHERE ABS(z) >= 3
"""


# --------------------------------------------------------------------------
# linear classifier inference — the quality/domain-filter stage of a
# production curation pipeline (CCNet/fastText shape) as pure DataFrame ops
# --------------------------------------------------------------------------

def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear-classifier inference over hashed bag-of-words
    (``operators/classifier.py``): portable-hash each token into a 4096-
    bucket feature space, broadcast-join the (feature → weight) table
    (bounded by construction), one map-side-combinable per-doc aggregation,
    sigmoid on the mean. The weights here are the deterministic demo table
    (arithmetic in both engines) — production drops in any trained linear
    model. Score quantized on the 1e-6 grid: the per-doc weight sum
    reassociates across engines."""
    from .operators.classifier import demo_weights, linear_classifier_scores

    docs = _t(spark, sf_dir, "documents")
    out = linear_classifier_scores(
        docs, demo_weights(spark, n_features=4096), n_features=4096
    )
    return out.select(
        "doc_id",
        "n_tokens",
        round6("score").alias("score"),
    )


_SQL_CLASSIFIER = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split_regex(lower(TRIM(text)), '\\s+')) AS w
  FROM documents
),
toks_ne AS (SELECT doc_id, w FROM toks WHERE w != ''),
feats AS (
  SELECT doc_id, ({_SQL_POLY_HASH.format(s="w")}) % 4096 AS feat
  FROM toks_ne
),
wts AS (
  SELECT range AS feat,
         ((range * 2654435761) % 1000003) / 1000003.0 - 0.5 AS weight
  FROM range(4096)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(weight) AS s
  FROM feats JOIN wts USING (feat) GROUP BY 1
)
SELECT doc_id, n_tokens,
       FLOOR((1.0 / (1.0 + exp(-(s / n_tokens)))) * 1000000.0 + 0.5001)
         / 1000000.0 + 0.0 AS score
FROM agg
"""


# --------------------------------------------------------------------------
# leakage-safe splits — duplicate groups never straddle train/val/test
# --------------------------------------------------------------------------

def q_splits_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test assignment: the split hash is computed on
    the CANONICAL-TEXT digest, not the doc id, so byte-identical and
    trivial-variant duplicates (case/punctuation/whitespace noise) always
    land in the SAME split — the eval-leakage guard a per-doc hash split
    lacks (a train/test pair of near-identical docs silently inflates eval
    scores). Same linear shape as ``corpus_splits``: one projection, no
    shuffle; the per-split rollup here exists to aggregate the evidence.
    For fuzzy near-dup safety, key on the MinHash cluster id instead —
    ``plans/curation.py::leakage_safe_splits`` composes that over a
    curation run's ``clusters`` audit frame."""
    from .operators.sampling import assign_splits
    from .operators.textops import canonicalize_text

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.withColumn(
        "__grp", F.md5(canonicalize_text(F.col("text")))
    )
    out = assign_splits(
        keyed, key_col="__grp",
        fractions={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("__grp")).alias("n_groups"),
        F.count_distinct(F.col("source")).alias("n_sources"),
    )


_SQL_SPLITS_SAFE = f"""
WITH b AS (
  SELECT source,
    md5(TRIM(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS grp
  FROM documents
),
h AS (
  SELECT source, grp,
    (({_SQL_POLY_HASH.format(s="grp")}) * 7919 + 104729)
      % 1000000007 % 1000000 AS hv
  FROM b
)
SELECT CASE WHEN hv < 900000 THEN 'train'
            WHEN hv < 950000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT grp) AS n_groups,
       COUNT(DISTINCT source) AS n_sources
FROM h GROUP BY 1
"""


# --------------------------------------------------------------------------
# exact-substring duplicate spans — corpus-wide repeated token windows
# --------------------------------------------------------------------------

def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication (Lee et al. 2022 shape,
    ``operators/spans.py``): every 8-token window occurring more than once
    in the corpus, merged per doc into maximal contiguous spans a trimmer
    can cut. Rolling window hashes fold over a persisted token-hash array
    (the MinHash no-CSE barrier pattern); the only corpus-wide shuffle is
    the window-hash occurrence count — token-stream scale, same as vocab
    profiling. The oracle replays the identical rolling hash + island
    merge in SQL, pinning every span boundary."""
    from .operators.spans import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, w=8).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )


_SQL_DUP_SPANS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
th AS (
  SELECT doc_id, list_transform(t, s -> {_SQL_POLY_HASH.format(s="s")}) AS h,
         list_transform(t, s -> {_SQL_POLY_HASH2.format(s="s")}) AS h2,
         len(t) AS n
  FROM toks
),
wins AS (
  SELECT doc_id, UNNEST(range(1, n - 8 + 2)) AS pos, h, h2
  FROM th WHERE n >= 8
),
wh AS (
  SELECT doc_id, pos,
    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+7]),
                (acc, x) -> (acc * 131 + x) % 1000000007) * 998244353
    + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[pos:pos+7]),
                (acc, x) -> (acc * 137 + x) % 998244353) AS hh
  FROM wins
),
cnt AS (SELECT hh, COUNT(*) AS c FROM wh GROUP BY 1),
hits AS (SELECT doc_id, pos FROM wh JOIN cnt USING (hh) WHERE c > 1),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS ns
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
       COUNT(*) AS n_windows
FROM grp GROUP BY doc_id, g
"""


# --------------------------------------------------------------------------
# keep-first duplicate spans — the removal semantics (one copy survives)
# --------------------------------------------------------------------------

def q_dup_spans_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al. REMOVAL form of span dedup: identical window
    detection to ``dup_spans``, but the lexicographically-first (doc, pos)
    occurrence of every duplicated window is exempted — trimming these
    spans (``operators/spans.py::trim_spans``) deletes repeats while one
    copy of each passage always survives corpus-wide. The exemption is one
    extra ``min(struct(doc, pos))`` in the SAME counting aggregation —
    map-side combinable, no per-hash window (a boilerplate window hash with
    millions of occurrences would make a per-hash ranking window a hot
    single task; the groupBy min is skew-immune)."""
    from .operators.spans import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, w=8, keep_first=True).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )


_SQL_DUP_SPANS_KEEPFIRST = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
th AS (
  SELECT doc_id, list_transform(t, s -> {_SQL_POLY_HASH.format(s="s")}) AS h,
         list_transform(t, s -> {_SQL_POLY_HASH2.format(s="s")}) AS h2,
         len(t) AS n
  FROM toks
),
wins AS (
  SELECT doc_id, UNNEST(range(1, n - 8 + 2)) AS pos, h, h2
  FROM th WHERE n >= 8
),
wh AS (
  SELECT doc_id, pos,
    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+7]),
                (acc, x) -> (acc * 131 + x) % 1000000007) * 998244353
    + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[pos:pos+7]),
                (acc, x) -> (acc * 137 + x) % 998244353) AS hh
  FROM wins
),
marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY hh) AS c,
         ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn
  FROM wh
),
hits AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS ns
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
       COUNT(*) AS n_windows
FROM grp GROUP BY doc_id, g
"""


# --------------------------------------------------------------------------
# incremental duplicate spans — per-crawl-batch vs the accumulated corpus
# --------------------------------------------------------------------------

def q_dup_spans_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch span dedup (same new-vs-seen framing as
    ``dedup_incremental``): docs ≥ 250 are the arriving batch, the distinct
    window hashes of docs < 250 are the warehouse's accumulated span state.
    A batch window is flagged if it already occurs in the corpus (hash
    semi-join) or repeats within the batch; hits merge into spans exactly
    like ``dup_spans``. Per-batch cost tracks the batch token count, never
    history² — the accrual contract shared with incremental MinHash/IVF."""
    from .operators.spans import duplicated_spans_incremental, window_hashes

    docs = _t(spark, sf_dir, "documents")
    seen = (
        window_hashes(docs.where(F.col("doc_id") < 250), w=8)
        .select("h")
        .distinct()
    )
    out = duplicated_spans_incremental(
        docs.where(F.col("doc_id") >= 250), seen, w=8
    )
    return out.select("doc_id", "span_start", "span_end", "n_windows")


_SQL_DUP_SPANS_INCR = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
th AS (
  SELECT doc_id, list_transform(t, s -> {_SQL_POLY_HASH.format(s="s")}) AS h,
         list_transform(t, s -> {_SQL_POLY_HASH2.format(s="s")}) AS h2,
         len(t) AS n
  FROM toks
),
wins AS (
  SELECT doc_id, UNNEST(range(1, n - 8 + 2)) AS pos, h, h2
  FROM th WHERE n >= 8
),
wh AS (
  SELECT doc_id, pos,
    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+7]),
                (acc, x) -> (acc * 131 + x) % 1000000007) * 998244353
    + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[pos:pos+7]),
                (acc, x) -> (acc * 137 + x) % 998244353) AS hh
  FROM wins
),
seen AS (SELECT DISTINCT hh FROM wh WHERE doc_id < 250),
batch AS (SELECT doc_id, pos, hh FROM wh WHERE doc_id >= 250),
cnt AS (SELECT hh, COUNT(*) AS c FROM batch GROUP BY 1),
hits AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT b.doc_id, b.pos FROM batch b JOIN cnt USING (hh) WHERE c > 1
    UNION ALL
    SELECT b.doc_id, b.pos FROM batch b SEMI JOIN seen USING (hh)
  )
),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS ns
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
       COUNT(*) AS n_windows
FROM grp GROUP BY doc_id, g
"""


def q_dup_spans_incr_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental REMOVAL form (ADVICE r5: the flag that makes
    per-batch trimming honor the one-copy-survives contract): hashes
    already in the corpus history exempt NOTHING (the surviving copy is
    historical), while a passage repeated only WITHIN the batch keeps its
    lexicographically-first (doc, pos) occurrence — so feeding these spans
    to ``trim_spans`` never deletes a passage corpus-wide. Same
    batch/seen framing as ``dup_spans_incr``."""
    from .operators.spans import duplicated_spans_incremental, window_hashes

    docs = _t(spark, sf_dir, "documents")
    seen = (
        window_hashes(docs.where(F.col("doc_id") < 250), w=8)
        .select("h")
        .distinct()
    )
    out = duplicated_spans_incremental(
        docs.where(F.col("doc_id") >= 250), seen, w=8, keep_first=True
    )
    return out.select("doc_id", "span_start", "span_end", "n_windows")


_SQL_DUP_SPANS_INCR_KEEPFIRST = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
th AS (
  SELECT doc_id, list_transform(t, s -> {_SQL_POLY_HASH.format(s="s")}) AS h,
         list_transform(t, s -> {_SQL_POLY_HASH2.format(s="s")}) AS h2,
         len(t) AS n
  FROM toks
),
wins AS (
  SELECT doc_id, UNNEST(range(1, n - 8 + 2)) AS pos, h, h2
  FROM th WHERE n >= 8
),
wh AS (
  SELECT doc_id, pos,
    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+7]),
                (acc, x) -> (acc * 131 + x) % 1000000007) * 998244353
    + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[pos:pos+7]),
                (acc, x) -> (acc * 137 + x) % 998244353) AS hh
  FROM wins
),
seen AS (SELECT DISTINCT hh FROM wh WHERE doc_id < 250),
batch AS (SELECT doc_id, pos, hh FROM wh WHERE doc_id >= 250),
marked AS (
  SELECT b.doc_id, b.pos,
         COUNT(*) OVER (PARTITION BY b.hh) AS c,
         ROW_NUMBER() OVER (PARTITION BY b.hh ORDER BY b.doc_id, b.pos) AS rn,
         (s.hh IS NOT NULL) AS seen_hit
  FROM batch b LEFT JOIN seen s ON b.hh = s.hh
),
hits AS (
  SELECT doc_id, pos FROM marked
  WHERE seen_hit OR (c > 1 AND rn > 1)
),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS ns
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
       COUNT(*) AS n_windows
FROM grp GROUP BY doc_id, g
"""


# --------------------------------------------------------------------------
# wide-window duplicate spans (w=20), oracle-checked
# --------------------------------------------------------------------------

def q_dup_spans_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup at a production-wide window (w=20). The window hashes
    come from the Rabin–Karp prefix-sum algebra inside the vectorized
    Arrow kernel (``functions/sigkernel.py::token_window_hash_df``) — one
    ``mapInArrow`` pass, O(1) per window at any width — so the same SQL
    island-merge oracle (an explicit per-window fold) pins the spans; the
    entry keeps the wide-window regime under the oracle's correctness
    gate."""
    from .operators.spans import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, w=20).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )


_SQL_DUP_SPANS_ROLLING = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
th AS (
  SELECT doc_id, list_transform(t, s -> {_SQL_POLY_HASH.format(s="s")}) AS h,
         list_transform(t, s -> {_SQL_POLY_HASH2.format(s="s")}) AS h2,
         len(t) AS n
  FROM toks
),
wins AS (
  SELECT doc_id, UNNEST(range(1, n - 20 + 2)) AS pos, h, h2
  FROM th WHERE n >= 20
),
wh AS (
  SELECT doc_id, pos,
    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+19]),
                (acc, x) -> (acc * 131 + x) % 1000000007) * 998244353
    + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[pos:pos+19]),
                (acc, x) -> (acc * 137 + x) % 998244353) AS hh
  FROM wins
),
cnt AS (SELECT hh, COUNT(*) AS c FROM wh GROUP BY 1),
hits AS (SELECT doc_id, pos FROM wh JOIN cnt USING (hh) WHERE c > 1),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > MAX(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS ns
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end,
       COUNT(*) AS n_windows
FROM grp GROUP BY doc_id, g
"""


# --------------------------------------------------------------------------
# span trim — the end-to-end removal rewrite, driver-checked
# --------------------------------------------------------------------------

def q_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lee-et-al. removal pipeline under the correctness gate:
    keep-first span detection at w=8 feeding ``trim_spans`` — every
    document comes back with its repeated passages cut (canonical copies
    survive) and a removed-token count; untouched docs pass through
    byte-identical. The oracle recomputes the spans in SQL and rebuilds
    each trimmed text with a positions-filter, pinning the rewrite itself,
    not just the span boundaries."""
    from .operators.spans import duplicated_spans, trim_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = duplicated_spans(docs, w=8, keep_first=True)
    return trim_spans(docs, spans).select(
        "doc_id", "text", "n_tokens_removed"
    )


_SQL_SPAN_TRIM = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t
  FROM documents WHERE TRIM(text) != ''
),
th AS (
  SELECT doc_id, list_transform(t, s -> {_SQL_POLY_HASH.format(s="s")}) AS h,
         list_transform(t, s -> {_SQL_POLY_HASH2.format(s="s")}) AS h2,
         len(t) AS n
  FROM toks
),
wins AS (
  SELECT doc_id, UNNEST(range(1, n - 8 + 2)) AS pos, h, h2
  FROM th WHERE n >= 8
),
wh AS (
  SELECT doc_id, pos,
    list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+7]),
                (acc, x) -> (acc * 131 + x) % 1000000007) * 998244353
    + list_reduce(list_prepend(CAST(0 AS BIGINT), h2[pos:pos+7]),
                (acc, x) -> (acc * 137 + x) % 998244353) AS hh
  FROM wins
),
marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY hh) AS c,
         ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn
  FROM wh
),
hits AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR pos > MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS ns
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM grp GROUP BY doc_id, g
),
sp AS (
  SELECT doc_id, list(struct_pack(s := s, e := e)) AS sps
  FROM spans GROUP BY doc_id
),
base AS (
  SELECT d.doc_id, d.text,
         string_split_regex(TRIM(d.text), '\\s+') AS rt, sp.sps
  FROM documents d LEFT JOIN sp ON d.doc_id = sp.doc_id
),
kept AS (
  SELECT doc_id, text, sps, len(rt) AS n,
    CASE WHEN sps IS NULL THEN NULL ELSE
      list_transform(
        list_filter(range(1, len(rt) + 1),
                    p -> len(list_filter(sps, r -> p >= r.s AND p <= r.e)) = 0),
        p -> rt[p])
    END AS k
  FROM base
)
SELECT doc_id,
  -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
  CASE WHEN sps IS NULL THEN text
       ELSE COALESCE(array_to_string(k, ' '), '') END AS text,
  CAST(CASE WHEN sps IS NULL THEN 0 ELSE n - len(k) END AS BIGINT)
    AS n_tokens_removed
FROM kept
"""


# --------------------------------------------------------------------------
# 46. prefix-filtered exact Jaccard join (round 9) — the AllPairs/PPJoin
#     scale path: exact near-dup semantics over the FULL shingle universe
#     (unlike the df-capped valve) with the candidate join bounded by
#     prefix document frequency instead of Σdf² (operators/prefixjoin.py).
#     Runs UNBOUNDED over documents — no doc_id cap, no df cap.
# --------------------------------------------------------------------------

def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (t=0.9, k=9): this synthetic corpus has a tiny shingle vocabulary, so
    # prefixes stay hot far longer than on natural Zipf text — measured
    # sf0.1 candidate volume: t=0.6/k=5 → ~16% of Σdf² (110 s); t=0.9/k=5 →
    # 1.1M cands (+posfilter 410k, 20 s); t=0.9/k=9 → 16k cands (5 s).
    # Semantics are exact at every (t, k); only candidate volume moves —
    # all three settings find the same 255 clone pairs at sf0.1.
    from .operators.prefixjoin import jaccard_prefix_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_prefix_pairs(docs, k=9, threshold=0.9)
    return pairs.select(
        "doc_a", "doc_b", F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        round6("jaccard").alias("jaccard"),
    )


# the oracle is the brute-force co-occurrence form — prefix filtering is
# exact (no false negatives: the globally-smallest common shingle of any
# J≥t pair is pigeonholed into both prefixes), so results must be identical
_SQL_JACCARD_PREFIX = """
WITH sh AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(length(text) - 8, 0) + 1),
                   i -> text[i : i + 8])
  )) AS shingle
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.set_size AS size_a, sb.set_size AS size_b,
       (FLOOR((common / (sa.set_size + sb.set_size - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.set_size + sb.set_size - common) >= 0.9
"""


# --------------------------------------------------------------------------
# 46b. routed similarity join at LOW threshold (round 10; slice widened
#      round 11) — the auto-router (operators/simjoin.py) picks prefix vs
#      MinHash-LSH from the threshold and a one-aggregation df profile.
#      This entry pins the low-t PREFIX regime with an exact oracle: with
#      k=9 shingles the vocabulary is large and dfs low, so at the
#      correctness SF the profile routes
#      "prefix" (est. candidates (1−t)²·Σdf² ≈ 6.3e5 vs LSH's
#      16·occurrences ≈ 2.2e6 at sf0.01 — 3.6× margin, route pinned by
#      test) and the result is the exact t=0.6 Jaccard answer the
#      brute-force SQL computes — 25 rows at sf0.01 (VERDICT r10 wrong #3:
#      the old mod-4 slice yielded a single-row hash). At sf0.1 the same
#      query's profile flips to LSH (Σdf² grows quadratically in corpus
#      size, occurrences linearly) — exactly the scale behavior the router
#      exists for; the LSH regime's oracle lives in dedup_jaccard_auto_lsh.
# --------------------------------------------------------------------------

def q_dedup_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.simjoin import jaccard_pairs_auto

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_auto(docs, k=9, threshold=0.6, mode="auto")
    return pairs.select(
        "doc_a", "doc_b", F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        round6("jaccard").alias("jaccard"),
    )


# oracle: brute-force co-occurrence at t=0.6 over the full table — the
# router must take the exact prefix leg at the correctness SF (profile
# margin documented above, route test-pinned), so results are identical to
# the full-universe Jaccard answer
_SQL_JACCARD_AUTO = """
WITH sh AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(length(text) - 8, 0) + 1),
                   i -> text[i : i + 8])
  )) AS shingle
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common, sa.set_size AS size_a, sb.set_size AS size_b,
       (FLOOR((common / (sa.set_size + sb.set_size - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common / (sa.set_size + sb.set_size - common) >= 0.6
"""


# --------------------------------------------------------------------------
# 46c. routed similarity join, LSH branch (round 11) — the profile-routed
#      MinHash leg gets its own driver-checked oracle (VERDICT r10 #4: the
#      routed-LSH branch was pytest-only). With k=5 shingles the vocabulary
#      is tiny (~2k) and dfs huge, so Σdf² dwarfs 16·occurrences at every
#      SF (sf0.01: 2.5e6 vs 1.6e6; sf0.1: 2.5e8 vs 1.6e7) and the router
#      sends the full table down ``_lsh_verified_pairs`` (route pinned by
#      test). The oracle replays the banding exactly — the dedup_minhash
#      CTE chain (k=5, 16 hashes, 2 bands) with the verify filter at the
#      router's threshold — so this checks the routed leg's candidates AND
#      its size-carrying verify projection, not just "some near dups".
# --------------------------------------------------------------------------

def q_dedup_jaccard_auto_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.simjoin import jaccard_pairs_auto

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_auto(
        docs, k=5, threshold=0.6, num_hashes=16, bands=2, mode="auto"
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        round6("jaccard").alias("jaccard"),
    )


_SQL_JACCARD_AUTO_LSH = f"""
WITH {_minhash_ctes("documents")}
SELECT doc_a, doc_b, common, size_a, size_b,
       (FLOOR((common / (size_a + size_b - common)) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS jaccard
FROM verified
WHERE common / (size_a + size_b - common) >= 0.6
"""


# --------------------------------------------------------------------------
# 47. triangle counting (round 9) — degree-ordered wedge enumeration over
#     the part co-order graph (operators/triangles.py): orientation bounds
#     wedge volume at O(m^1.5) regardless of degree skew. The mod-4 vertex
#     slice keeps the synthetic graph's wedge volume bench-bounded at sf0.1
#     (610k wedges) while leaving thousands of triangles at every SF.
# --------------------------------------------------------------------------

def q_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.triangles import local_triangle_counts

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 4 == 0)
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = pp.alias("a"), pp.alias("b")
    edges = a.join(
        b,
        on=[
            F.col("a.l_orderkey") == F.col("b.l_orderkey"),
            F.col("a.l_partkey") < F.col("b.l_partkey"),
        ],
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    out = local_triangle_counts(edges)
    return out.select(F.col("vertex").alias("part"), "n_triangles")


# oracle: naive closed-wedge enumeration on the canonical (src < dst) edge
# set — each triangle a<b<c appears exactly once as e(a,b) ⋈ e(a,c) ⋈ e(b,c)
_SQL_TRIANGLE_PARTS = """
WITH pp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
),
e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.src AS va, e1.dst AS vb, e2.dst AS vc
  FROM e e1
  JOIN e e2 ON e2.src = e1.src AND e1.dst < e2.dst
  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (SELECT UNNEST([va, vb, vc]) AS part FROM tri)
SELECT part, COUNT(*) AS n_triangles FROM corners GROUP BY 1
"""


# --------------------------------------------------------------------------
# 48. small-quantity-order revenue (round 9) — TPC-H Q17 analog: a
#     correlated scalar aggregate subquery (per-part average quantity)
#     written as SQL on purpose, like orders_above_avg: Catalyst MUST
#     decorrelate it into an aggregate + join for the shape to be viable at
#     scale, and the oracle runs the identical text. The cutoff is
#     quantized to the 1e-6 grid so the boundary decision is
#     partial-aggregation-order-independent.
# --------------------------------------------------------------------------

def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_SQL_SMALL_QTY)


_SQL_SMALL_QTY = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS n_small_orders
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#9'
  AND l_quantity < (
    SELECT (FLOOR(0.2 * AVG(l2.l_quantity) * 1000000.0 + 0.5001) / 1000000.0)
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


# --------------------------------------------------------------------------
# 49. promo revenue share (round 9) — TPC-H Q14 analog: conditional
#     aggregation over one ship-year; part is broadcast, lineitem is
#     scanned once with the date filter pushed to the parquet scan.
# --------------------------------------------------------------------------

def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    out = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))).alias("__promo"),
        F.sum(rev).alias("__total"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )
    share = F.col("__promo") / F.col("__total") * 100.0
    return out.select(
        round6(share).alias("promo_pct"),
        F.round(F.col("__promo"), 2).alias("promo_revenue"),
        F.col("n_lineitems"),
    )


_SQL_PROMO_REVENUE = """
WITH agg AS (
  SELECT SUM(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) AS promo,
         SUM(l_extendedprice * (1 - l_discount)) AS total,
         COUNT(*) AS n_lineitems
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
)
SELECT (FLOOR((promo / total * 100.0) * 1000000.0 + 0.5001) / 1000000.0) + 0.0 AS promo_pct,
       ROUND(promo, 2) AS promo_revenue,
       n_lineitems
FROM agg
"""


# --------------------------------------------------------------------------
# 50. high-balance customers with no urgent orders (round 9) — TPC-H Q22
#     analog: a global scalar subquery (positive-balance average, quantized)
#     plus a NOT EXISTS anti-join, grouped by market segment. Same
#     identical-SQL-text discipline as orders_above_avg.
# --------------------------------------------------------------------------

def q_high_balance_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_HIGH_BALANCE)


_SQL_HIGH_BALANCE = """
SELECT c_mktsegment, COUNT(*) AS n_custs,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer c
WHERE c_acctbal > (
  SELECT (FLOOR(AVG(c2.c_acctbal) * 1000000.0 + 0.5001) / 1000000.0)
  FROM customer c2 WHERE c2.c_acctbal > 0.0
)
AND NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# 51. exact near-dup clustering via the prefix join (round 9) — the
#     composition: prefix-filtered exact Jaccard pairs (§46) feed the same
#     connected-components + keeper machinery as the simhash clusters —
#     cluster membership is EXACT at the threshold, not sketch-approximate.
# --------------------------------------------------------------------------

def q_dedup_clusters_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup_graph import dedup_clusters
    from .operators.prefixjoin import jaccard_prefix_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_prefix_pairs(docs, k=9, threshold=0.9)
    return dedup_clusters(docs, pairs)


_SQL_CLUSTERS_PREFIX = """
WITH RECURSIVE sh AS (
  SELECT doc_id, UNNEST(list_distinct(
    list_transform(range(1, GREATEST(length(text) - 8, 0) + 1),
                   i -> text[i : i + 8])
  )) AS shingle
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
near AS (
  SELECT doc_a AS u, doc_b AS v
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE common / (sa.set_size + sb.set_size - common) >= 0.9
),
star0 AS (
  SELECT doc_id AS u, MIN(doc_id) OVER (PARTITION BY md5(text)) AS v
  FROM documents
),
star AS (SELECT u, v FROM star0 WHERE u != v),
edges0 AS (SELECT u, v FROM star UNION SELECT u, v FROM near),
edges AS (SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0),
nodes AS (SELECT doc_id AS node FROM documents),
walk AS (
  SELECT node, node AS reach FROM nodes
  UNION
  SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
),
comp AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY 1),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
SELECT comp.node AS doc_id, comp.cluster_id, csize.cluster_size,
       CAST(CASE WHEN comp.node = comp.cluster_id THEN 1 ELSE 0 END AS BIGINT)
         AS is_keeper
FROM comp JOIN csize USING (cluster_id)
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERY_REGISTRY: dict[str, QueryDef] = {
    # definition order only — the rotation block below sets the registry
    # order (standing rule: lead the first-50 snapshot window with
    # never-checked entries, then plans modified since their last oracle
    # check, then oldest-checked-first)
    "dup_spans_incr_keepfirst": QueryDef(
        q_dup_spans_incr_keepfirst, _SQL_DUP_SPANS_INCR_KEEPFIRST
    ),
    "dup_spans_rolling": QueryDef(q_dup_spans_rolling, _SQL_DUP_SPANS_ROLLING),
    "dup_spans": QueryDef(q_dup_spans, _SQL_DUP_SPANS),
    "dup_spans_incr": QueryDef(q_dup_spans_incr, _SQL_DUP_SPANS_INCR),
    "dup_spans_keepfirst": QueryDef(
        q_dup_spans_keepfirst, _SQL_DUP_SPANS_KEEPFIRST
    ),
    "span_trim": QueryDef(q_span_trim, _SQL_SPAN_TRIM),
    "customer_rfm": QueryDef(q_customer_rfm, _SQL_RFM),
    "customer_abc": QueryDef(q_customer_abc, _SQL_ABC),
    "vocab_zipf": QueryDef(q_vocab_zipf, _SQL_ZIPF),
    "doc_length_histogram": QueryDef(q_doc_length_histogram, _SQL_HISTOGRAM),
    "integrity_report": QueryDef(q_integrity_report, _SQL_INTEGRITY),
    "events_full_outer": QueryDef(q_events_full_outer, _SQL_FULL_OUTER),
    "events_latest": QueryDef(q_events_latest, _SQL_LATEST),
    "decontaminate": QueryDef(q_decontaminate, _SQL_DECONTAMINATE),
    "doc_repetition": QueryDef(q_doc_repetition, _SQL_REPETITION),
    "pii_redact": QueryDef(q_pii_redact, _SQL_PII),
    "bm25_topk": QueryDef(q_bm25_topk, _SQL_BM25),
    "mix_budget": QueryDef(q_mix_budget, _SQL_MIX),
    "events_gapfill": QueryDef(q_events_gapfill, _SQL_GAPFILL),
    "sample_weighted": QueryDef(q_sample_weighted, _SQL_SAMPLE_WEIGHTED),
    "profile_customer": QueryDef(q_profile_customer, _SQL_PROFILE),
    "events_covisit": QueryDef(q_events_covisit, _SQL_COVISIT),
    "acctbal_position": QueryDef(q_acctbal_position, _SQL_ACCTBAL_POSITION),
    "item_pagerank": QueryDef(q_item_pagerank, _SQL_PAGERANK),
    "revenue_mom": QueryDef(q_revenue_mom, _SQL_REVENUE_MOM),
    "orders_cdc_apply": QueryDef(q_orders_cdc_apply, _SQL_CDC_APPLY),
    "corpus_splits": QueryDef(q_corpus_splits, _SQL_SPLITS),
    "embedding_standardize": QueryDef(
        q_embedding_standardize, _SQL_STANDARDIZE
    ),
    "dedup_embedding_incr": QueryDef(
        q_dedup_embedding_incr, _SQL_DEDUP_EMBED_INCR
    ),
    "mix_temperature": QueryDef(q_mix_temperature, _SQL_MIX_TEMPERATURE),
    "quantile_normalize": QueryDef(q_quantile_normalize, _SQL_QUANTILE_NORM),
    "welch_ab_test": QueryDef(q_welch_ab_test, _SQL_WELCH),
    "mannwhitney_ab": QueryDef(q_mannwhitney_ab, _SQL_MANNWHITNEY),
    "bootstrap_ci": QueryDef(q_bootstrap_ci, _SQL_BOOTSTRAP),
    "events_ks_ab": QueryDef(q_events_ks_ab, _SQL_KS),
    "events_psi": QueryDef(q_events_psi, _SQL_PSI),
    "events_cuped": QueryDef(q_events_cuped, _SQL_CUPED),
    "user_survival": QueryDef(q_user_survival, _SQL_SURVIVAL),
    "user_logrank": QueryDef(q_user_logrank, _SQL_LOGRANK),
    "lineitem_ols": QueryDef(q_lineitem_ols, _SQL_OLS),
    "events_attribution": QueryDef(q_events_attribution, _SQL_ATTRIBUTION),
    "segment_target_encode": QueryDef(
        q_segment_target_encode, _SQL_TARGET_ENCODE
    ),
    "events_ztest": QueryDef(q_events_ztest, _SQL_ZTEST),
    "events_chi2": QueryDef(q_events_chi2, _SQL_CHI2),
    "orders_benford": QueryDef(q_orders_benford, _SQL_BENFORD),
    "revenue_concentration": QueryDef(
        q_revenue_concentration, _SQL_CONCENTRATION
    ),
    "events_transitions": QueryDef(q_events_transitions, _SQL_TRANSITIONS),
    "user_entropy": QueryDef(q_user_entropy, _SQL_ENTROPY),
    "doc_novelty": QueryDef(q_doc_novelty, _SQL_NOVELTY),
    "events_anomaly": QueryDef(q_events_anomaly, _SQL_ANOMALY),
    "spearman_suppliers": QueryDef(q_spearman_suppliers, _SQL_SPEARMAN),
    "spearman_dense_auto": QueryDef(
        q_spearman_dense_auto, _SQL_SPEARMAN_DENSE
    ),
    "dedup_minhash": QueryDef(q_dedup_minhash, _SQL_MINHASH),
    "dedup_ngram_jaccard": QueryDef(q_dedup_ngram_jaccard, _SQL_NGRAM),
    "dedup_ngram_capped": QueryDef(q_dedup_ngram_capped, _SQL_NGRAM_CAPPED),
    "dedup_containment": QueryDef(q_dedup_containment, _SQL_CONTAINMENT),
    "pricing_summary": QueryDef(q_pricing_summary, _SQL_PRICING),
    "star_join_revenue": QueryDef(q_star_join_revenue, _SQL_STAR_JOIN),
    "whitelist_semi_join": QueryDef(q_whitelist_semi_join, _SQL_WHITELIST),
    "anti_join_customers": QueryDef(q_anti_join_customers, _SQL_ANTI),
    "unpivot_part": QueryDef(q_unpivot_part, _SQL_UNPIVOT),
    "props_normalize": QueryDef(q_props_normalize, _SQL_PROPS),
    "dq_completion": QueryDef(q_dq_completion, _SQL_DQ),
    "nations_with_orders": QueryDef(q_nations_with_orders, _SQL_NATIONS),
    "average_rank": QueryDef(q_average_rank, _SQL_AVG_RANK),
    "top_parts_per_brand": QueryDef(q_top_parts_per_brand, _SQL_TOP_PARTS),
    "dedup_exact": QueryDef(q_dedup_exact, _SQL_DEDUP_EXACT),
    "dedup_simhash": QueryDef(q_dedup_simhash, _SQL_SIMHASH),
    "text_quality": QueryDef(q_text_quality, _SQL_TEXT_QUALITY),
    "lang_id": QueryDef(q_lang_id, _SQL_LANG_ID),
    "fingerprint": QueryDef(q_fingerprint, _SQL_FINGERPRINT),
    "embedding_topk": QueryDef(q_embedding_topk, _SQL_EMBED_TOPK),
    "embedding_ivf": QueryDef(q_embedding_ivf, _SQL_EMBED_IVF),
    "dedup_embedding": QueryDef(q_dedup_embedding, _SQL_DEDUP_EMBED),
    "dedup_embedding_ivf": QueryDef(
        q_dedup_embedding_ivf, _SQL_DEDUP_EMBED_IVF
    ),
    "multimodal_decode": QueryDef(q_multimodal_decode, _SQL_MULTIMODAL),
    "events_hourly": QueryDef(q_events_hourly, _SQL_EVENTS_HOURLY),
    "events_sessionize": QueryDef(q_events_sessionize, _SQL_SESSIONIZE),
    "quality_filter": QueryDef(q_quality_filter, _SQL_QUALITY),
    "pack_sequences": QueryDef(q_pack_sequences, _SQL_PACK),
    "sample_stratified": QueryDef(q_sample_stratified, _SQL_SAMPLE),
    "dedup_incremental": QueryDef(q_dedup_incremental, _SQL_DEDUP_INCR),
    "chunk_documents": QueryDef(q_chunk_documents, _SQL_CHUNK),
    "dedup_clusters": QueryDef(q_dedup_clusters, _SQL_DEDUP_CLUSTERS),
    "rollup_revenue": QueryDef(q_rollup_revenue, _SQL_ROLLUP),
    "token_percentiles": QueryDef(q_token_percentiles, _SQL_PERCENTILES),
    "events_asof": QueryDef(q_events_asof, _SQL_ASOF),
    "events_rolling": QueryDef(q_events_rolling, _SQL_ROLLING),
    "user_retention": QueryDef(q_user_retention, _SQL_RETENTION),
    "events_skewed_agg": QueryDef(q_events_skewed_agg, _SQL_SKEWED_AGG),
    "events_funnel": QueryDef(q_events_funnel, _SQL_FUNNEL),
    "events_pivot": QueryDef(q_events_pivot, _SQL_PIVOT),
    "weighted_median": QueryDef(q_weighted_median, _SQL_WEIGHTED_MEDIAN),
    "events_auc": QueryDef(q_events_auc, _SQL_AUC),
    "events_calibration": QueryDef(q_events_calibration, _SQL_CALIBRATION),
    "events_anomaly_expanding": QueryDef(
        q_events_anomaly_expanding, _SQL_ANOMALY_EXPANDING
    ),
    "classifier_score": QueryDef(q_classifier_score, _SQL_CLASSIFIER),
    "splits_leakage_safe": QueryDef(q_splits_leakage_safe, _SQL_SPLITS_SAFE),
    "dedup_keeper": QueryDef(q_dedup_keeper, _SQL_DEDUP_KEEPER),
    "corpus_shard": QueryDef(q_corpus_shard, _SQL_CORPUS_SHARD),
    "dedup_normalized": QueryDef(q_dedup_normalized, _SQL_DEDUP_NORMALIZED),
    "events_sessions_native": QueryDef(
        q_events_sessions_native, _SQL_SESSIONS_NATIVE
    ),
    "kmeans_embeddings": QueryDef(q_kmeans_embeddings, _SQL_KMEANS),
    "vocab_topk": QueryDef(q_vocab_topk, _SQL_VOCAB),
    "events_scd2": QueryDef(q_events_scd2, _SQL_SCD2),
    "value_deciles": QueryDef(q_value_deciles, _SQL_DECILES),
    "skew_report": QueryDef(q_skew_report, _SQL_SKEW_REPORT),
    "orders_above_avg": QueryDef(q_orders_above_avg, _SQL_ABOVE_AVG),
    "customer_set_ops": QueryDef(q_customer_set_ops, _SQL_SET_OPS_BODY),
    "regional_revenue": QueryDef(q_regional_revenue, _SQL_REGIONAL),
    "unigram_logprob": QueryDef(q_unigram_logprob, _SQL_UNIGRAM),
    "curation_pipeline": QueryDef(q_curation_pipeline, _SQL_CURATION),
    "dedup_minhash_incr": QueryDef(q_dedup_minhash_incr, _SQL_MINHASH_INCR),
    "cube_revenue": QueryDef(q_cube_revenue, _SQL_CUBE),
    "spearman_block": QueryDef(q_spearman_block, _SQL_SPEARMAN_BLOCK),
    "events_error_window": QueryDef(q_events_error_window, _SQL_ERROR_WINDOW),
    "bigram_logprob": QueryDef(q_bigram_logprob, _SQL_BIGRAM),
    "embedding_quantize": QueryDef(q_embedding_quantize, _SQL_QUANTIZE),
    "token_heavy_hitters": QueryDef(q_token_heavy_hitters, _SQL_HEAVY_HITTERS),
    "embedding_pipeline": QueryDef(q_embedding_pipeline, _SQL_EMBED_PIPELINE),
    "sample_per_source": QueryDef(q_sample_per_source, _SQL_SAMPLE_FIXED),
    "tfidf_similar": QueryDef(q_tfidf_similar, _SQL_TFIDF),
    "orders_snapshot_diff": QueryDef(
        q_orders_snapshot_diff, _SQL_SNAPSHOT_DIFF
    ),
    "dedup_editdist": QueryDef(q_dedup_editdist, _SQL_EDITDIST),
    "semantic_decontam": QueryDef(q_semantic_decontam, _SQL_SEMANTIC_DECONTAM),
    "dedup_minhash_capped": QueryDef(
        q_dedup_minhash_capped, _SQL_MINHASH_CAPPED
    ),
    # round-9 additions (appended per the registry-frozen rule: new names
    # only, each with its oracle + COVERAGE.md row in the same commit)
    "dedup_jaccard_prefix": QueryDef(
        q_dedup_jaccard_prefix, _SQL_JACCARD_PREFIX
    ),
    "triangle_parts": QueryDef(q_triangle_parts, _SQL_TRIANGLE_PARTS),
    "small_qty_revenue": QueryDef(q_small_qty_revenue, _SQL_SMALL_QTY),
    "promo_revenue": QueryDef(q_promo_revenue, _SQL_PROMO_REVENUE),
    "high_balance_inactive": QueryDef(
        q_high_balance_inactive, _SQL_HIGH_BALANCE
    ),
    "dedup_clusters_prefix": QueryDef(
        q_dedup_clusters_prefix, _SQL_CLUSTERS_PREFIX
    ),
    "dedup_jaccard_auto": QueryDef(q_dedup_jaccard_auto, _SQL_JACCARD_AUTO),
    "dedup_jaccard_auto_lsh": QueryDef(
        q_dedup_jaccard_auto_lsh, _SQL_JACCARD_AUTO_LSH
    ),
}

# REGISTRY ROTATION. The standing rule is CODE, not a comment:
# ``tools/last_checked.json`` (regenerated by ``tools/gen_last_checked.py``
# from the CORRECTNESS_r*.json artifacts) records each query's latest
# oracle check, and ``tests/test_registry_rotation.py`` asserts that the
# first-50 snapshot window is exactly {never-checked} ∪
# {ROTATION_MODIFIED} ∪ {the oldest-checked remainder}, with the stale
# cohort ordered oldest-first.
#
# As of the r12 artifact every entry has been oracle-checked. Since then
# the three Spearman queries moved to the per-study rank kernel (two from
# the pair-expanded plan, spearman_block from the block-enumeration route),
# so they lead the window as ROTATION_MODIFIED. The
# rest of the window is the whole r9-checked cohort (the span family,
# curation_pipeline and dedup_keeper among them) plus the oldest
# r10-checked entries. Each cohort keeps its prior relative order. A pure
# reorder: nothing renamed, dropped, or re-oracled.
ROTATION_MODIFIED: list[str] = [
    "spearman_suppliers",
    "spearman_dense_auto",
    "spearman_block",
]
_R9_COHORT: list[str] = [
    # last checked r9 (CORRECTNESS_r09.json) — all inside the window
    "dedup_exact",
    "embedding_topk",
    "embedding_ivf",
    "dedup_embedding",
    "dedup_embedding_ivf",
    "multimodal_decode",
    "events_hourly",
    "events_sessionize",
    "quality_filter",
    "pack_sequences",
    "sample_stratified",
    "dedup_incremental",
    "chunk_documents",
    "rollup_revenue",
    "token_percentiles",
    "events_asof",
    "events_rolling",
    "user_retention",
    "events_skewed_agg",
    "events_funnel",
    "events_pivot",
    "dedup_minhash_capped",
    "dup_spans",
    "dup_spans_keepfirst",
    "span_trim",
    "curation_pipeline",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    "dedup_containment",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_keeper",
    "decontaminate",
    "doc_repetition",
]
_R10_COHORT: list[str] = [
    # last checked r10 — the first 15 complete the window
    "doc_novelty",
    "dedup_editdist",
    "embedding_standardize",
    "fingerprint",
    "lang_id",
    "text_quality",
    "unigram_logprob",
    "bigram_logprob",
    "customer_rfm",
    "customer_abc",
    "vocab_zipf",
    "doc_length_histogram",
    "integrity_report",
    "events_full_outer",
    "events_latest",
    "pii_redact",
    "bm25_topk",
    "mix_budget",
    "events_gapfill",
    "sample_weighted",
    "profile_customer",
    "events_covisit",
    "acctbal_position",
    "item_pagerank",
    "revenue_mom",
    "orders_cdc_apply",
    "corpus_splits",
    "dedup_embedding_incr",
    "mix_temperature",
    "quantile_normalize",
    "welch_ab_test",
    "mannwhitney_ab",
    "bootstrap_ci",
    "events_ks_ab",
    "events_psi",
    "events_cuped",
    "user_survival",
    "user_logrank",
    "lineitem_ols",
    "events_attribution",
    "segment_target_encode",
    "events_ztest",
    "events_chi2",
    "orders_benford",
    "revenue_concentration",
    "events_transitions",
    "user_entropy",
    "events_anomaly",
    "weighted_median",
]
_R12_COHORT: list[str] = [
    # last checked r12 — the previous window
    "dedup_jaccard_auto_lsh",
    "dedup_jaccard_auto",
    "dedup_minhash_incr",
    "dup_spans_incr",
    "dup_spans_incr_keepfirst",
    "events_auc",
    "events_calibration",
    "events_anomaly_expanding",
    "classifier_score",
    "splits_leakage_safe",
    "corpus_shard",
    "dedup_normalized",
    "events_sessions_native",
    "kmeans_embeddings",
    "vocab_topk",
    "events_scd2",
    "value_deciles",
    "skew_report",
    "orders_above_avg",
    "customer_set_ops",
    "regional_revenue",
    "cube_revenue",
    "events_error_window",
    "embedding_quantize",
    "token_heavy_hitters",
    "embedding_pipeline",
    "sample_per_source",
    "tfidf_similar",
    "orders_snapshot_diff",
    "semantic_decontam",
    "dup_spans_rolling",
    "pricing_summary",
    "star_join_revenue",
    "whitelist_semi_join",
    "anti_join_customers",
    "dedup_jaccard_prefix",
    "triangle_parts",
    "small_qty_revenue",
    "promo_revenue",
    "high_balance_inactive",
    "dedup_clusters_prefix",
    "unpivot_part",
    "props_normalize",
    "dq_completion",
    "nations_with_orders",
    "average_rank",
    "top_parts_per_brand",
]
_ROTATION_ORDER = ROTATION_MODIFIED + _R9_COHORT + _R10_COHORT + _R12_COHORT
assert sorted(_ROTATION_ORDER) == sorted(QUERY_REGISTRY), (
    "rotation must be a pure reorder"
)
QUERY_REGISTRY = {k: QUERY_REGISTRY[k] for k in _ROTATION_ORDER}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in QUERY_REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.sql for name, qd in QUERY_REGISTRY.items() if qd.sql}


__all__ = ["QUERY_REGISTRY", "QueryDef", "oracle_sql", "queries"]
