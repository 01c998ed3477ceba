"""The pair-expanded Spearman plan, kept as the executable spec of the
correlation routes.

This is the plan ``plans/correlation.py`` ran for ragged studies before the
per-study rank kernel: a self-join of the long table on (study, sample) with
``gene_a < gene_b``, average ranks per pair over the joined rows (two
windows), then covariance/variance aggregates and the gates. It is slow —
it materializes every (pair, shared sample) row and shuffles it twice — but
each step is a plain Spark expression, so its semantics are easy to read:

* a pair sees one row per (a-cell, b-cell) sharing a sample, so a
  duplicated (gene, sample) cell meets its partner's cells once per copy;
* ranks follow a Spark window ordered ascending: NULL first, NaN last;
* gates: n ≥ ``min_samples``, both rank variances > 0, ρ not NaN.

Its output has the kernel's columns (study_key, gene_a_key, gene_b_key,
n_samples, rho_spearman), so both feed the same p → BH tail.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_for_all_studies_spark.functions.stats import average_rank


def self_join(e: DataFrame) -> DataFrame:
    """Pairs of genes sharing a (study, sample), ``gene_a < gene_b``, with
    each side's value (``va``/``vb``)."""
    a = e.alias("a")
    b = e.alias("b")
    return a.join(
        b,
        on=[
            F.col("a.study_key") == F.col("b.study_key"),
            F.col("a.gsm_accession") == F.col("b.gsm_accession"),
            F.col("a.gene_key") < F.col("b.gene_key"),
        ],
    ).select(
        F.col("a.study_key").alias("study_key"),
        F.col("a.gene_key").alias("gene_a_key"),
        F.col("b.gene_key").alias("gene_b_key"),
        F.col("a.expression_value").alias("va"),
        F.col("b.expression_value").alias("vb"),
    )


def pair_expanded_stats(e: DataFrame, min_samples: int = 2) -> DataFrame:
    """Gated pair rows with ranks taken within each pair's shared samples."""
    pair_cols = ["study_key", "gene_a_key", "gene_b_key"]
    ranked = (
        self_join(e)
        .withColumn("ra", average_rank(pair_cols, "va"))
        .withColumn("rb", average_rank(pair_cols, "vb"))
    )
    return (
        ranked.groupBy(*pair_cols)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.covar_samp("ra", "rb").alias("cov_ab"),
            F.var_samp("ra").alias("var_a"),
            F.var_samp("rb").alias("var_b"),
        )
        .where(
            (F.col("n_samples") >= min_samples)
            & (F.col("var_a") > 0)
            & (F.col("var_b") > 0)
        )
        .withColumn(
            "rho_spearman",
            F.least(
                F.greatest(
                    F.col("cov_ab") / F.sqrt(F.col("var_a") * F.col("var_b")),
                    F.lit(-1.0),
                ),
                F.lit(1.0),
            ),
        )
        .where(F.col("rho_spearman").isNotNull() & ~F.isnan("rho_spearman"))
        .drop("cov_ab", "var_a", "var_b")
    )
