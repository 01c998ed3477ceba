"""Warehouse integrity assertions.

Parquet enforces no constraints, so the reference's unique indexes and FKs
(``models.py:55,74-76,92-97``) become *assertion queries* here (SURVEY
§1.1.4): each check is a DataFrame returning violating rows (empty = healthy).
Run after loads in CI or ad hoc; every check prunes/broadcasts like the rest
of the engine, so the report is cheap even on a large warehouse.
"""
from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.warehouse import Warehouse


@dataclasses.dataclass
class IntegrityReport:
    violations: dict[str, int]

    @property
    def ok(self) -> bool:
        return all(v == 0 for v in self.violations.values())


def _dupes(df: DataFrame, keys: list[str]) -> DataFrame:
    return (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1)
    )


def integrity_checks(wh: Warehouse) -> dict[str, DataFrame]:
    """Violation DataFrames keyed by check name (lazy; nothing runs yet)."""
    checks: dict[str, DataFrame] = {}
    dim_gene = wh.read("dim_gene")
    dim_study = wh.read("dim_study")
    dim_sample = wh.read("dim_sample")
    dim_illness = wh.read("dim_illness")
    dim_platform = wh.read("dim_platform")
    fact = wh.read("fact_expression")
    corr = wh.read("fact_gene_pair_corr")

    # unique natural + surrogate keys per dim (models.py unique constraints)
    for name, df, natural, key in [
        ("dim_gene", dim_gene, ["ensembl_id"], "gene_key"),
        ("dim_study", dim_study, ["gse_accession"], "study_key"),
        ("dim_illness", dim_illness, ["illness_label"], "illness_key"),
        ("dim_platform", dim_platform, ["platform_accession"], "platform_key"),
        ("dim_sample", dim_sample, ["gsm_accession", "study_key"], "sample_key"),
    ]:
        if df is None:
            continue
        checks[f"{name}_natural_key_dupes"] = _dupes(df, natural)
        checks[f"{name}_surrogate_key_dupes"] = _dupes(df, [key])

    if fact is not None:
        checks["fact_expression_grain_dupes"] = _dupes(
            fact, ["sample_key", "gene_key", "study_key"]
        )
        if dim_sample is not None:
            checks["fact_expression_orphan_samples"] = fact.join(
                F.broadcast(dim_sample.select("sample_key")), "sample_key", "left_anti"
            )
        if dim_gene is not None:
            checks["fact_expression_orphan_genes"] = fact.join(
                F.broadcast(dim_gene.select("gene_key")), "gene_key", "left_anti"
            )
        if dim_study is not None:
            checks["fact_expression_orphan_studies"] = fact.join(
                F.broadcast(dim_study.select("study_key")), "study_key", "left_anti"
            )

    if corr is not None:
        checks["corr_grain_dupes"] = _dupes(
            corr, ["gene_a_key", "gene_b_key", "study_key"]
        )
        checks["corr_pair_order"] = corr.where(
            F.col("gene_a_key") >= F.col("gene_b_key")
        )
        checks["corr_value_ranges"] = corr.where(
            (F.abs("rho_spearman") > 1.0)
            | (F.col("p_value") < 0) | (F.col("p_value") > 1)
            | (F.col("q_value") < 0) | (F.col("q_value") > 1)
            | (F.col("n_samples") < 2)
        )
        if dim_gene is not None:
            checks["corr_orphan_genes"] = corr.join(
                F.broadcast(dim_gene.select(F.col("gene_key").alias("gene_a_key"))),
                "gene_a_key",
                "left_anti",
            )
            checks["corr_orphan_genes_b"] = corr.join(
                F.broadcast(dim_gene.select(F.col("gene_key").alias("gene_b_key"))),
                "gene_b_key",
                "left_anti",
            )
        if dim_study is not None:
            checks["corr_orphan_studies"] = corr.where(
                F.col("study_key").isNotNull()
            ).join(
                F.broadcast(dim_study.select("study_key")), "study_key", "left_anti"
            )
        if dim_illness is not None:
            # illness_key is a nullable FK (UNKNOWN→NULL, O-17): only
            # non-NULL values must resolve
            checks["corr_orphan_illness"] = corr.where(
                F.col("illness_key").isNotNull()
            ).join(
                F.broadcast(dim_illness.select("illness_key")),
                "illness_key",
                "left_anti",
            )
    return checks


def run_integrity_report(wh: Warehouse) -> IntegrityReport:
    return IntegrityReport(
        {name: df.limit(1000).count() for name, df in integrity_checks(wh).items()}
    )


def quarantine_orphan_facts(wh: Warehouse) -> dict[str, int]:
    """Repair action for dangling FKs: move ``fact_expression`` rows whose
    ``sample_key``/``gene_key`` resolve to no dim row into
    ``fact_expression__quarantine``, rewriting ONLY the affected study
    partitions. The reference's database rejects such rows at insert time
    (FK constraints); on Parquet the equivalent guarantee is detect + repair
    — quarantine (never delete: the rows stay auditable/reloadable once the
    missing dim arrives, the same never-lose-data posture as O-47).

    Scale shape: orphan detection is two broadcast left joins (dim key sets
    are broadcast-sized by construction); the rewrite is a dynamic partition
    overwrite scoped to the orphaned studies, with the clean subset
    localCheckpointed first so the overwrite never reads the files it is
    replacing (same self-read discipline as the dim tmp-swap). Returns
    ``{"quarantined", "studies_rewritten"}``.
    """
    fact = wh.read("fact_expression")
    if fact is None:
        return {"quarantined": 0, "studies_rewritten": 0}
    s_ok = wh.read_or_empty("dim_sample").select(
        "sample_key", F.lit(1).alias("__s_ok")
    )
    g_ok = wh.read_or_empty("dim_gene").select("gene_key", F.lit(1).alias("__g_ok"))
    marked = fact.join(F.broadcast(s_ok), "sample_key", "left").join(
        F.broadcast(g_ok), "gene_key", "left"
    )
    orphans = marked.where(
        F.col("__s_ok").isNull() | F.col("__g_ok").isNull()
    ).select(*fact.columns)

    studies = [r[0] for r in orphans.select("study_key").distinct().collect()]
    if not studies:
        return {"quarantined": 0, "studies_rewritten": 0}

    n_quarantined = wh.append_fact(
        "fact_expression__quarantine",
        orphans,
        dedup_keys=["sample_key", "gene_key", "study_key"],
    )
    clean = (
        marked.where(F.col("__s_ok").isNotNull() & F.col("__g_ok").isNotNull())
        .where(F.col("study_key").isin(studies))
        .select(*fact.columns)
        .localCheckpoint()  # materialize BEFORE overwriting the source files
    )
    wh.overwrite_study_partitions("fact_expression", clean, studies=studies)
    return {"quarantined": n_quarantined, "studies_rewritten": len(studies)}


__all__ = [
    "IntegrityReport",
    "integrity_checks",
    "quarantine_orphan_facts",
    "run_integrity_report",
]
