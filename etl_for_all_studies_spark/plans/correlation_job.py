"""Standalone correlation refresh job (reference entry point #2,
``src/etl_for_all_studies/correlation_job.py:165-238``).

Loads the expression matrix **long-form** from fact_expression (O-7a/O-20 —
the reference's nested-dict pivot is a single-node artifact and is not
reproduced; ``sample_key`` is each study's sample identity, one per
``(gsm_accession, study_key)``, so dim_sample is not joined), resolves
target studies (O-7b with the requested-vs-found anti-diff O-26), computes
all-pairs Spearman + BH per study in one plan, and refreshes
``fact_gene_pair_corr`` via dynamic partition overwrite (O-9b), counting
each study's pairs during the write. Studies whose matrix is empty get their
stale partitions cleared (``correlation_job.py:62-82``).
"""
from __future__ import annotations

import dataclasses
import logging
import time
from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import AppConfig
from ..session import get_spark
from ..sources.warehouse import Warehouse
from .correlation import compute_gene_pair_correlations

logger = logging.getLogger(__name__)


@dataclasses.dataclass
class CorrelationJobResult:
    studies_processed: list[str]
    studies_missing: list[str]
    pair_counts: dict[str, int]
    elapsed_seconds: float


def run_correlation_job(
    config: AppConfig,
    accessions: Sequence[str] | None = None,
    spark: SparkSession | None = None,
    *,
    pvalue_dist: str = "normal",
) -> CorrelationJobResult:
    t0 = time.monotonic()
    spark = spark or get_spark(
        app_name=config.spark.app_name,
        master=config.spark.master,
        shuffle_partitions=config.spark.shuffle_partitions,
        extra_conf=dict(config.spark.extra_conf),
    )
    wh = Warehouse(spark, str(config.warehouse.path))
    fact = wh.read("fact_expression")
    dim_study = wh.read("dim_study")
    if fact is None or dim_study is None:
        logger.warning("Warehouse has no expression data; nothing to do")
        return CorrelationJobResult([], list(accessions or []), {}, time.monotonic() - t0)

    # O-7b: studies that actually have expression facts (left-semi), ordered
    # by accession on the driver (a handful of rows; no range-partition job).
    with_data = dim_study.join(fact.select("study_key"), on="study_key", how="left_semi")
    if accessions:
        requested = sorted(set(accessions))
        with_data = with_data.where(F.col("gse_accession").isin(requested))
    targets = sorted(
        ((r["study_key"], r["gse_accession"]) for r in with_data.collect()),
        key=lambda t: t[1],
    )
    missing = (
        sorted(set(requested) - {acc for _, acc in targets}) if accessions else []
    )  # O-26
    if missing:
        logger.warning("Requested studies without expression data: %s", missing)
    if not targets:
        return CorrelationJobResult([], missing, {}, time.monotonic() - t0)
    target_keys = [k for k, _ in targets]

    # O-7a/O-20: per-study matrix, long form; partition pruning via study_key.
    expression = fact.where(F.col("study_key").isin(target_keys)).select(
        "study_key", "gene_key", "sample_key", "expression_value"
    )
    corr = compute_gene_pair_correlations(
        expression, min_samples=config.processing.min_samples, pvalue_dist=pvalue_dist
    )
    counts = wh.overwrite_study_partitions("fact_gene_pair_corr", corr, studies=target_keys)

    by_accession = {acc: counts[key] for key, acc in targets}
    elapsed = time.monotonic() - t0
    if config.logging.log_processing_time:
        logger.info(
            "correlation job: %d studies, %d pairs, %.2fs",
            len(targets), sum(by_accession.values()), elapsed,
        )
    return CorrelationJobResult(
        [acc for _, acc in targets], missing, by_accession, elapsed
    )


__all__ = ["CorrelationJobResult", "run_correlation_job"]
