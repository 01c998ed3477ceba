"""Full ETL orchestration: study dirs → star schema warehouse.

Re-expresses the reference's entry point #1 (``src/etl_for_all_studies/
pipeline.py:310-356``) as **one Spark job over all studies** instead of a
thread pool of per-study transactions (O-42): study discovery stays driver-side
(O-1/O-2), each study contributes a normalized-metadata DataFrame and a long
expression DataFrame, all unioned and processed set-at-a-time with
``study_key`` as the partition column. Per-study error isolation (O-45) is a
driver-side quarantine during plan construction: a study whose files are
missing/malformed is reported and skipped without failing the run.

The reference's batch-commit + mid-file checkpoint resume machinery
(O-8/O-9c/O-19/O-43) is intentionally replaced by idempotent, rerun-safe
writes (anti-join dedup O-16 + atomic partition swaps) — same end state,
Spark-native mechanism (SURVEY §7.4.4).
"""
from __future__ import annotations

import dataclasses
import functools
import logging
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import CacheScope
from ..config import AppConfig
from ..operators.dims import (
    build_dim_gene,
    build_dim_illness,
    build_dim_platform,
    build_dim_sample,
    build_dim_study,
)
from ..operators.expression import expression_text_to_long, expression_wide_to_long
from ..operators.metadata_norm import metadata_quality, normalize_metadata
from ..session import get_spark, literal_lookup
from ..sources.discovery import discover_studies, discover_study_files
from ..sources.study_io import (
    is_plain_header,
    read_expression_wide,
    read_gene_filter,
    read_metadata_raw,
    sniff_header,
)
from ..sources.warehouse import Warehouse

logger = logging.getLogger(__name__)


@dataclasses.dataclass
class StudyFailure:
    """One quarantined study (O-45)."""

    study_dir: str
    error: str


@dataclasses.dataclass
class PipelineResult:
    processed_studies: list[str]
    failures: list[StudyFailure]
    fact_rows_written: int
    quality: list[dict]
    elapsed_seconds: float


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def run_pipeline(
    config: AppConfig,
    spark: SparkSession | None = None,
    *,
    with_correlations: bool = False,
) -> PipelineResult:
    """Run the full ETL over every study under ``processing.input_directory``."""
    t0 = time.monotonic()
    own_spark = spark is None
    spark = spark or get_spark(
        app_name=config.spark.app_name,
        master=config.spark.master,
        shuffle_partitions=config.spark.shuffle_partitions,
        extra_conf=dict(config.spark.extra_conf),
    )
    wh = Warehouse(spark, str(config.warehouse.path))
    genes = read_gene_filter(spark, str(config.processing.gene_filter_file))

    failures: list[StudyFailure] = []

    # Phase 1 — plan-time discovery: per study, build the normalized-metadata
    # frame and pick its melt. A plain-TSV expression file (its raw header
    # readable and unquoted) melts from a text scan; any other opens the
    # wide CSV scan (schema declared from the sniffed header; no job). Quote
    # detection must read the RAW header: the CSV reader strips quotes, so
    # a column name never shows one. A study with missing/malformed files
    # is quarantined (O-45).
    staged: list[tuple[str, str, DataFrame, DataFrame | None, str]] = []
    for study_dir in discover_studies(config.processing.input_directory):
        try:
            files = discover_study_files(study_dir)
            raw_md = read_metadata_raw(spark, str(files.metadata_path))
            md = normalize_metadata(raw_md, files.accession, config.field_mappings)
            expr_path = str(files.expression_path)
            wide = (
                None
                if is_plain_header(sniff_header(expr_path))
                else read_expression_wide(spark, expr_path)
            )
            staged.append((str(study_dir), files.accession, md, wide, expr_path))
        except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the run
            logger.exception("Study %s failed; quarantined", study_dir)
            failures.append(StudyFailure(str(study_dir), f"{type(exc).__name__}: {exc}"))

    if not staged:
        return PipelineResult([], failures, 0, [], time.monotonic() - t0)

    # NOTE on scan splits (measured at the 10k-sample wide envelope,
    # SCALE.md round 9): shrinking spark.sql.files.maxPartitionBytes to add
    # parse parallelism does NOT help the 10k-column TSV read on local[32]
    # — 64/128/256 MiB all land at 55-67 s per 2x10^8-cell scan while
    # 20 MiB *regresses* 2.5x (per-task parser setup and row-width
    # allocation dominate at that column count). The engine therefore
    # leaves the split at the session default and attacks scan COUNT
    # instead: the persisted barriers below make each wide file parse once
    # per run, not once per downstream action.
    scope = CacheScope()
    try:
        # Phase 2 — ONE action over every study's metadata instead of one job
        # per study or per consumer: the per-study DQ aggregates plus what
        # the driver needs of each study — its sample list (the column-pruning
        # driver metadata for O-14) and its distinct illness and platform
        # labels (natural keys of the small dims). Plan construction stays
        # O(1) Spark jobs as the study count grows; the lists are bounded by
        # total samples (≤50k/study). A sample listed twice in a study counts
        # once: one dedup of the union, one shuffle at any study count. The
        # frame is persisted first: the dim_sample build reads it again.
        metadata = scope.persist(
            _union_all([md for _, _, md, _, _ in staged]).dropDuplicates(
                ["gse_accession", "gsm_accession"]
            )
        )
        by_study = {
            r["gse_accession"]: r.asDict()
            for r in metadata_quality(
                metadata,
                F.collect_set("gsm_accession").alias("samples"),
                F.collect_set("illness").alias("illnesses"),
                F.collect_set("platform").alias("platforms"),
            ).collect()
        }

        # Phase 3 — per-study unpivot plans against the collected sample lists;
        # a study whose expression header shares no columns with its metadata is
        # quarantined here (ExpressionSchemaError), after the batch job.
        expression_parts: list[DataFrame] = []
        processed: list[str] = []
        for study_dir, accession, _md, wide, expr_path in staged:
            samples = by_study.get(accession, {}).get("samples", [])
            try:
                # the whitelist is applied per gene row, before the melt
                # emits cells (O-13 first, the reference's own order)
                long = (
                    expression_text_to_long(
                        spark, expr_path, samples, accession, gene_whitelist=genes
                    )
                    if wide is None
                    else expression_wide_to_long(wide, samples, accession, gene_whitelist=genes)
                )
                expression_parts.append(long)
                processed.append(accession)
            except Exception as exc:  # noqa: BLE001
                logger.exception("Study %s failed; quarantined", study_dir)
                failures.append(StudyFailure(study_dir, f"{type(exc).__name__}: {exc}"))

        if not processed:
            return PipelineResult([], failures, 0, [], time.monotonic() - t0)
        if len(processed) < len(staged):
            # phase-3 quarantine: drop those studies from the cached frame
            metadata = metadata.where(F.col("gse_accession").isin(processed))
        kept = [by_study[a] for a in processed]  # a processed study has samples

        # the expression frame has two consumers (dim_gene's key collect and
        # the fact build) and each is its own action — without a barrier
        # every action re-parses the wide TSVs (measured 60-80 s/scan at the
        # 10k-sample envelope). Its size is bounded by whitelist-kept cells
        # (MEMORY_AND_DISK spills rather than evicts).
        expression = scope.persist(_union_all(expression_parts))

        # per-phase walls at INFO (O-48): at the wide-sample envelope the
        # phase split is the first diagnostic question — log it always
        phase_t = time.monotonic()

        def _mark(name: str) -> None:
            nonlocal phase_t
            now = time.monotonic()
            if config.logging.log_processing_time:
                logger.info("phase %s: %.1fs", name, now - phase_t)
            phase_t = now

        def _small_dim(table: str, build, natural) -> dict[str, int]:
            """Key a small dim on the driver and swap it in; its natural →
            surrogate keys come back for the later lookups, so the table is
            not read back. The dim is an Arrow LocalRelation: collecting it
            runs no job, and one task writes it, so it stays one file."""
            dim = build(spark, wh.read(table), natural)
            wh.overwrite_dim(table, dim.coalesce(1))
            _mark(table)
            return {name: key for key, name in dim.collect()}

        # -- dimension builds (existing keys preserved; O-46/O-47 set-at-a-time) --
        study_keys = _small_dim(
            "dim_study", build_dim_study, [r["gse_accession"] for r in kept]
        )
        illness_keys = _small_dim(
            "dim_illness", build_dim_illness, [v for r in kept for v in r["illnesses"]]
        )
        platform_keys = _small_dim(
            "dim_platform", build_dim_platform, [v for r in kept for v in r["platforms"]]
        )
        gene_keys = _small_dim(
            "dim_gene",
            build_dim_gene,
            [r[0] for r in expression.select("ensembl_id").distinct().collect()],
        )

        dim_sample = build_dim_sample(
            wh.read("dim_sample"), metadata, study_keys, illness_keys, platform_keys
        )
        wh.overwrite_dim("dim_sample", dim_sample)
        # read back: the plan in hand reads the table version the swap replaced
        dim_sample = wh.read("dim_sample")
        _mark("dim_sample")

        # -- fact build: long expression × dims (O-22/O-23): the small dims'
        # keys are constant lookups (every study and gene of `expression`
        # has one), dim_sample is a broadcast probe --
        fact = (
            expression.select(
                literal_lookup(study_keys)(F.col("gse_accession")).alias("study_key"),
                literal_lookup(gene_keys)(F.col("ensembl_id")).alias("gene_key"),
                "gsm_accession",
                "expression_value",
            )
            .join(
                F.broadcast(dim_sample.select("sample_key", "gsm_accession", "study_key")),
                on=["gsm_accession", "study_key"],
            )
            .select("sample_key", "gene_key", "expression_value", "study_key")
        )
        written = wh.append_fact(
            "fact_expression", fact, dedup_keys=["sample_key", "gene_key", "study_key"]
        )
        _mark("fact_expression")

        lists = ("samples", "illnesses", "platforms")
        quality_rows = [{k: v for k, v in r.items() if k not in lists} for r in kept]
        if config.logging.log_data_quality:
            for row in quality_rows:
                logger.info("DQ %s", row)
        if config.logging.log_record_counts:
            logger.info("fact_expression rows appended: %d", written)

        if with_correlations:
            from .correlation_job import run_correlation_job

            run_correlation_job(config, spark=spark)

        elapsed = time.monotonic() - t0
        if config.logging.log_processing_time:
            logger.info("pipeline finished in %.2fs", elapsed)
        _ = own_spark  # session lifetime is the caller's concern
        return PipelineResult(processed, failures, written, quality_rows, elapsed)
    finally:
        scope.release()


__all__ = ["PipelineResult", "StudyFailure", "run_pipeline"]
