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
from ..operators.expression import (
    _TEXT_MELT_THRESHOLD,
    expression_text_to_long,
    expression_wide_to_long,
)
from ..operators.metadata_norm import metadata_quality, normalize_metadata
from ..session import get_spark
from ..sources.discovery import discover_studies, discover_study_files
from ..sources.study_io import (
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
    # frame and open the wide expression scan (schema declared from the
    # sniffed header; no job). A study with missing/malformed files is
    # quarantined (O-45).
    staged: list[tuple[str, str, DataFrame, DataFrame, str]] = []
    for study_dir in discover_studies(config.processing.input_directory):
        try:
            files = discover_study_files(study_dir)
            raw_md = read_metadata_raw(spark, str(files.metadata_path))
            md = normalize_metadata(raw_md, files.accession, config.field_mappings)
            wide = read_expression_wide(spark, str(files.expression_path))
            staged.append(
                (str(study_dir), files.accession, md, wide,
                 str(files.expression_path))
            )
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
        # total samples (≤50k/study). The frame is persisted first: the
        # dim_sample build reads it again.
        metadata = scope.persist(_union_all([md for _, _, md, _, _ in staged]))
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
                # whitelist applied on the WIDE side (O-13 before the melt, the
                # reference's own order): the semi-join probes gene rows, not
                # cells — Catalyst can't push it below the Expand itself.
                # Ultra-wide studies (>_TEXT_MELT_THRESHOLD sample columns,
                # plain-TSV header) melt from a TEXT scan instead: Spark's
                # wide-row CSV path is superlinear in column count (measured
                # 4x per-cell slowdown from 10k to 50k columns, SCALE.md r9).
                # Quote detection must read the RAW header: univocity strips
                # quotes during parsing, so wide.columns never contains '"'
                # even for a fully-quoted file — a quoted ultra-wide study
                # must stay on the CSV path (which unquotes data cells) or
                # '"1.5"' would fail try_cast in the text melt. The sniff is
                # a second driver-side header read, so only ultra-wide
                # candidates pay it (ADVICE r10).
                if len(wide.columns) - 1 > _TEXT_MELT_THRESHOLD and (
                    (raw_header := sniff_header(expr_path)) is not None
                    and not any('"' in c for c in raw_header)
                ):
                    long = expression_text_to_long(
                        spark, expr_path, samples, accession, gene_whitelist=genes
                    )
                else:
                    long = expression_wide_to_long(
                        wide, samples, accession, gene_whitelist=genes
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

        def _small_dim(table: str, build, natural) -> DataFrame:
            """Key a small dim on the driver and swap it in; the frame in
            hand (an Arrow LocalRelation) serves the later joins, so the
            table is not read back. One task writes it, so it stays one
            file."""
            dim = build(spark, wh.read(table), natural)
            wh.overwrite_dim(table, dim.coalesce(1))
            _mark(table)
            return dim

        # -- dimension builds (existing keys preserved; O-46/O-47 set-at-a-time) --
        dim_study = _small_dim("dim_study", build_dim_study, [r["gse_accession"] for r in kept])
        dim_illness = _small_dim(
            "dim_illness", build_dim_illness, [v for r in kept for v in r["illnesses"]]
        )
        dim_platform = _small_dim(
            "dim_platform", build_dim_platform, [v for r in kept for v in r["platforms"]]
        )
        dim_gene = _small_dim(
            "dim_gene",
            build_dim_gene,
            [r[0] for r in expression.select("ensembl_id").distinct().collect()],
        )

        dim_sample = build_dim_sample(
            wh.read("dim_sample"), metadata, dim_study, dim_illness, dim_platform
        )
        wh.overwrite_dim("dim_sample", dim_sample)
        # read back: the plan in hand reads the table version the swap replaced
        dim_sample = wh.read("dim_sample")
        _mark("dim_sample")

        # -- fact build: long expression × dims (broadcast probes, O-22/O-23) --
        fact = (
            expression.join(F.broadcast(dim_study), on="gse_accession")
            .join(F.broadcast(dim_gene), on="ensembl_id")
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
