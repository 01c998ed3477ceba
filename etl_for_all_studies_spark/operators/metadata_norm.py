"""Metadata normalization (operators O-10/O-11/O-12/O-18/O-27).

The reference resolves each target field (age/sex/illness/platform) from a
configurable candidate-header list with a 3-tier fuzzy match — exact header →
casefolded → digit-runs-stripped + casefolded — then takes the first non-empty
value row-wise, else the ``"UNKNOWN"`` sentinel
(``src/etl_for_all_studies/metadata_processing.py:45-102``).

Spark-first formulation: header resolution is **plan-time driver logic**
against ``df.columns`` (it's a property of the schema, not the data); the
row-wise first-non-empty becomes a single ``F.coalesce`` over
``NULLIF(TRIM(col), '')`` expressions — one narrow projection, no shuffle, no
UDF, fully codegen'd.
"""
from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FieldMappingConfig
from ..schemas import UNKNOWN

REQUIRED_COLUMNS = ("refinebio_accession_code", "experiment_accession")


class MetadataSchemaError(ValueError):
    """Raised when required metadata columns are missing (O-11)."""


def _normalize_header(name: str) -> str:
    """Digit-runs stripped + casefolded (reference ``metadata_processing.py:45-58``)."""
    return re.sub(r"\d+", "", name).casefold()


def resolve_field_columns(columns: Sequence[str], candidates: Sequence[str]) -> list[str]:
    """3-tier fuzzy candidate→actual column resolution (O-10, plan-time).

    For each candidate header, collect **all** actual columns that match at
    each tier — exact, then casefolded, then digits-stripped+casefolded (so
    ``characteristics_ch2_illness`` satisfies a mapping for
    ``characteristics_ch1_Illness``) — each tier in schema column order.
    The reference builds its per-row lookups from headers with non-empty
    values (``metadata_processing.py:68-74``), so a row whose first variant
    column is blank falls through to the *next matching variant*, not to the
    next candidate; binding one column per candidate would lose those values.
    Coalescing the flattened tier lists row-wise reproduces that fallback
    exactly. Candidate-list order defines outer priority; each actual column
    appears once (first occurrence wins).
    """
    resolved: list[str] = []
    seen: set[str] = set()

    def add(cols: list[str]) -> None:
        for c in cols:
            if c not in seen:
                resolved.append(c)
                seen.add(c)

    for cand in candidates:
        add([c for c in columns if c == cand])
        add([c for c in columns if c.casefold() == cand.casefold()])
        add([c for c in columns if _normalize_header(c) == _normalize_header(cand)])
    return resolved


def _first_non_empty(df: DataFrame, candidates: Sequence[str]):
    """Row-wise first non-empty among resolved columns, else UNKNOWN (O-10)."""
    resolved = resolve_field_columns(df.columns, candidates)
    exprs = [F.nullif(F.trim(F.col(f"`{c}`")), F.lit("")) for c in resolved]
    return F.coalesce(*exprs, F.lit(UNKNOWN)) if exprs else F.lit(UNKNOWN)


def normalize_metadata(
    raw: DataFrame,
    accession: str,
    field_mappings: FieldMappingConfig | None = None,
) -> DataFrame:
    """Raw metadata scan → canonical SAMPLE_METADATA shape.

    Semantics preserved from the reference:

    * required columns enforced (O-11, ``metadata_processing.py:119-124``);
    * rows with blank GSM accession dropped (O-12, ``:128-131``);
    * ``experiment_accession`` overridden by the directory-derived accession
      (O-18, ``pipeline.py:131-139``) — the raw value is kept as
      ``source_experiment_accession`` so callers can count mismatches for DQ;
    * age/sex/illness/platform coalesced with UNKNOWN fallback (O-10).

    A sample listed twice keeps both rows: the pipeline deduplicates the
    union of every study's frame by ``(gse_accession, gsm_accession)`` in
    one shuffle, where a dedup here would cost one shuffle job per study.
    """
    fm = field_mappings or FieldMappingConfig()
    missing = [c for c in REQUIRED_COLUMNS if c not in raw.columns]
    if missing:
        raise MetadataSchemaError(
            f"Metadata for study {accession} missing required columns: {missing}"
        )
    return (
        raw.where(F.nullif(F.trim(F.col("refinebio_accession_code")), F.lit("")).isNotNull())
        .select(
            F.lit(accession).alias("gse_accession"),
            F.trim(F.col("refinebio_accession_code")).alias("gsm_accession"),
            _first_non_empty(raw, fm.age_fields).alias("age"),
            _first_non_empty(raw, fm.sex_fields).alias("sex"),
            _first_non_empty(raw, fm.illness_fields).alias("illness"),
            _first_non_empty(raw, fm.platform_fields).alias("platform"),
            F.trim(F.col("experiment_accession")).alias("source_experiment_accession"),
        )
    )


def metadata_quality(normalized: DataFrame, *extra: Column) -> DataFrame:
    """Data-quality completion rates (O-27, ``metadata_processing.py:27-38``).

    One row per study: sample count, age/sex completion ratios, and the count
    of rows whose source experiment accession mismatched the directory-derived
    one (O-18 DQ signal). ``extra`` aggregates ride in the same per-study
    pass, after these columns: the pipeline adds what it needs of each study
    on the driver, so its DQ report costs no action of its own.
    """
    return normalized.groupBy("gse_accession").agg(
        F.count("*").alias("sample_count"),
        F.avg(F.when(F.col("age") != UNKNOWN, 1.0).otherwise(0.0)).alias("age_completion"),
        F.avg(F.when(F.col("sex") != UNKNOWN, 1.0).otherwise(0.0)).alias("sex_completion"),
        F.sum(
            F.when(
                (F.col("source_experiment_accession") != "")
                & (F.col("source_experiment_accession") != F.col("gse_accession")),
                1,
            ).otherwise(0)
        ).alias("accession_mismatches"),
        *extra,
    )


__all__ = [
    "MetadataSchemaError",
    "REQUIRED_COLUMNS",
    "metadata_quality",
    "normalize_metadata",
    "resolve_field_columns",
]
