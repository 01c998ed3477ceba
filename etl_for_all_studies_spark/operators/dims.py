"""Dimension builds with deterministic surrogate keys.

Replaces the reference's per-row get-or-create probes + in-memory dim caches
(``src/etl_for_all_studies/repositories.py:30-185``) with set-oriented builds.
Keys are **deterministic** (ordered by natural key) so oracle comparison is
stable, and **preserved across reruns**: existing rows keep their keys; only
novel natural keys get fresh keys starting at ``max(existing)+1``
(get-or-create semantics, set-at-a-time).

Keys of the four small dims — dim_study, dim_illness, dim_platform and
dim_gene — are assigned on the driver by :func:`key_small_dim`. Each is
bounded by the study count or by the gene whitelist, and its natural keys
already reach the driver through the pipeline's one metadata collect (or,
for genes, one ``distinct`` collect), so a Spark window over them would only
add jobs. Novel keys are sorted in code-point order, which is the UTF-8
binary order Spark sorts strings in, so the keys equal the ``row_number()``
form this replaced (``tests/dim_keys_reference.py`` keeps that form as the
executable spec). The dim comes back as an Arrow ``LocalRelation``, which
writes without the RDD round trip a Python-list frame costs and collects
without a job. Its keys are applied to other frames on the driver's terms
too: a constant lookup (``session.literal_lookup``) of the natural key,
where a broadcast join would run one Spark job per dim.

``dim_sample`` stays in Spark: it is the one dim that grows with the corpus
(10k–50k samples/study × many studies), so its keys are assigned
**per-study in parallel** — ``row_number`` partitioned by ``study_key`` plus
dense per-study offsets (a window over one row per study) — numerically
identical to a global sort by ``(study_key, gsm_accession)`` but with no
fact-scale single-partition Exchange and nothing proportional to the
samples on the driver.
"""
from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DIM_GENE, DIM_ILLNESS, DIM_PLATFORM, DIM_STUDY, UNKNOWN
from ..session import literal_lookup, local_frame


def key_small_dim(
    spark: SparkSession,
    schema: T.StructType,
    existing: DataFrame | None,
    natural: Iterable[str | None],
) -> DataFrame:
    """``(key, natural key)`` dim of ``schema``: the ``existing`` rows
    (collected) keep their keys, and each novel non-null natural key, in
    code-point order, gets the next key after ``max(existing)``."""
    rows = [] if existing is None else [
        tuple(r) for r in existing.select(*schema.names).collect()
    ]
    known = {n for _, n in rows}
    base = max((k for k, _ in rows), default=0)
    novel = sorted({n for n in natural if n is not None} - known)
    rows += [(base + i, n) for i, n in enumerate(novel, 1)]
    return local_frame(spark, rows, schema)


def build_dim_study(
    spark: SparkSession, existing: DataFrame | None, accessions: Iterable[str]
) -> DataFrame:
    """dim_study: 1 row per GSE accession (``models.py:24-31``)."""
    return key_small_dim(spark, DIM_STUDY, existing, accessions)


def build_dim_gene(
    spark: SparkSession, existing: DataFrame | None, ensembl_ids: Iterable[str]
) -> DataFrame:
    """dim_gene: 1 row per Ensembl id **seen in loaded facts** (``models.py:15-21``;
    the reference creates gene rows lazily per loaded expression row,
    ``pipeline.py:202``, so unexpressed whitelist genes never get dim rows)."""
    return key_small_dim(spark, DIM_GENE, existing, ensembl_ids)


def _known(labels: Iterable[str | None]) -> list[str]:
    return [v for v in labels if v not in (None, UNKNOWN, "")]


def build_dim_illness(
    spark: SparkSession, existing: DataFrame | None, labels: Iterable[str | None]
) -> DataFrame:
    """dim_illness: 1 row per non-UNKNOWN label (``models.py:34-40``; UNKNOWN
    maps to a NULL FK, never to a dim row — ``repositories.py:148-173``)."""
    return key_small_dim(spark, DIM_ILLNESS, existing, _known(labels))


def build_dim_platform(
    spark: SparkSession, existing: DataFrame | None, accessions: Iterable[str | None]
) -> DataFrame:
    """dim_platform: 1 row per non-UNKNOWN accession (``models.py:43-49``)."""
    return key_small_dim(spark, DIM_PLATFORM, existing, _known(accessions))


def _assign_sample_keys(incoming: DataFrame, base: int) -> DataFrame:
    """Dense, deterministic sample keys without a global single-partition sort.

    key = ``base`` + rank of (study_key, gsm_accession) — computed as a
    per-study ``row_number`` (parallel across studies) plus each study's
    cumulative row-count offset. The offset window is single-partition but
    runs over ONE row per study (the counts aggregate), never the samples
    themselves, so the plan stays parallel at any corpus size.
    """
    per_study = Window.partitionBy("study_key").orderBy("gsm_accession")
    counts = incoming.groupBy("study_key").agg(F.count(F.lit(1)).alias("__n"))
    off_w = Window.orderBy("study_key").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "study_key", F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        incoming.withColumn("__rn", F.row_number().over(per_study))
        .join(F.broadcast(offsets), on="study_key")
        .withColumn(
            "sample_key",
            (F.col("__rn") + F.col("__off") + F.lit(base)).cast("long"),
        )
        .drop("__rn", "__off")
    )


def build_dim_sample(
    existing: DataFrame | None,
    metadata: DataFrame,
    study_keys: Mapping[str, int],
    illness_keys: Mapping[str, int],
    platform_keys: Mapping[str, int],
) -> DataFrame:
    """dim_sample: 1 row per (gsm_accession, study_key) (``models.py:52-69``).

    ``metadata`` must hold one row per ``(gse_accession, gsm_accession)``:
    ``study_key`` is a function of the accession, so that is one row per
    output key, and this build does not deduplicate again. The three
    mappings are the small dims' natural → surrogate keys, applied as
    constant lookups (no join, no job):

    * a study without a key drops its rows, as an inner join would;
    * UNKNOWN (or any unkeyed) platform/illness → NULL FK (O-17,
      ``repositories.py:148-173``), as a left join would;
    * enrichment on re-run (O-47, ``repositories.py:188-229``): an existing
      sample's UNKNOWN/NULL attributes are filled from new metadata, but a
      known value is never downgraded;
    * surrogate keys preserved for existing (gsm, study) pairs.
    """
    study_key = literal_lookup(study_keys)(F.col("gse_accession"))
    incoming = metadata.where(study_key.isNotNull()).select(
        "gsm_accession",
        study_key.alias("study_key"),
        literal_lookup(platform_keys)(F.col("platform")).alias("platform_key"),
        literal_lookup(illness_keys)(F.col("illness")).alias("illness_key"),
        "age",
        "sex",
    )
    if existing is None or existing.isEmpty():
        return _assign_sample_keys(incoming, 0).select(
            "sample_key",
            "gsm_accession",
            "study_key",
            "platform_key",
            "illness_key",
            "age",
            "sex",
        )

    new = incoming.alias("new")
    old = existing.alias("old")
    joined = old.join(new, on=["gsm_accession", "study_key"], how="full_outer")

    def enrich_str(col: str):
        o, n = F.col(f"old.{col}"), F.col(f"new.{col}")
        return F.coalesce(F.nullif(o, F.lit(UNKNOWN)), n, o, F.lit(UNKNOWN))

    def enrich_key(col: str):
        return F.coalesce(F.col(f"old.{col}"), F.col(f"new.{col}"))

    merged = joined.select(
        F.col("old.sample_key").alias("sample_key"),
        "gsm_accession",
        "study_key",
        enrich_key("platform_key").alias("platform_key"),
        enrich_key("illness_key").alias("illness_key"),
        enrich_str("age").alias("age"),
        enrich_str("sex").alias("sex"),
    )
    base = existing.agg(F.max("sample_key")).collect()[0][0] or 0
    novel_keys = _assign_sample_keys(
        merged.where(F.col("sample_key").isNull()).drop("sample_key"), base
    ).select(
        "sample_key",
        "gsm_accession",
        "study_key",
        "platform_key",
        "illness_key",
        "age",
        "sex",
    )
    return merged.where(F.col("sample_key").isNotNull()).unionByName(novel_keys)


__all__ = [
    "build_dim_gene",
    "build_dim_illness",
    "build_dim_platform",
    "build_dim_sample",
    "build_dim_study",
    "key_small_dim",
]
