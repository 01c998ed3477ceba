"""Expression matrix operators: prune → unpivot → cast-drop → whitelist filter
(O-13/O-14/O-15 + the wide→long melt).

Reference semantics (``src/etl_for_all_studies/expression_processing.py:24-113``):
the wide TSV is streamed row-at-a-time, columns restricted to samples present
in metadata (warn on missing, error when none survive), each cell parsed with
``float()`` and *skipped* (not nulled) when unparseable, and gene rows kept
only when the id is in the whitelist.

Spark-first formulation: an explicit ``select`` of the intersected columns
(airtight column pruning — the scan's ReadSchema shrinks to what's needed),
``DataFrame.unpivot`` to long form (the wide layout is an I/O artifact; long
is Spark's native shape), a ``cast('double')`` + not-null filter for the
drop-bad-cells semantics, and a **broadcast left-semi join** against the
whitelist (never shuffles the big expression side; ~99% selectivity per the
reference's own envelope, ``docs/genomic-etl-requirements.md:45``).
"""
from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..session import local_frame

logger = logging.getLogger(__name__)


class ExpressionSchemaError(ValueError):
    """Raised when no expression sample columns survive metadata intersection."""


def intersect_sample_columns(
    wide: DataFrame, metadata_samples: Sequence[str]
) -> tuple[list[str], list[str]]:
    """Column pruning by metadata sample set (O-14).

    Returns ``(kept, missing)`` where *kept* preserves the expression file's
    column order (the reference iterates header order) and *missing* are
    metadata samples absent from the expression header (warned, reference
    ``expression_processing.py:54-67``).
    """
    sample_cols = [c for c in wide.columns if c != "ensembl_id"]
    wanted = set(metadata_samples)
    kept = [c for c in sample_cols if c in wanted]
    missing = sorted(wanted - set(sample_cols))
    return kept, missing


def expression_wide_to_long(
    wide: DataFrame,
    metadata_samples: Sequence[str],
    accession: str,
    gene_whitelist: DataFrame | None = None,
) -> DataFrame:
    """Wide matrix → long `(gse_accession, ensembl_id, gsm_accession,
    expression_value)` with bad-cell drop semantics (O-14 + melt + O-15).

    ``gene_whitelist`` applies the O-13 gene filter as a broadcast semi-join
    on the WIDE side, before the unpivot — the reference's own order
    (``expression_processing.py:83-84`` skips non-whitelist gene rows while
    still row-oriented, before emitting cells). Catalyst cannot push a
    semi-join below the unpivot's Expand (only the derived not-null/
    not-empty predicates migrate), so without the prefilter every CELL pays
    the Expand + try_cast + hash-probe; with it, only rows do — at the
    reference's 10k-sample envelope that is a per-study factor of
    n_samples (10,000×) on the Expand's output volume whenever the
    whitelist is selective, and one cheap row probe when it isn't.
    Passing the whitelist here makes :func:`filter_to_whitelist`
    downstream redundant (kept for long-form callers)."""
    kept, missing = intersect_sample_columns(wide, metadata_samples)
    if missing:
        logger.warning(
            "Study %s: %d metadata samples missing from expression header: %s",
            accession, len(missing), missing[:10],
        )
    if not kept:
        raise ExpressionSchemaError(
            f"Study {accession}: no expression columns match metadata samples"
        )
    # Each Column built here is a few driver round trips to the JVM, and a
    # 100-sample study paid ~0.2 s of planning for two per-sample lists
    # (this select and unpivot's values). So the select runs only when
    # there is a column to prune, and unpivot takes every non-id column.
    pruned = (
        wide
        if len(kept) == len(wide.columns) - 1
        else wide.select("ensembl_id", *[F.col(f"`{c}`") for c in kept])
    )
    if gene_whitelist is not None:
        wl = gene_whitelist.select(
            F.trim(F.col("ensembl_id")).alias("_wl_ensembl_id")
        )
        pruned = pruned.join(
            F.broadcast(wl),
            F.trim(F.col("ensembl_id")) == F.col("_wl_ensembl_id"),
            "left_semi",
        )
    long = pruned.unpivot(
        ids=["ensembl_id"],
        values=None,
        variableColumnName="gsm_accession",
        valueColumnName="raw_value",
    )
    return long.select(
        F.lit(accession).alias("gse_accession"),
        F.trim(F.col("ensembl_id")).alias("ensembl_id"),
        F.col("gsm_accession"),
        # try_cast: ANSI-safe equivalent of the reference's float()-or-skip
        F.col("raw_value").try_cast("double").alias("expression_value"),
    ).where(
        # O-15: unparseable cells are dropped, not loaded as NULL facts
        # (fact_expression.expression_value is non-nullable, models.py:82)
        F.col("expression_value").isNotNull()
    )


# Above this sample-column count the pipeline melts from a TEXT scan
# instead of a wide CSV schema. Measured at the 50k-sample envelope
# (tools/bench_etl_wide.py): Spark's wide-row CSV path is superlinear in
# column count — per-cell throughput fell 4x from 10k to 50k columns
# (1.15M → 0.40M cells/s; 2,485 s ETL) because every row materializes a
# 50k-field UnsafeRow and univocity tokenizes every cell of every row,
# whitelist-dropped or not. The text melt keeps rows narrow (one string),
# probes ONLY the first field for the whitelist (substring_index — no full
# split for dropped genes), and explodes just the kept rows' cells.
_TEXT_MELT_THRESHOLD = 4096


def expression_text_to_long(
    spark,
    path: str,
    metadata_samples: Sequence[str],
    accession: str,
    gene_whitelist: DataFrame | None = None,
) -> DataFrame:
    """Ultra-wide twin of :func:`expression_wide_to_long`: same output,
    same O-13/O-14/O-15 semantics, built from ``spark.read.text``.

    Shape: one narrow string row per line → whitelist semi-join on the
    FIRST tab field (``substring_index`` — dropped gene rows never pay a
    full split) → ``split`` + ``posexplode`` of kept rows → broadcast join
    of cell position → (kept) sample name, which applies the O-14 pruning
    positionally → ``try_cast`` bad-cell drop. Every cell-level stage runs
    only on whitelist-kept rows; the full-corpus scan cost is I/O plus one
    first-field probe per line.

    Contract: plain TSV (no quoted fields embedding tabs/newlines) — the
    format the reference's own reader emits/consumes
    (``expression_processing.py:38-52`` splits on the delimiter with no
    quote handling). The pipeline routes here only above
    ``_TEXT_MELT_THRESHOLD`` columns and only when the header carries no
    quote character; under the threshold the univocity path (full CSV
    dialect) remains the default.
    """
    from ..sources.study_io import InputFormatError, sniff_header

    header = sniff_header(path)
    if header is None:
        raise InputFormatError(
            f"Text melt needs a locally sniffable header: {path}"
        )
    if len(header) < 2:
        raise InputFormatError(
            f"Expression file must have a gene column plus ≥1 sample column: {path}"
        )
    first = header[0].strip()
    if first.casefold() not in {"gene", "ensembl_id"}:
        raise InputFormatError(
            f"Expression file's first column must be 'Gene' or 'ensembl_id', got {first!r}: {path}"
        )
    wanted = set(metadata_samples)
    kept_pos = [(i, name) for i, name in enumerate(header) if i > 0 and name in wanted]
    missing = sorted(wanted - {name for _, name in kept_pos})
    if missing:
        logger.warning(
            "Study %s: %d metadata samples missing from expression header: %s",
            accession, len(missing), missing[:10],
        )
    if not kept_pos:
        raise ExpressionSchemaError(
            f"Study {accession}: no expression columns match metadata samples"
        )

    lines = spark.read.text(path)
    header_line = "\t".join(header)
    rows = lines.where(
        (F.col("value") != header_line) & (F.length(F.col("value")) > 0)
    )
    if gene_whitelist is not None:
        wl = gene_whitelist.select(
            F.trim(F.col("ensembl_id")).alias("_wl_ensembl_id")
        )
        rows = rows.join(
            F.broadcast(wl),
            F.trim(F.substring_index(F.col("value"), "\t", 1))
            == F.col("_wl_ensembl_id"),
            "left_semi",
        )
    # ensembl_id MUST be computed in a projection BELOW the generator:
    # expressions selected alongside posexplode land in the Project above
    # the Generate node and are re-evaluated per EXPLODED row — with
    # element_at(split(value), 1) that re-splits the whole line once per
    # CELL, O(cells × line_length) = quadratic in sample count (measured:
    # the 50k-sample melt materialized in ~19 min with the inline form,
    # ~6 s with this split; count() actions masked it by pruning the
    # column). Two selects keep the split/probe once-per-input-row;
    # CollapseProject cannot merge through Generate.
    parsed = rows.select(
        F.trim(F.substring_index(F.col("value"), "\t", 1)).alias("ensembl_id"),
        F.split(F.col("value"), "\t", -1).alias("__arr"),
    )
    cells = parsed.select(
        "ensembl_id",
        F.posexplode(F.col("__arr")).alias("pos", "raw_value"),  # pos 0 = gene id
    )
    pos_df = local_frame(
        spark,
        kept_pos,
        T.StructType(
            [T.StructField("pos", T.IntegerType()), T.StructField("gsm_accession", T.StringType())]
        ),
    )
    return (
        cells.join(F.broadcast(pos_df), "pos")  # O-14: unkept positions drop here
        .withColumn("expression_value", F.col("raw_value").try_cast("double"))
        .where(F.col("expression_value").isNotNull())  # O-15 bad-cell drop
        .select(
            F.lit(accession).alias("gse_accession"),
            "ensembl_id",
            "gsm_accession",
            "expression_value",
        )
    )


def filter_to_whitelist(long: DataFrame, gene_whitelist: DataFrame) -> DataFrame:
    """Gene whitelist semi-join (O-13, ``expression_processing.py:83-84``).

    Broadcast left-semi: the whitelist is tiny and the expression side is the
    100 TB side — the big side is filtered map-side with zero shuffle.
    """
    return long.join(
        F.broadcast(gene_whitelist.select("ensembl_id")), on="ensembl_id", how="left_semi"
    )


def dropped_cell_count(wide: DataFrame, kept: Sequence[str]) -> DataFrame:
    """DQ helper: count unparseable cells per study column set (O-15 logging)."""
    if not kept:
        return wide.sparkSession.createDataFrame([(0,)], "dropped long")
    exprs = [
        F.sum(
            F.when(
                F.col(f"`{c}`").isNotNull() & F.col(f"`{c}`").try_cast("double").isNull(), 1
            ).otherwise(0)
        )
        for c in kept
    ]
    total = exprs[0]
    for e in exprs[1:]:
        total = total + e
    return wide.select(total.alias("dropped"))


def quantile_normalize(
    long: DataFrame,
    *,
    sample_col: str = "gsm_accession",
    item_col: str = "ensembl_id",
    value_col: str = "expression_value",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile normalization of a long-format matrix: every sample's value
    distribution is replaced by the cross-sample reference distribution —
    the classic microarray/RNA-seq batch-effect correction (Bolstad et al.,
    Bioinformatics 19(2), 2003) the reference's expression pipeline
    (`/root/reference/src/etl_for_all_studies/expression_processing.py`)
    stops short of, and the canonical pre-step before cross-sample
    correlation (``plans/correlation.py``).

    Algorithm, Spark-first (three keyed shuffles, no Python, no pivot to
    wide):

    1. rank each value within its (group, sample) — ``row_number`` over a
       ``(value, item)`` total order (ties broken by item id so reruns and
       the oracle agree);
    2. the reference distribution = mean value at each rank across the
       group's samples — ONE map-side-combined aggregation keyed by
       (group, rank);
    3. join the reference back on (group, rank) — each value is replaced by
       its rank's cross-sample mean.

    Ragged matrices are legal: a rank present in only some samples
    averages over those samples (the standard generalization). Window
    partitions are per *sample* — bounded by genes-per-sample, never by
    corpus size, so the sort never concentrates a study on one task.

    Output: input columns + ``qn_rank`` + ``qn_value``.
    """
    g = list(group_cols)
    w = Window.partitionBy(*g, sample_col).orderBy(
        F.col(value_col).asc(), F.col(item_col).asc()
    )
    ranked = long.withColumn("qn_rank", F.row_number().over(w))
    ref = ranked.groupBy(*g, "qn_rank").agg(
        F.avg(value_col).alias("qn_value")
    )
    return ranked.join(ref, [*g, "qn_rank"])


__all__ = [
    "ExpressionSchemaError",
    "dropped_cell_count",
    "expression_wide_to_long",
    "filter_to_whitelist",
    "intersect_sample_columns",
    "quantile_normalize",
]
