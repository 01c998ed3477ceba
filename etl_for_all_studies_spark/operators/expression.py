"""Expression matrix operators: prune → unpivot → cast-drop → whitelist filter
(O-13/O-14/O-15 + the wide→long melt).

Reference semantics (``src/etl_for_all_studies/expression_processing.py:24-113``):
the wide TSV is streamed row-at-a-time, columns restricted to samples present
in metadata (warn on missing, error when none survive), each cell parsed with
``float()`` and *skipped* (not nulled) when unparseable, and gene rows kept
only when the id is in the whitelist.

Two melts give the same long rows. :func:`expression_text_to_long` reads a
plain TSV as text lines and splits only the rows the whitelist keeps; the
pipeline uses it for every study whose raw header it can read and that
carries no quote character. :func:`expression_wide_to_long` unpivots a CSV
scan (the full CSV dialect) and serves the rest. Both apply the whitelist
per gene row, before any cell is emitted, as a constant membership test
(``session.literal_lookup``): no join, no broadcast job, no shuffle of the
big side. The cast is a ``try_cast('double')`` + not-null filter, the
drop-bad-cells semantics.
"""
from __future__ import annotations

import logging
from collections.abc import Collection, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import literal_array, literal_lookup
from ..sources.study_io import InputFormatError, header_column_names, sniff_header

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
    return _intersect([c for c in wide.columns if c != "ensembl_id"], metadata_samples)


def _intersect(
    sample_cols: Sequence[str], metadata_samples: Sequence[str]
) -> tuple[list[str], list[str]]:
    wanted = set(metadata_samples)
    kept = [c for c in sample_cols if c in wanted]
    missing = sorted(wanted - set(sample_cols))
    return kept, missing


def _check_kept(kept: list[str], missing: list[str], accession: str) -> None:
    if missing:
        logger.warning(
            "Study %s: %d metadata samples missing from expression header: %s",
            accession, len(missing), missing[:10],
        )
    if not kept:
        raise ExpressionSchemaError(
            f"Study {accession}: no expression columns match metadata samples"
        )


def _whitelisted(gene: Column, gene_whitelist: Collection[str]) -> Column:
    """``gene`` is in the whitelist: a constant test, no join."""
    return literal_lookup(dict.fromkeys(gene_whitelist, 0))(gene).isNotNull()


def expression_wide_to_long(
    wide: DataFrame,
    metadata_samples: Sequence[str],
    accession: str,
    gene_whitelist: Collection[str] | None = None,
) -> DataFrame:
    """Wide matrix → long `(gse_accession, ensembl_id, gsm_accession,
    expression_value)` with bad-cell drop semantics (O-14 + melt + O-15).

    ``gene_whitelist`` applies the O-13 gene filter on the WIDE side,
    before the unpivot — the reference's own order
    (``expression_processing.py:83-84`` skips non-whitelist gene rows while
    still row-oriented, before emitting cells) — so only gene rows pay the
    test, not cells: at the reference's 10k-sample envelope a factor of
    n_samples (10,000×) on the Expand's input whenever the whitelist is
    selective. Passing the whitelist here makes :func:`filter_to_whitelist`
    downstream redundant (kept for long-form callers)."""
    kept, missing = intersect_sample_columns(wide, metadata_samples)
    _check_kept(kept, missing, accession)
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
        pruned = pruned.where(_whitelisted(F.trim(F.col("ensembl_id")), gene_whitelist))
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


def _unquoted(field: Column) -> Column:
    """A TSV field as the CSV reader gives it: one wrapped in double quotes
    loses them. The regex runs only on a field that starts with a quote:
    on every cell it would double the melt's per-cell cost."""
    return F.when(
        field.startswith('"'), F.regexp_replace(field, '^"(.*)"$', "$1")
    ).otherwise(field)


def expression_text_to_long(
    spark,
    path: str,
    metadata_samples: Sequence[str],
    accession: str,
    gene_whitelist: Collection[str] | None = None,
) -> DataFrame:
    """Text-scan twin of :func:`expression_wide_to_long`: same rows, same
    O-13/O-14/O-15 semantics, built from ``spark.read.text``.

    Shape: one narrow string row per line → whitelist test on the FIRST tab
    field (``substring_index`` — dropped gene rows are never split) →
    ``split`` + ``posexplode`` of kept rows → each cell position's sample
    name from one array literal (NULL for a position the metadata does not
    keep: the O-14 pruning, applied positionally) → ``try_cast`` bad-cell
    drop. Columns are named as the CSV reader names them (duplicates and
    empty names renamed), so the same samples match. Every cell-level stage
    runs only on whitelist-kept rows, and a row stays one string, where a
    CSV scan tokenizes every cell of every row into a row as wide as the
    header (per-cell throughput fell 4× from 10k to 50k columns on that
    path, SCALE.md).

    Contract: plain TSV — a readable, unquoted header (the pipeline checks
    it with ``is_plain_header``) and no field embedding a tab or a line
    break, the format the reference's own reader consumes
    (``expression_processing.py:38-52`` splits on the delimiter with no
    quote handling). As in the CSV scan, a byte-order mark, CRLF line ends,
    blank lines and rows shorter or longer than the header are tolerated,
    and a quoted cell is unquoted.
    """
    header = sniff_header(path)
    if header is None:
        raise InputFormatError(
            f"Text melt needs a locally sniffable header: {path}"
        )
    names = header_column_names(spark, header)
    if len(names) < 2:
        raise InputFormatError(
            f"Expression file must have a gene column plus ≥1 sample column: {path}"
        )
    first = names[0].strip()
    if first.casefold() not in {"gene", "ensembl_id"}:
        raise InputFormatError(
            f"Expression file's first column must be 'Gene' or 'ensembl_id', got {first!r}: {path}"
        )
    kept, missing = _intersect(names[1:], metadata_samples)
    _check_kept(kept, missing, accession)
    wanted = set(kept)
    sample_at = literal_array([None, *(n if n in wanted else None for n in names[1:])], "string")

    # the header line: the text reader drops its byte-order mark and the CR
    # of a CRLF, as the sniff does (a blank line yields no cell)
    keep = F.col("value") != "\t".join(header)
    gene = F.trim(_unquoted(F.substring_index(F.col("value"), "\t", 1)))
    if gene_whitelist is not None:
        keep &= _whitelisted(gene, gene_whitelist)
    rows = spark.read.text(path).where(keep)
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
        gene.alias("ensembl_id"),
        F.split(F.col("value"), "\t", -1).alias("__arr"),
    )
    cells = parsed.select(
        "ensembl_id",
        F.posexplode(F.col("__arr")).alias("pos", "raw_value"),  # pos 0 = gene id
    )
    return (
        cells.select(
            F.lit(accession).alias("gse_accession"),
            "ensembl_id",
            # a position past the header (a long row) has no sample: NULL
            F.try_element_at(sample_at, F.col("pos") + 1).alias("gsm_accession"),
            _unquoted(F.col("raw_value")).try_cast("double").alias("expression_value"),
        )
        # O-14: unkept positions drop here; O-15: so do unparseable cells
        .where(F.col("gsm_accession").isNotNull() & F.col("expression_value").isNotNull())
    )


def filter_to_whitelist(long: DataFrame, gene_whitelist: Collection[str]) -> DataFrame:
    """Gene whitelist filter on long rows (O-13,
    ``expression_processing.py:83-84``): a constant membership test, so
    the big side is filtered where it is scanned, with zero shuffle."""
    return long.where(_whitelisted(F.col("ensembl_id"), gene_whitelist))


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
