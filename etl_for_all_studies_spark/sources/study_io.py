"""TSV sources: metadata scan (O-3), wide expression scan (O-4), gene-filter
whitelist (O-5).

The metadata and expression scans are plain ``spark.read.csv`` scans —
header-driven, tab-delimited, all-string schema (types are applied
downstream so bad cells can be dropped with DQ accounting rather than
failing the scan; reference semantics ``expression_processing.py:93-102``).
The schema is declared from the header the driver already sniffs, so
opening a scan starts no Spark job; Spark's own header inference (one job
per file) is the fallback for a header the sniff cannot name exactly. The
whitelist is collected to the driver in one job.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class InputFormatError(ValueError):
    """Raised when an input file violates its documented schema."""


# Spark's univocity CSV parser hard-fails past 20,480 columns by default
# (ArrayIndexOutOfBoundsException, found by the 50k-sample envelope probe —
# tools/bench_etl_wide.py). The reference's stated envelope is 10k-50k
# samples/study (docs/genomic-etl-requirements.md:35), i.e. up to a
# 50,001-column expression TSV. maxColumns is sized from the file's OWN
# header (+16 headroom) because univocity's per-row cost scales with the
# SETTING, not the actual width — a flat 200k ceiling measured +37% on the
# whole 10k-column ETL (174 s vs 127 s); the ceiling is only the fallback
# when the header can't be sniffed (non-local path).
_MAX_TSV_COLUMNS = 200_000
_HEADER_SNIFF_BYTES = 64 * 1024 * 1024  # loud guard: a header row this big
# is corrupt input, not a wide study (50k tab-separated GSM ids ≈ 0.5 MB)


def sniff_header(path: str) -> list[str] | None:
    """First-line column names via a driver-side read; None when the path
    isn't locally readable (object store / HDFS URI — callers fall back)."""
    try:
        with open(path, "rb") as f:
            head = f.readline(_HEADER_SNIFF_BYTES)
    except OSError:
        return None
    if not head.endswith(b"\n") and len(head) >= _HEADER_SNIFF_BYTES:
        raise InputFormatError(
            f"Header row exceeds {_HEADER_SNIFF_BYTES} bytes: {path}"
        )
    try:
        # utf-8-sig drops a leading byte-order mark, as Spark's readers do
        return head.decode("utf-8-sig").rstrip("\r\n").split("\t")
    except UnicodeDecodeError:
        # non-UTF-8 first line: fall back to the _MAX_TSV_COLUMNS ceiling
        # rather than failing every _read_tsv at the driver-side sniff —
        # the Spark CSV scan handles the bytes with its own lenient decode
        return None


def is_plain_header(header: list[str] | None) -> bool:
    """True when a sniffed header names its file's columns exactly: it was
    readable, is not a blank line, and holds no quote character. The CSV
    reader unquotes header cells and skips a blank first line; the sniff
    does neither."""
    return header is not None and header != [""] and not any('"' in c for c in header)


def header_column_names(spark: SparkSession, header: list[str]) -> list[str]:
    """Column names Spark's CSV reader gives a header row: an empty name
    becomes ``_c{i}``, and every occurrence of a repeated name (compared
    case-insensitively unless ``spark.sql.caseSensitive``) gets its index
    appended."""
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    fold = (lambda s: s) if case_sensitive else str.lower
    seen: dict[str, int] = {}
    for name in header:
        if name:
            seen[fold(name)] = seen.get(fold(name), 0) + 1
    return [
        f"_c{i}" if not name else f"{name}{i}" if seen[fold(name)] > 1 else name
        for i, name in enumerate(header)
    ]


def _read_tsv(spark: SparkSession, path: str) -> DataFrame:
    header = sniff_header(path)
    max_cols = len(header) + 16 if header else _MAX_TSV_COLUMNS
    reader = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("encoding", "UTF-8")
        .option("maxColumns", max_cols)
    )
    if not is_plain_header(header):
        return reader.option("inferSchema", False).csv(path)  # all strings
    schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in header_column_names(spark, header)]
    )
    return reader.schema(schema).csv(path)


def read_metadata_raw(spark: SparkSession, path: str) -> DataFrame:
    """Metadata TSV scan (O-3; reference ``metadata_processing.py:116-117``).

    Returns the raw per-sample DataFrame with the study's dynamic columns;
    required-column validation (O-11) happens in the normalizer where the
    study accession is known for error messages.
    """
    return _read_tsv(spark, path)


def read_expression_wide(spark: SparkSession, path: str) -> DataFrame:
    """Wide gene × sample expression scan (O-4; ``expression_processing.py:38-52``).

    Validates the positional contract: ≥2 columns and first header in
    {``gene``, ``ensembl_id``} case-insensitively. The first column is renamed
    to ``ensembl_id`` so downstream operators are name-stable.
    """
    df = _read_tsv(spark, path)
    columns = df.columns
    if len(columns) < 2:
        raise InputFormatError(
            f"Expression file must have a gene column plus ≥1 sample column: {path}"
        )
    first = columns[0].strip()
    if first.casefold() not in {"gene", "ensembl_id"}:
        raise InputFormatError(
            f"Expression file's first column must be 'Gene' or 'ensembl_id', got {first!r}: {path}"
        )
    return df.withColumnRenamed(columns[0], "ensembl_id")


def read_gene_filter(spark: SparkSession, path: str) -> list[str]:
    """Gene whitelist (O-5; reference ``gene_filter.py:12-28``).

    Only the ``ensembl_id`` column is read; ids are trimmed and blank ids
    dropped; the file is invalid if the column is missing or yields zero
    ids. The distinct ids come back sorted, from one collect: the whitelist
    is small (143 ids in the shipped file, one per gene at most) and the
    melts filter with it as a constant (``session.literal_lookup``), so the
    100 TB expression side is filtered where it is scanned, with no
    shuffle and no broadcast job.
    """
    df = _read_tsv(spark, path)
    if "ensembl_id" not in df.columns:
        raise InputFormatError(f"Gene filter file missing 'ensembl_id' column: {path}")
    ids = F.trim(F.col("ensembl_id"))
    genes = sorted({r[0] for r in df.select(ids).where(ids != "").collect()})
    if not genes:
        raise InputFormatError(f"Gene filter file yielded zero gene ids: {path}")
    return genes


__all__ = [
    "InputFormatError",
    "header_column_names",
    "is_plain_header",
    "read_expression_wide",
    "read_gene_filter",
    "read_metadata_raw",
    "sniff_header",
]
