"""The Spark-window key assignment of the small dims, kept as the executable
spec of ``operators/dims.py::key_small_dim``.

This is how the small dims were keyed before the driver took it over:
distinct non-null natural keys, a ``left_anti`` join against the existing
dim, and ``row_number()`` over the natural key (Spark's UTF-8 binary string
order) offset by the largest existing key. Existing rows keep their keys.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_surrogate_keys(
    existing: DataFrame | None,
    natural: DataFrame,
    key_col: str,
    natural_cols: list[str],
) -> DataFrame:
    """Union existing dim with novel natural keys, assigning stable keys.

    ``existing`` is the previously-written dim (or None on first build);
    ``natural`` holds candidate natural-key rows (any duplicates are dropped).
    """
    natural = (
        natural.select(*natural_cols)
        .where(F.col(natural_cols[0]).isNotNull())
        .distinct()
    )
    if existing is None or existing.isEmpty():
        w = Window.orderBy(*natural_cols)
        return natural.withColumn(key_col, F.row_number().over(w).cast("long")).select(
            key_col, *natural_cols
        )
    novel = natural.join(existing.select(*natural_cols), on=natural_cols, how="left_anti")
    base = existing.agg(F.max(key_col)).collect()[0][0] or 0
    w = Window.orderBy(*natural_cols)
    fresh = novel.withColumn(
        key_col, (F.row_number().over(w) + F.lit(base)).cast("long")
    ).select(key_col, *natural_cols)
    return existing.select(key_col, *natural_cols).unionByName(fresh)
