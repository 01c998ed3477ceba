"""SparkSession construction tuned for this engine.

Defaults are chosen for the scale story: AQE on (runtime re-planning +
skew-join splitting), small shuffle-partition count locally (overridable for
clusters), Arrow enabled for the few Pandas-UDF paths, and dynamic partition
overwrite so per-study correlation refresh is an atomic partition swap
(replaces the reference's DELETE-then-INSERT, ``correlation_job.py:91-96``).

The helpers below put data the driver holds into a plan without a Spark
job: as a frame (``local_frame``) or as constants (``literal_array``,
``literal_lookup``).
"""
from __future__ import annotations

import json
import pathlib
import zlib
from collections.abc import Callable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_ENGINE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Window-heavy plans (per-pair ranking, BH) are sort-bound: the 64 MB
    # default advisory size coalesces their shuffle to a couple of partitions
    # and serializes the sorts; 16 MB keeps all cores sorting (measured 3x on
    # the sf0.1 pair-correlation plan). Raise on large clusters if task
    # overhead dominates.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.session.timeZone": "UTC",
    # parquet scans: keep splits big enough to amortize task overhead at scale
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "33554432",
    # zstd over the snappy default for parquet output: ~2x smaller
    # warehouse/shard files at comparable CPU — at 100 TB the scan is
    # IO-bound, so smaller files are directly faster reads (and cheaper
    # storage). Shuffle compression stays on the lz4 default: local and
    # well-provisioned clusters are CPU-bound there, not network-bound.
    "spark.sql.parquet.compression.codec": "zstd",
    # Python workers import this package to run its Arrow kernels (the
    # correlation rank kernel among them): put its checkout on their path,
    # so a CLI works from any working directory
    "spark.executorEnv.PYTHONPATH": str(pathlib.Path(__file__).resolve().parent.parent),
}


def get_spark(
    app_name: str = "etl-for-all-studies-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for key, value in _ENGINE_DEFAULTS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType
) -> DataFrame:
    """A frame of driver-side ``rows``, planned as an Arrow ``LocalRelation``.

    ``spark.createDataFrame`` of a Python list plans an RDD scan instead,
    and every consumer pays for it: joining a 4-row list frame by broadcast
    took 2× as long, and writing it 4×, as the Arrow one (local[4])."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def literal_array(values: Sequence, element_type: str) -> Column:
    """``values`` as one array literal: a JSON string that the optimizer
    folds into a constant. Planning costs a few JVM round trips at any
    length, where ``F.array`` of one ``F.lit`` per value costs a few per
    value."""
    return F.from_json(F.lit(json.dumps(values)), f"array<{element_type}>")


def literal_lookup(mapping: Mapping[str, int]) -> Callable[[Column], Column]:
    """``c ↦ mapping.get(c)``, NULL when absent, as a constant expression:
    a hash table of the driver's ``mapping``, one small map per CRC-32
    bucket, folded into one literal array. A row pays one CRC-32 and a
    lookup in a map of about one key.

    Planning takes the same few JVM round trips at any size. The
    alternatives cost more: a join with the mapping as a frame runs one
    Spark job to broadcast it, ``isin`` or ``create_map`` build one Column
    per entry, and a map literal is searched key by key on every row
    (12–19 s for 200,000 rows against 20,000 keys, where this lookup
    takes 0.6 s for 1,000,000 rows; local[4])."""
    n = max(1, len(mapping))
    buckets: list[dict[str, int]] = [{} for _ in range(n)]
    for key, value in mapping.items():
        buckets[zlib.crc32(key.encode("utf-8")) % n][key] = value
    table = literal_array(buckets, "map<string,bigint>")

    def lookup(c: Column) -> Column:
        bucket = (F.crc32(c.cast("binary")) % n).cast("int") + 1
        return F.try_element_at(F.element_at(table, bucket), c)

    return lookup


__all__ = ["get_spark", "literal_array", "literal_lookup", "local_frame"]
