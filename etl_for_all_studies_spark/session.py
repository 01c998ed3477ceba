"""SparkSession construction tuned for this engine.

Defaults are chosen for the scale story: AQE on (runtime re-planning +
skew-join splitting), small shuffle-partition count locally (overridable for
clusters), Arrow enabled for the few Pandas-UDF paths, and dynamic partition
overwrite so per-study correlation refresh is an atomic partition swap
(replaces the reference's DELETE-then-INSERT, ``correlation_job.py:91-96``).
"""
from __future__ import annotations

import pathlib
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
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


__all__ = ["get_spark", "local_frame"]
