"""Distributed global total-order: rank + running sums without a global window.

``Window.orderBy(...)`` with no partition is the classic scale cliff — Spark
prints "No Partition Defined for Window operation! Moving all data to a
single partition" and funnels the whole table through ONE task. Yet global
order statistics (dense rank, ntile scoring, cumulative share) are bread-and-
butter analytics. This operator computes them exactly, with every stage
splittable:

1. ``repartitionByRange`` on the order key — a distributed sort: each task
   owns one contiguous key range (the same exchange a global ``orderBy``
   plans, WITHOUT the subsequent single-partition window). The frame is
   ``localCheckpoint``-ed: the lineage below branches (local ranks + range
   stats), and both the sampled range boundaries and ``spark_partition_id``
   are documented as potentially inconsistent across re-evaluations —
   without pinning, the offsets could be computed against a DIFFERENT
   partitioning than the local ranks. The checkpoint writes once what the
   global sort would have shuffled anyway (this operator is meant for
   AGGREGATED tables — per-customer, per-term — not raw facts); on a real
   cluster swap for reliable ``.checkpoint()`` if executor loss must be
   survivable mid-query.
2. per-range ``row_number`` / running sums via a window partitioned by the
   range id — parallelism = number of ranges;
3. per-range counts/value sums → ONE tiny stats table (one row per range,
   ≤ ``num_partitions`` rows — bounded by CONFIG, not data) collected to
   the driver; cumulative offsets are a Python prefix sum over it. Range
   partition INDEX is the sort order (``RangePartitioner`` numbers ranges
   ascending in the given ordering, pinned by the checkpoint), so no
   driver-side key comparisons are needed. No window over the stats table
   either — a ``partitionBy(lit(0))`` guard would be constant-folded back
   into the single-task shape this operator exists to avoid.
4. broadcast the offsets back: ``global = local + offset``; grand totals
   ride along as literals.

This is the same per-partition-offset numbering ``operators/dims.py`` uses
for dim_sample keys, generalized to any total order plus running sums.
Values are EXACT — range bounds (sampled) affect only load balance.

The order key must be a total order (include a unique tiebreaker column)
for deterministic output — the same requirement the global-window form has.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import CacheScope, persist
from ..session import local_frame


def attach_global_order(
    df: DataFrame,
    *,
    order: list[tuple[str, bool]],
    rank_col: str | None = "rank",
    running_sum: dict[str, str] | None = None,
    total_count_col: str | None = None,
    total_sum_cols: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Input columns + the requested global order statistics.

    ``order``: [(column, ascending), ...] — MUST be a total order.
    ``rank_col``: output column for the global row_number (None to skip).
    ``running_sum``: {out_col: value_col} — inclusive running sum of
    value_col in the global order.
    ``total_count_col`` / ``total_sum_cols``: optionally attach the global
    row count / {out_col: value_col} grand totals (computed from the same
    tiny stats table — no extra scan), for ntile/share arithmetic.
    """
    running_sum = running_sum or {}
    total_sum_cols = total_sum_cols or {}
    sort_exprs = [
        (F.col(c).asc() if asc else F.col(c).desc()) for c, asc in order
    ]
    n_part = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    rp = (
        df.repartitionByRange(n_part, *sort_exprs)
        .withColumn("__go_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = Window.partitionBy("__go_pid").orderBy(*sort_exprs)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = rp
    if rank_col or running_sum:
        local = local.withColumn("__go_lr", F.row_number().over(w_local))
    for out, val in running_sum.items():
        local = local.withColumn(f"__go_run_{out}", F.sum(val).over(w_run))

    sum_items = list({**running_sum, **total_sum_cols}.items())
    sum_aggs = [F.sum(val).alias(f"__go_s_{out}") for out, val in sum_items]
    stats_df = rp.groupBy("__go_pid").agg(
        F.count(F.lit(1)).alias("__go_c"), *sum_aggs
    )
    stats_types = {f.name: f.dataType for f in stats_df.schema.fields}
    # ≤ n_part rows — bounded by configuration, never by data volume
    stats = sorted(stats_df.collect(), key=lambda r: r["__go_pid"])

    # driver-side prefix sums (exclusive): range i's offset = totals of all
    # EARLIER ranges; empty ranges simply have no stats row and no rows to
    # join back to
    off_rows: list[tuple] = []
    cum_c = 0
    cum_s: dict[str, object] = {out: None for out in running_sum}
    for r in stats:
        off_rows.append(
            (r["__go_pid"], cum_c, *[cum_s[out] for out in running_sum])
        )
        cum_c += r["__go_c"]
        for out in running_sum:
            v = r[f"__go_s_{out}"]
            if v is not None:
                cum_s[out] = v if cum_s[out] is None else cum_s[out] + v
    totals = {}
    for out, _ in sum_items:
        vals = [r[f"__go_s_{out}"] for r in stats if r[f"__go_s_{out}"] is not None]
        acc = None
        for v in vals:
            acc = v if acc is None else acc + v
        totals[out] = acc

    off_schema = T.StructType(
        [
            T.StructField("__go_pid", T.IntegerType()),
            T.StructField("__go_off", T.LongType()),
            *[
                T.StructField(f"__go_off_{out}", stats_types[f"__go_s_{out}"])
                for out in running_sum
            ],
        ]
    )
    offsets = local_frame(df.sparkSession, off_rows, off_schema)

    joined = local.join(F.broadcast(offsets), "__go_pid")
    out_cols = list(df.columns)
    proj: list[Column | str] = list(out_cols)
    if rank_col:
        proj.append((F.col("__go_lr") + F.col("__go_off")).alias(rank_col))
    for out in running_sum:
        run = F.col(f"__go_run_{out}")
        off = F.col(f"__go_off_{out}")
        # three-way NULL handling to match the global-window form this
        # operator replaces: sum() over a frame ignores NULLs and is NULL
        # only when the WHOLE prefix is — so an all-NULL local prefix
        # (run NULL) must surface the earlier ranges' offset, not NULL
        proj.append(
            F.when(run.isNull(), off)
            .when(off.isNull(), run)
            .otherwise(run + off)
            .alias(out)
        )
    if total_count_col:
        proj.append(F.lit(cum_c).cast("long").alias(total_count_col))
    for out, _ in total_sum_cols.items():
        proj.append(
            F.lit(totals[out]).cast(stats_types[f"__go_s_{out}"]).alias(out)
        )
    return joined.select(*proj)


def global_ntile_scores(
    df: DataFrame,
    *,
    specs: list[tuple[str, str, bool]],
    tiebreak: str,
    k: int,
    num_partitions: int | None = None,
    scope: "CacheScope | None" = None,
) -> DataFrame:
    """Input columns + one exact global NTILE(k) score per spec, computed
    in ONE distributed total-order pass instead of one per metric.

    ``specs``: [(out_col, value_col, ascending), ...]. Each score matches
    ``NTILE(k) OVER (ORDER BY value_col ASC|DESC, tiebreak ASC)`` exactly.
    ``tiebreak`` must be a unique row key (it is also the join-back key).

    M metrics as M separate :func:`attach_global_order` calls cost M
    lineage pins (localCheckpoints) + M driver collects + M broadcast
    joins of fixed overhead each. This form STACKS the metrics instead —
    one row per (metric, row) ordered by (metric_idx, signed value,
    tiebreak) — so ONE range sort of M·n skinny rows (three small
    columns) replaces M sorts of n rows: same shuffled volume, one pin,
    one ≤``shuffle.partitions``-row collect. Every metric holds exactly n
    rows, so the per-metric rank is recovered arithmetically
    (``global_rank − metric_idx·n``) and scores pivot back with one
    keyed aggregation + one equi-join on ``tiebreak``.

    Caveats (both hold for count/sum/round-2 analytics metrics):
    descending specs are expressed by value NEGATION, which maps NULLs to
    nulls-FIRST while a true DESC sorts them last — value columns must be
    non-NULL; values are compared as doubles, exact for integers < 2^53.
    Both preconditions are ENFORCED at runtime (``raise_error`` inside the
    stacked projection) so a violation fails the job loudly instead of
    silently misplacing rows into the wrong tile.
    """
    # barrier: df feeds every stacked branch plus the final join-back —
    # without it an unpersisted aggregate input is recomputed M+1 times
    df = persist(df, scope)
    n_m = len(specs)
    stacked = None
    for i, (_out, val, asc) in enumerate(specs):
        raw = F.col(val)
        v = raw.cast("double")
        # loud guards for the two documented caveats: a NULL metric would
        # sort nulls-FIRST under negation (true DESC sorts them last), and
        # an INTEGRAL value beyond 2^53 loses exactness in the double cast
        # (a double source orders exactly as stored) — either silently
        # reshuffles tile membership, so fail the job instead
        guarded = F.when(
            raw.isNull(),
            F.raise_error(
                F.lit(
                    f"global_ntile_scores: NULL in metric column {val!r} — "
                    "NTILE emulation requires non-NULL values (filter or "
                    "coalesce upstream)"
                )
            ).cast("double"),
        )
        if isinstance(
            df.schema[val].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        ):
            guarded = guarded.when(
                F.abs(raw) > F.lit(2**53),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"global_ntile_scores: |{val}| exceeds 2^53 — "
                            "the double-cast total order is no longer "
                            "exact: "
                        ),
                        raw.cast("string"),
                    )
                ).cast("double"),
            )
        v = guarded.otherwise(v)
        part = df.select(
            F.lit(i).alias("__m"),
            (v if asc else -v).alias("__v"),
            F.col(tiebreak),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    ranked = attach_global_order(
        stacked,
        order=[("__m", True), ("__v", True), (tiebreak, True)],
        rank_col="__r",
        total_count_col="__t",
        num_partitions=num_partitions,
    )
    n = (F.col("__t") / n_m).cast("long")
    rank_m = F.col("__r") - F.col("__m") * n
    score = ntile_from_rank(rank_m, n, k)
    scores = ranked.groupBy(tiebreak).agg(
        *[
            F.max(F.when(F.col("__m") == i, score)).alias(out)
            for i, (out, _val, _asc) in enumerate(specs)
        ]
    )
    return df.join(scores, tiebreak)


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact SQL NTILE(k) from a global rank: the first ``n mod k`` buckets
    get ``n div k + 1`` rows, the rest ``n div k`` — the standard front-
    loaded rule both Spark and DuckDB implement, reproduced arithmetically
    so a distributed rank can replace the single-task window."""
    q = F.floor(n / k)
    m = n % k
    big = m * (q + 1)
    return F.when(
        rank <= big, F.ceil(rank / (q + 1))
    ).otherwise(m + F.ceil((rank - big) / q)).cast("int")


__all__ = ["attach_global_order", "global_ntile_scores", "ntile_from_rank"]
