"""Bucketed interval (range) join — the scale path for time-range predicates.

Spark plans a pure range predicate (``e.ts BETWEEN i.start AND i.end``) as a
BroadcastNestedLoopJoin (small side) or a cartesian product — O(|L|·|R|) pair
evaluations, which is exactly the all-pairs shape every other operator in
this engine avoids. The standard fix (used by time-series stores and
implemented here as a first-class operator) is **bucketization**:

1. quantize time into fixed-width buckets;
2. replicate each interval row to every bucket it overlaps (a per-row
   ``sequence`` explode — intervals spanning k buckets emit k rows);
3. equi-join events to interval-buckets on (join keys…, bucket) — the
   shuffle is keyed, partial, and AQE-managed like any other equi-join;
4. post-filter the exact predicate ``start ≤ ts < end``.

Each event lives in exactly ONE bucket, so a matched (event, interval) pair
is produced exactly once — no dedup pass. Cost model: shuffle volume is
|events| + |intervals| · (1 + len/width); per-reducer work is events-per-
bucket × intervals-overlapping-that-bucket. Pick ``bucket_width`` ≈ the
typical interval length: replication stays ~2× while buckets stay selective.
The same shape powers the engine's as-of join (``asof.py``) and IVF
similarity (``similarity.py``) — quantize, equi-join, verify.

Related reference surface: the reference has no range joins (SURVEY §2.6);
this is a beyond-reference capability for event/log analytics at 100 TB.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucketed_interval_join(
    events: DataFrame,
    intervals: DataFrame,
    *,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    on: list[str] | None = None,
    bucket_width_seconds: int = 600,
    how: str = "inner",
) -> DataFrame:
    """Join events to the intervals containing them: ``start ≤ ts < end``
    (half-open, the standard windowing convention).

    ``on`` lists extra equality keys (e.g. ``["user_id"]``) that ride the
    shuffle key alongside the bucket. Output: every events column + every
    intervals column (callers alias collisions away beforehand).
    ``how="left"`` keeps unmatched events with NULL interval columns
    (implemented as the same bucketed inner join plus an anti-joined
    NULL-extension — the nested-loop join never appears in either form).
    """
    on = on or []
    w = F.lit(float(bucket_width_seconds))

    def epoch(col: str) -> Column:
        # sub-second-precise epoch: timestamp→double keeps fractional
        # seconds (unix_timestamp truncates, which could under-cover the
        # final bucket of an interval with a fractional end). The inner
        # cast normalizes TIMESTAMP_NTZ (parquet default) to TIMESTAMP —
        # deterministic because the session timezone is pinned to UTC
        # (session.py); NTZ→double directly is not a legal cast.
        return F.col(col).cast("timestamp").cast("double")

    ev_bucket = F.floor(epoch(ts_col) / w)
    iv_start_b = F.floor(epoch(start_col) / w)
    # half-open end: an interval ending exactly on a bucket boundary does
    # not overlap that bucket — back off half a microsecond before flooring
    iv_end_b = F.floor((epoch(end_col) - F.lit(5e-7)) / w)

    ev = events.withColumn("__bucket", ev_bucket)
    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(iv_start_b, F.greatest(iv_end_b, iv_start_b)))
    )
    joined = ev.join(iv, on=on + ["__bucket"], how="inner").where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    matched = joined.drop("__bucket")
    if how == "inner":
        return matched
    if how != "left":
        raise ValueError(f"unsupported how={how!r} (inner|left)")
    iv_cols = [c for c in intervals.columns if c not in events.columns]
    missing = events.join(
        matched.select(*events.columns).dropDuplicates(events.columns),
        on=events.columns,
        how="left_anti",
    )
    for c in iv_cols:
        missing = missing.withColumn(c, F.lit(None).cast(dict(intervals.dtypes)[c]))
    return matched.unionByName(missing.select(*matched.columns))


__all__ = ["bucketed_interval_join"]
