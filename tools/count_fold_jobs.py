#!/usr/bin/env python
"""Count Spark jobs per streaming-curation fold — the fixed-cost floor.

SCALE.md round 11's fold-cost attribution concluded the ~15 s batch-fixed
floor at 500-doc batches is local-mode job-scheduling dominated (the trim
stage's window hashing + detection machinery, the CC loop, four state
writes, one fused audit action). This tool turns "scheduling dominated"
into a measured, committed jobs-per-fold number — the same treatment the
heavy-hitters fold got when it was fused to 8 jobs (VERDICT r9→r10) —
so a future fusion round has a baseline to beat, and a regression that
quietly adds actions to the fold shows up as a counted integer, not a
wall-clock hunch.

Counts via job groups: every Spark job launched while ``fold_batch`` runs
is tagged, then counted from the status tracker. AQE's stage-split job
accounting is part of the number on purpose — it is what the scheduler
actually runs.

Usage: python tools/count_fold_jobs.py [docs_per_batch] [trim_w] [folds]
"""
from __future__ import annotations

import os
import pathlib
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    docs_per_batch = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    trim_w = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_folds = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.quality import STOPWORDS
    from etl_for_all_studies_spark.session import get_spark
    from etl_for_all_studies_spark.streaming.curation import fold_batch

    cores = len(os.sched_getaffinity(0))  # local[N], 3g heap, as perfbench
    spark = get_spark(
        app_name="count-fold-jobs",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "3g"},
    )
    sc = spark.sparkContext
    base = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < docs_per_batch)
        .persist()
    )
    base.count()

    alpha = "abcdefghijklmnopqrstuvwxyz"
    affine_a = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

    def cipher(col, idx: int):
        a = affine_a[(idx // 26) % len(affine_a)]
        b = idx % 26
        if a == 1 and b == 0:
            return col
        mapped = "".join(alpha[(a * p + b) % 26] for p in range(26))
        return F.array_join(
            F.transform(
                F.split(col, " "),
                lambda w: F.when(w.isin(*STOPWORDS), w).otherwise(
                    F.translate(w, alpha, mapped)
                ),
            ),
            " ",
        )

    tmp = tempfile.mkdtemp(prefix="fold_jobs_")
    corpus = f"{tmp}/corpus"
    for i in range(n_folds):
        batch = base.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            cipher(F.col("text"), i * 3 + 1).alias("text"),
        )
        group = f"fold-{i}"
        sc.setJobGroup(group, group)
        t0 = time.monotonic()
        try:
            fold_batch(batch, i, corpus, trim_spans_w=trim_w, dedup_mode="lsh")
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        kind = "bootstrap" if i == 0 else "steady"
        print(
            f"fold {i} ({kind}): {jobs} jobs, "
            f"{time.monotonic() - t0:.2f}s wall",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
