#!/usr/bin/env python
"""Scale-up probe for exact-substring duplicate spans: 1x vs Nx corpora.

Same cipher-replication methodology as ``bench_scaleup_editdist.py``: each
copy applies a bijective LETTER rotation, preserving every copy's INTERNAL
window-duplication structure. Digit/punctuation-heavy windows are untouched
by the cipher and DO still collide across copies, so the replicated corpus
carries MORE duplication than k-fold — the probe is an upper-bound
workload, and the wall-clock ratio still bounds n-scaling of the
window-hash aggregation (the operator's only corpus-wide shuffle) from
above. Near-linear growth is the pass criterion.

Usage: python tools/bench_scaleup_spans.py [multiplier]
       python tools/bench_scaleup_spans.py incremental [multiplier]
       python tools/bench_scaleup_spans.py series [k1,k2,...]

``series`` mode (default ``1,10,100``) is the 100x probe: at each
multiplier the ciphered corpus is WRITTEN TO PARQUET and read back (the
real scan path), ``duplicated_spans`` runs best-of-2, and the Spark-UI
REST API records shuffle read/write bytes per run — the window-hash
exchange is the operator's one scale axis, and 100x is where it first
dominates fixed overhead. Pass = near-linear wall AND shuffle-byte
growth across the series.

``incremental`` mode measures the per-BATCH cost contract of
``duplicated_spans_incremental``: a fixed 1x batch detected against seen
window-hash tables of 1x vs Nx history. Pass = batch wall clock stays
near-flat as history grows (the history only enters through a
distinct+semi-join keyed by hash; batch hashing dominates).
"""
from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def incremental(mult: int) -> None:
    """Fixed 1x batch vs seen tables built from 1x and mult-x histories."""
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.spans import (
        duplicated_spans_incremental,
        window_hashes,
    )
    from etl_for_all_studies_spark.session import get_spark

    spark = get_spark(
        app_name="bench-spans-incremental",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    alpha = "abcdefghijklmnopqrstuvwxyz"
    batch = base.select(
        (F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"), "text"
    )

    def history(k: int):
        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.translate(
                    F.col("text"), alpha, alpha[i:] + alpha[:i]
                ).alias("text"),
            )
            for i in range(k)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    results = {}
    for k in (1, mult):
        seen = (
            window_hashes(history(k), w=8).select("h").distinct()
            .repartition(32)
            .persist()
        )
        n_seen = seen.count()  # materialize: the warehouse table is stored
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            n = duplicated_spans_incremental(batch, seen, w=8).count()
            el = time.monotonic() - t0
            best = el if best is None else min(best, el)
            spark.catalog.clearCache()
            seen.persist().count()
        results[k] = (round(best, 2), n_seen, n)
    (t1, s1, n1), (tm, sm, nm) = results[1], results[mult]
    print(
        f"seen x1: {s1} hashes, batch detect {t1}s ({n1} spans); "
        f"seen x{mult}: {sm} hashes, batch detect {tm}s ({nm} spans); "
        f"per-batch wall ratio {tm/t1:.2f}x for {mult}x history"
    )


def series(mults: list[int]) -> None:
    """Wall + shuffle bytes for duplicated_spans across a multiplier series."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.spans import duplicated_spans
    from etl_for_all_studies_spark.session import get_spark
    from tools.stage_metrics import diff_stages, fmt_bytes, stage_snapshot

    ui_port = 4047
    spark = get_spark(
        app_name="bench-spans-series",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",  # the probe reads its REST API
            "spark.ui.port": str(ui_port),
            "spark.ui.retainedStages": "5000",
            "spark.driver.memory": "48g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    alpha = "abcdefghijklmnopqrstuvwxyz"
    # Per-copy AFFINE alphabet maps (x -> a*x+b mod 26, a coprime to 26):
    # 12*26 = 312 distinct bijections, so up to 312 copies carry pairwise-
    # DISJOINT text. A plain rotation repeats every 26 copies — copies 0/26/
    # 52/76 would be byte-identical and the cross-copy duplicate mass would
    # grow superlinearly at 100x, corrupting the constant-density premise.
    coprime = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]

    def _mapped(i: int) -> str:
        a, b = coprime[(i // 26) % 12], i % 26
        return "".join(alpha[(a * j + b) % 26] for j in range(26))

    tmp = tempfile.mkdtemp(prefix="spans_series_")
    results: dict[int, dict] = {}
    try:
        for k in mults:
            out = f"{tmp}/docs_{k}x.parquet"
            copies = [
                base.select(
                    (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                    F.translate(F.col("text"), alpha, _mapped(i)).alias("text"),
                )
                for i in range(k)
            ]
            docs_u = copies[0]
            for c in copies[1:]:
                docs_u = docs_u.unionByName(c)
            docs_u.repartition(max(32, k)).write.mode("overwrite").parquet(out)
            docs = spark.read.parquet(out)
            best = None
            for _ in range(2):
                before = stage_snapshot(ui_port)
                t0 = time.monotonic()
                n = duplicated_spans(docs, w=8).count()
                el = time.monotonic() - t0
                m = diff_stages(before, stage_snapshot(ui_port))
                if best is None or el < best["wall"]:
                    best = {"wall": el, "spans": n, **m}
                spark.catalog.clearCache()
            results[k] = best
            print(
                f"x{k:<4d} wall={best['wall']:7.2f}s  spans={best['spans']:>8d}  "
                f"shuffle write={fmt_bytes(best['shuffle_write'])} "
                f"read={fmt_bytes(best['shuffle_read'])}  "
                f"input={fmt_bytes(best['input_bytes'])}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    k0 = mults[0]
    for k in mults[1:]:
        b0, bk = results[k0], results[k]
        print(
            f"x{k0}->x{k}: wall {bk['wall']/b0['wall']:.1f}x, shuffle write "
            f"{bk['shuffle_write']/max(b0['shuffle_write'],1):.1f}x, "
            f"data {k/k0:.0f}x"
        )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "series":
        mults = [
            int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "1,10,100").split(",")
        ]
        series(mults)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "incremental":
        incremental(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
        return
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.spans import duplicated_spans
    from etl_for_all_studies_spark.session import get_spark

    spark = get_spark(
        app_name="bench-scaleup-spans",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def replicate(k: int):
        if k == 1:
            return base
        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.translate(
                    F.col("text"), alpha, alpha[i:] + alpha[:i]
                ).alias("text"),
            )
            for i in range(k)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out.repartition(32).persist()

    results = {}
    spans = {}
    for k in (1, mult):
        docs = replicate(k)
        docs.count()
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            n = duplicated_spans(docs, w=8).count()
            el = time.monotonic() - t0
            best = el if best is None else min(best, el)
            spark.catalog.clearCache()
            if k != 1:
                docs.persist().count()  # keep the input warm across repeats
        results[k] = round(best, 2)
        spans[k] = n
    print(
        f"docs x1={results[1]}s ({spans[1]} spans) "
        f"x{mult}={results[mult]}s ({spans[mult]} spans) "
        f"wall ratio {results[mult]/results[1]:.1f}x for {mult}x data "
        f"(span ratio {spans[mult]/max(spans[1],1):.1f}x — cross-copy numeric-window collisions add load beyond {mult}x)"
    )


if __name__ == "__main__":
    main()
