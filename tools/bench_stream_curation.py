#!/usr/bin/env python
"""Steady-state streaming-curation probe: per-batch fold cost as the
curated corpus and its window-hash table accrue across K batches.

The 100x-history probe (SCALE.md round 8) measures the asymptote of ONE
``curate_batch`` fold against a big pre-built history; this probe measures
the TRAJECTORY the streaming pipeline actually walks — K successive
disjoint shards folded through ``streaming/curation.py::fold_batch``, each
against everything the previous folds admitted. Pass criterion: per-batch
wall is governed by the batch (flat-ish trend with a slow history term
from the vs-seen joins' seen-side scans), NOT by fold index — a
superlinear trend would mean per-batch cost compounds and the stream dies
by accretion.

Shards are cipher-disjoint slices of the sf0.1 corpus (one affine letter
cipher per shard with stopwords kept, ``cipher`` in ``main``) so every
batch is mostly-new content — the steady-state regime. doc_ids are offset
per shard (stream-wide uniqueness contract).

Round 9 extends the probe to the 50-100 fold regime, where the fixed
per-fold costs the 8-fold run couldn't see — the `batch_id=*` listing,
per-partition parquet footer reads, and small-file accretion — get a
chance to trend. `compact_every=K` exercises `compact_batches` as the
maintenance story: every K folds, closed batches collapse into one
generation partition, bounding both the listing and the file count.

Round 10 runs the 100-500 fold horizon (VERDICT r9 next #5); small
batches there are fixed-cost-dominated (~50 Spark jobs/fold), so the
``partitions`` arg right-sizes the session — shuffle partitions ≫ batch
rows just taxes the scheduler without exercising anything extra.

Usage: python tools/bench_stream_curation.py [n_batches] [trim_w] \
           [docs_per_batch] [compact_every] [partitions]
"""
from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

ALPHA = "abcdefghijklmnopqrstuvwxyz"
_AFFINE_A = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)


def _count_files(root: pathlib.Path) -> int:
    return sum(
        1
        for d in root.iterdir()
        for f in d.iterdir()
        if f.is_file() and f.suffix == ".parquet"
    ) if root.is_dir() else 0


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    trim_w = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    docs_per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 0  # 0 = all
    compact_every = int(sys.argv[4]) if len(sys.argv) > 4 else 0  # 0 = never
    partitions = (
        int(sys.argv[5]) if len(sys.argv) > 5 else len(os.sched_getaffinity(0))
    )

    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.operators.quality import STOPWORDS
    from etl_for_all_studies_spark.session import get_spark
    from etl_for_all_studies_spark.streaming.curation import (
        compact_batches,
        fold_batch,
        read_audit,
    )

    spark = get_spark(
        app_name="bench-stream-curation",
        master=f"local[{partitions}]",
        shuffle_partitions=partitions,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "3g",  # as perfbench
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    if docs_per_batch:
        base = base.where(F.col("doc_id") < docs_per_batch)
    base = base.persist()
    base.count()

    def cipher(col, idx: int):
        a = _AFFINE_A[(idx // 26) % len(_AFFINE_A)]
        b = idx % 26
        if a == 1 and b == 0:
            return col
        mapped = "".join(ALPHA[(a * p + b) % 26] for p in range(26))
        return F.array_join(
            F.transform(
                F.split(col, " "),
                lambda w: F.when(w.isin(*STOPWORDS), w).otherwise(
                    F.translate(w, ALPHA, mapped)
                ),
            ),
            " ",
        )

    tmp = tempfile.mkdtemp(prefix="stream_cur_probe_")
    corpus = f"{tmp}/corpus"
    try:
        walls, compact_walls = [], []
        for i in range(n_batches):
            batch = base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                cipher(F.col("text"), i).alias("text"),
            )
            t0 = time.monotonic()
            # the probe measures the LSH signatures-leg trajectory (the
            # r10/r11 horizon tables) — pin the leg so the bootstrap
            # batch's df profile can't silently re-route small-batch runs
            fold_batch(batch, i, corpus, trim_spans_w=trim_w,
                       dedup_mode="lsh")
            walls.append(round(time.monotonic() - t0, 2))
            print(
                f"fold {i}: {walls[-1]}s", file=sys.stderr, flush=True
            )
            if compact_every and (i + 1) % compact_every == 0:
                t0 = time.monotonic()
                compact_batches(spark, corpus, min_batches=2)
                compact_walls.append(round(time.monotonic() - t0, 2))
        audit = {
            int(r.batch_id): (int(r.n_admitted), int(r.n_dropped_vs_seen))
            for r in read_audit(spark, corpus).collect()
        }
        n = len(walls)
        q = max(1, n // 4)
        out = {
            "n_batches": n_batches,
            "batch_docs": base.count(),
            "trim_w": trim_w,
            "compact_every": compact_every,
            "wall_per_batch_s": walls,
            "admitted_per_batch": [audit[i][0] for i in range(n_batches)],
            "last_over_first_wall": round(walls[-1] / walls[0], 2),
            # warmup-insensitive trend: mean of the last quartile over the
            # second quartile (first quartile carries JIT/codegen warmup)
            "q4_over_q2_wall": round(
                (sum(walls[n - q:]) / q) / (sum(walls[q: 2 * q]) / q), 2
            ),
            # warmup-insensitive per-quartile means: the round-11 rerun's
            # headline (VERDICT r10 #2 — is the post-signatures-leg trend
            # flat at depth?)
            "quartile_mean_wall_s": [
                round(sum(walls[j * q: (j + 1) * q]) / q, 2)
                for j in range(4)
            ],
            "final_state_files": {
                "admitted": _count_files(pathlib.Path(corpus) / "admitted"),
                "window_hashes": _count_files(
                    pathlib.Path(corpus) / "window_hashes"
                ),
                "signatures": _count_files(
                    pathlib.Path(corpus) / "signatures"
                ),
                "audit": _count_files(pathlib.Path(corpus) / "audit"),
            },
        }
        if compact_walls:
            out["compact_wall_s"] = compact_walls
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
