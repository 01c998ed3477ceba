#!/usr/bin/env python
"""Wide-gene correlation probe: rank kernel vs block pair enumeration
(SURVEY §7.4.7; SCALE.md, round-8 envelope series).

Builds a synthetic dense study with ``n_genes`` up to the reference's own
stated envelope (``docs/genomic-etl-requirements.md:35,41``: 20k+ genes ⇒
C(20k,2) ≈ 2·10⁸ pairs) and times the SAME correlation through
the kernel route (one grouped Arrow task per study) and the block route at
an explicit B (the bucketed join: B(B+1)/2 reducers per sample), each
called directly — this measures the routes, not the router. Reports wall,
pairs/s, and the shuffle bytes of the newly executed stages (UI REST,
``tools/stage_metrics.py``). Runs on ``local[N]`` with N the CPUs this
process may use and a 3g driver heap, as ``perfbench`` does.

Usage:
  python tools/bench_block_pairs.py one <n_genes> <n_samples> <n_blocks> <modes>
      # modes: comma list of kernel,block — one JSON line per mode
  python tools/bench_block_pairs.py series
      # the round-8 envelope grid, each config in its OWN subprocess so
      # shuffle files are reclaimed between configs (the 20k runs write
      # tens of GB); prints a markdown table for SCALE.md
  python tools/bench_block_pairs.py [n_genes] [n_samples] [n_blocks]
      # legacy single-run form (kernel + block)
"""
from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

UI_PORT = 4055

# the round-8 envelope grid: crossover anchors (kernel vs block at 1k-8k),
# the n_blocks sweep at 8k, and the reference's 20k envelope (block only:
# the kernel at 20k is one task computing 2e8 pairs).
# ``-nobc`` variants run with autoBroadcastJoinThreshold=-1: locally the
# tiny synthetic expression table BROADCASTS, so the block join never
# shuffles on (study, sample); on a cluster where the expression leg is
# TBs the join shuffles — the nobc rows are the honest cluster proxy.
SERIES: list[tuple[int, int, int, str]] = [
    (1000, 4, 8, "kernel,block"),
    (2000, 4, 8, "kernel,block"),
    (4000, 4, 8, "kernel,block"),
    (8000, 4, 4, "block"),
    (8000, 4, 8, "kernel,block"),
    (8000, 4, 16, "block"),
    (4000, 4, 8, "block-nobc"),
    (8000, 4, 8, "block-nobc"),
    (20000, 4, 10, "block"),
    (20000, 4, 16, "block"),
]


def synth_expression(spark, n_genes: int, n_samples: int):
    from pyspark.sql import functions as F

    e = (
        spark.range(n_genes)
        .select(F.col("id").alias("gene_key"))
        .crossJoin(spark.range(n_samples).select(F.col("id").alias("sample_id")))
        .select(
            F.lit(1).cast("long").alias("study_key"),
            "gene_key",
            F.concat(F.lit("S"), F.col("sample_id")).alias("gsm_accession"),
            # keyed on the sample index, so every gene varies across its
            # samples at any sample count (no constant series)
            (
                F.pmod(F.col("gene_key") * 37 + F.col("sample_id") * 11, F.lit(97))
                .cast("double")
            ).alias("expression_value"),
        )
        .repartition(len(os.sched_getaffinity(0)))
        .persist()
    )
    e.count()
    return e


def run_one(n_genes: int, n_samples: int, n_blocks: int, modes: list[str]) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.plans.correlation import (
        _block_pairs,
        _correlate,
        _kernel_pairs,
        _split_wide_dense,
    )
    from etl_for_all_studies_spark.session import get_spark
    from tools.stage_metrics import diff_stages, stage_snapshot

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="bench-block-pairs",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    spark.range(1).count()
    e = synth_expression(spark, n_genes, n_samples)

    # the router must classify this width correctly: kernel at/below the
    # threshold, block above (the SCALE envelope contract)
    _kernel_keys, wide = _split_wide_dense(e)
    pairs = n_genes * (n_genes - 1) // 2
    for token in modes:
        mode, _, variant = token.partition("-")
        nobc = variant == "nobc"
        if nobc:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        before = stage_snapshot(UI_PORT)
        t0 = time.monotonic()
        block = mode == "block"
        # stored rows ride on the write itself (no extra job)
        stored = Observation(f"stored-{token}")
        corr = _correlate(
            _block_pairs(e, n_blocks) if block else _kernel_pairs(e, 2),
            bucketed_bh=block, computed_at="fixed",
        ).observe(stored, F.count(F.lit(1)).alias("rows"))
        corr.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        stages = diff_stages(before, stage_snapshot(UI_PORT))
        n_stored = stored.get["rows"]
        if nobc:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        print(
            json.dumps(
                {
                    "n_genes": n_genes,
                    "n_samples": n_samples,
                    "n_blocks": n_blocks if block else None,
                    "mode": token,
                    "pairs": pairs,
                    "pairs_stored": n_stored,
                    "wall_s": round(wall, 1),
                    "pairs_per_s": int(n_stored / wall),
                    "shuffle_write": stages["shuffle_write"],
                    "router": "block" if wide else "kernel",
                }
            ),
            flush=True,
        )


def run_series() -> None:
    rows = []
    for n_genes, n_samples, n_blocks, modes in SERIES:
        out = subprocess.run(
            [
                sys.executable,
                __file__,
                "one",
                str(n_genes),
                str(n_samples),
                str(n_blocks),
                modes,
            ],
            capture_output=True,
            text=True,
            check=False,
        )
        for line in out.stdout.splitlines():
            if line.startswith("{"):
                rows.append(json.loads(line))
                print(line, flush=True)
        if out.returncode != 0:
            print(f"FAILED {n_genes}/{n_blocks}: {out.stderr[-800:]}", flush=True)
    print("\n| n_genes | mode | n_blocks | pairs | wall | pairs/s | shuffle_write | router |")
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['n_genes']} | {r['mode']} | {r['n_blocks'] or '-'} | "
            f"{r['pairs']:.1e} | {r['wall_s']} s | {r['pairs_per_s']:,} | "
            f"{r['shuffle_write'] / 1e9:.2f} GB | {r['router']} |"
        )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "series":
        run_series()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "one":
        run_one(
            int(sys.argv[2]),
            int(sys.argv[3]),
            int(sys.argv[4]),
            sys.argv[5].split(","),
        )
        return
    n_genes = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    n_samples = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_blocks = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    run_one(n_genes, n_samples, n_blocks, ["kernel", "block"])


if __name__ == "__main__":
    main()
