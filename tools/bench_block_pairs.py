#!/usr/bin/env python
"""Wide-gene correlation probe: one dense synthetic study through
``compute_gene_pair_correlations`` (the per-study rank kernel, p, BH q).

Builds a dense study of ``n_genes`` × ``n_samples`` (the reference's stated
envelope, ``docs/genomic-etl-requirements.md:35,41``, is 20k+ genes ⇒
C(20k,2) ≈ 2·10⁸ pairs) and writes the full correlation to a noop sink.
Prints one JSON line: pairs stored (an ``Observation`` on the write), wall,
pairs/s and the shuffle bytes of the newly executed stages (UI REST,
``tools/stage_metrics.py``). Runs on ``local[N]`` with N the CPUs this
process may use and a 3g driver heap, as ``perfbench`` does. The file keeps
its name from the retired block-enumeration route it used to compare.

Usage:
  python tools/bench_block_pairs.py one <n_genes> <n_samples>
"""
from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

UI_PORT = 4055


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


def run_one(n_genes: int, n_samples: int) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.plans.correlation import (
        compute_gene_pair_correlations,
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

    before = stage_snapshot(UI_PORT)
    t0 = time.monotonic()
    stored = Observation("stored")  # rides on the write itself (no extra job)
    corr = compute_gene_pair_correlations(e, computed_at="fixed").observe(
        stored, F.count(F.lit(1)).alias("rows")
    )
    corr.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    stages = diff_stages(before, stage_snapshot(UI_PORT))
    n_stored = stored.get["rows"]
    print(
        json.dumps(
            {
                "n_genes": n_genes,
                "n_samples": n_samples,
                "pairs": n_genes * (n_genes - 1) // 2,
                "pairs_stored": n_stored,
                "wall_s": round(wall, 1),
                "pairs_per_s": int(n_stored / wall),
                "shuffle_write": stages["shuffle_write"],
            }
        ),
        flush=True,
    )


def main() -> None:
    if len(sys.argv) != 4 or sys.argv[1] != "one":
        sys.exit(__doc__)
    run_one(int(sys.argv[2]), int(sys.argv[3]))


if __name__ == "__main__":
    main()
