#!/usr/bin/env python
"""Melt probe: one synthetic wide study through each expression melt.

Writes an ``n_genes`` × ``n_samples`` expression TSV (seeded values in
``%.3f``, as ``perfbench`` writes them) and a whitelist that keeps
``n_kept`` of its genes, then melts the study to a noop sink two ways:
``expression_wide_to_long`` over the CSV scan (the CSV unpivot) and
``expression_text_to_long`` over the text scan (the text melt). Prints one
JSON line per study: each melt's best wall of 3 and the rows it produced
(an ``Observation`` on the write; the two must be equal). Runs on
``local[N]`` with N the CPUs this process may use and a 3g driver heap, as
``perfbench`` does.

Usage:
  python tools/bench_melt.py N_GENES N_SAMPLES N_KEPT [N_GENES N_SAMPLES N_KEPT ...]
"""
from __future__ import annotations

import json
import os
import pathlib
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

REPEATS = 3


def write_study(path: pathlib.Path, n_genes: int, n_samples: int) -> list[str]:
    """The TSV, and its gene ids in file order."""
    rng = np.random.default_rng(n_genes * 100_003 + n_samples)
    genes = [f"ENSG{i:011d}" for i in range(n_genes)]
    row_fmt = "\t".join(["%.3f"] * n_samples)
    with path.open("w") as f:
        f.write("Gene\t" + "\t".join(f"GSM{j}" for j in range(n_samples)) + "\n")
        for gene, values in zip(genes, rng.normal(8.0, 2.0, (n_genes, n_samples))):
            f.write(f"{gene}\t{row_fmt % tuple(values)}\n")
    return genes


def best_of(melt) -> tuple[float, int]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    walls, rows = [], 0
    for _ in range(REPEATS):
        seen = Observation()
        t0 = time.perf_counter()
        melt().observe(seen, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
        rows = seen.get["rows"]
    return min(walls), rows


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    if not args or len(args) % 3:
        sys.exit(__doc__)
    from etl_for_all_studies_spark.operators.expression import (
        expression_text_to_long,
        expression_wide_to_long,
    )
    from etl_for_all_studies_spark.session import get_spark
    from etl_for_all_studies_spark.sources.study_io import read_expression_wide

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="bench-melt",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    with tempfile.TemporaryDirectory() as tmp:
        for n_genes, n_samples, n_kept in zip(args[::3], args[1::3], args[2::3]):
            path = pathlib.Path(tmp) / f"expression_{n_genes}x{n_samples}.tsv"
            genes = write_study(path, n_genes, n_samples)
            whitelist = genes[:: max(1, n_genes // n_kept)][:n_kept]
            samples = [f"GSM{j}" for j in range(n_samples)]
            csv_s, csv_rows = best_of(lambda: expression_wide_to_long(
                read_expression_wide(spark, str(path)), samples, "GSEX",
                gene_whitelist=whitelist,
            ))
            text_s, text_rows = best_of(lambda: expression_text_to_long(
                spark, str(path), samples, "GSEX", gene_whitelist=whitelist
            ))
            print(json.dumps({
                "n_genes": n_genes, "n_samples": n_samples, "n_kept": len(whitelist),
                "csv_unpivot_s": round(csv_s, 2), "text_melt_s": round(text_s, 2),
                "csv_rows": csv_rows, "text_rows": text_rows,
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
