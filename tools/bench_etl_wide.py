#!/usr/bin/env python
"""Wide-SAMPLE ETL envelope probe: one study at the reference's stated
sample-count floor — 10,000 samples × 20,000 genes (reference
``docs/genomic-etl-requirements.md:35`` gives 10k-50k samples/study) —
through the full ``run_pipeline``.

This is the COLUMN-COUNT regime the engine's other probes never touch: a
10,001-column CSV read (driver header/schema handling), O-14 pruning over
10k sample columns, and a 10k-value ``unpivot`` whose Expand emits
n_samples output rows per gene row. 2×10⁸ cells scanned; with the wide-
side whitelist prefilter (O-13 before the melt, the reference's own row
order) only kept_genes × n_samples cells reach the Expand.

Prints one JSON line: ETL wall, facts/s, scanned cells/s, peak RSS.

Usage: python tools/bench_etl_wide.py [n_samples] [n_genes]
"""
from __future__ import annotations

import json
import os
import pathlib
import random
import resource
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def build_wide_fixture(
    root: pathlib.Path, n_samples: int, n_genes: int, study: str = "GSE9006",
    seed: int = 42,
) -> None:
    """Same shape as ``tools/bench_etl.build_fixture`` (143-id whitelist,
    120 kept genes, GSE9006-style metadata) but cell values come from a
    1,009-entry pooled string table instead of 2×10⁸ ``random.uniform``
    formats — fixture generation stays minutes-not-hours at 10k columns
    while keeping every cell a valid parseable float."""
    studies = root / "studies"
    d = studies / study
    d.mkdir(parents=True)
    rng = random.Random(seed)
    samples = [f"GSM{rng.randrange(10**9):09d}" for _ in range(n_samples)]
    lines = [
        "refinebio_accession_code\texperiment_accession\trefinebio_age\t"
        "refinebio_sex\tcharacteristics_ch1_Illness\trefinebio_platform"
    ]
    for s in samples:
        lines.append(
            f"{s}\t{study}\t{rng.randint(1, 80)} yrs\t"
            f"{rng.choice(['male', 'female'])}\t"
            f"{rng.choice(['Healthy', 'T1D', 'T2D', 'UNKNOWN'])}\tGPL96"
        )
    (d / f"metadata_{study}.tsv").write_text("\n".join(lines))
    whitelist = [f"ENSG{i:011d}" for i in range(143)]
    (root / "genes.tsv").write_text(
        "gene_symbol\tensembl_id\n"
        + "\n".join(f"G{i}\t{g}" for i, g in enumerate(whitelist))
    )
    genes = whitelist[:120] + [f"ENSGX{i:010d}" for i in range(n_genes - 120)]
    rng.shuffle(genes)
    pool = [f"{rng.uniform(0, 15):.3f}" for _ in range(1009)]  # prime stride
    row_cells = "\t".join(pool[i % 1009] for i in range(n_samples))
    tabs = [i for i, ch in enumerate(row_cells) if ch == "\t"]
    with open(d / f"expression_{study}.tsv", "w") as f:
        f.write("Gene\t" + "\t".join(samples) + "\n")
        for gi, g in enumerate(genes):
            # rotate the pooled row per gene (cell-aligned) so columns
            # aren't constant series
            k = (gi * 37) % n_samples
            if k:
                cut = tabs[k - 1] + 1
                line = row_cells[cut:] + "\t" + row_cells[: cut - 1]
            else:
                line = row_cells
            f.write(g + "\t" + line + "\n")


def main() -> None:
    n_samples = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    n_genes = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000

    from etl_for_all_studies_spark import run_correlation_job, run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict
    from etl_for_all_studies_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))  # local[N], 3g heap, as perfbench
    spark = get_spark(
        app_name="bench-etl-wide",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    root = pathlib.Path(tempfile.mkdtemp(prefix="etl_wide_"))
    try:
        t0 = time.monotonic()
        build_wide_fixture(root, n_samples, n_genes)
        gen_s = time.monotonic() - t0
        tsv_bytes = (
            root / "studies/GSE9006/expression_GSE9006.tsv"
        ).stat().st_size
        cfg = config_from_dict(
            {
                "warehouse": {"path": str(root / "wh")},
                "processing": {
                    "input_directory": str(root / "studies"),
                    "gene_filter_file": str(root / "genes.tsv"),
                },
                "logging": {"log_level": "WARNING"},
            }
        )
        t0 = time.monotonic()
        res = run_pipeline(cfg, spark=spark)
        etl_s = time.monotonic() - t0
        # sample-DEPTH correlation envelope: 120 whitelist-kept genes =
        # 7,140 pairs, each over n_samples shared samples — the per-pair
        # intersection/rank volume axis (pairs x n), complementary to the
        # r8 gene-WIDTH probe (2x10^8 pairs at n=40)
        t0 = time.monotonic()
        corr = run_correlation_job(cfg, spark=spark)
        corr_s = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "n_samples": n_samples,
                    "n_genes": n_genes,
                    "cells": n_samples * n_genes,
                    "tsv_gib": round(tsv_bytes / 1024**3, 2),
                    "fixture_gen_sec": round(gen_s, 1),
                    "etl_sec": round(etl_s, 1),
                    "fact_rows": res.fact_rows_written,
                    "facts_per_sec": round(res.fact_rows_written / etl_s, 1),
                    "scanned_cells_per_sec": round(
                        n_samples * n_genes / etl_s
                    ),
                    "failures": len(res.failures),
                    "corr_pairs": sum(corr.pair_counts.values()),
                    "corr_sec": round(corr_s, 1),
                    "corr_rank_rows": 120 * n_samples,
                    "peak_rss_gib": round(
                        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                        / 1024**2,
                        2,
                    ),
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
