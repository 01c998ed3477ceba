#!/usr/bin/env python
"""ETL benchmark at the reference's own envelope: one GSE9006-shaped study
(163 samples × 20,000 genes wide TSV, 143-id whitelist → 120 kept genes →
19,560 facts; reference anchor: 78 records/s, 4.2 min —
``BASELINE.md``). Prints one JSON line.

Usage: python tools/bench_etl.py [n_samples n_genes]
"""
from __future__ import annotations

import json
import os
import pathlib
import random
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def build_fixture(
    root: pathlib.Path, n_samples: int, n_genes: int, study: str = "GSE9006",
    seed: int = 42,
) -> None:
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
    if not (root / "genes.tsv").exists():
        (root / "genes.tsv").write_text(
            "gene_symbol\tensembl_id\n"
            + "\n".join(f"G{i}\t{g}" for i, g in enumerate(whitelist))
        )
    genes = whitelist[:120] + [f"ENSGX{i:010d}" for i in range(n_genes - 120)]
    rng.shuffle(genes)
    with open(d / f"expression_{study}.tsv", "w") as f:
        f.write("Gene\t" + "\t".join(samples) + "\n")
        for g in genes:
            f.write(
                g + "\t" + "\t".join(f"{rng.uniform(0, 15):.3f}" for _ in samples) + "\n"
            )


def run_etl_bench(spark, n_samples: int = 163, n_genes: int = 20_000) -> dict:
    """Run the GSE9006-shaped ETL + correlation workload on an existing
    session; returns the metrics dict (reused by the repo-root ``bench.py``
    so ``BENCH_r{N}.json`` tracks ETL throughput round-over-round)."""
    import shutil

    from etl_for_all_studies_spark import run_correlation_job, run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict

    root = pathlib.Path(tempfile.mkdtemp(prefix="etl_bench_"))
    try:
        build_fixture(root, n_samples, n_genes)
        # best-of-N (default 2): single-shot timings swing 2-3x with
        # container load (see bench.py). Each repeat loads into a FRESH
        # warehouse — a rerun into the same one would idempotently append
        # zero facts and measure the dedup anti-join instead of the load.
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
        # ADAPTIVE extension (same policy as bench.py's suite loop): when the
        # N repeats still disagree by >2x, the window clearly overlapped a
        # container load spike — take up to max_extra more samples so min()
        # is a believable steady-state, not the least-bad of two noisy shots
        max_extra = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "2"))
        etl_times: list[float] = []
        corr_times: list[float] = []
        res = corr = None
        i = 0
        while i < repeats + max_extra:
            cfg = config_from_dict(
                {
                    "warehouse": {"path": str(root / f"wh{i}")},
                    "processing": {
                        "input_directory": str(root / "studies"),
                        "gene_filter_file": str(root / "genes.tsv"),
                    },
                    "logging": {"log_level": "WARNING"},
                }
            )
            t0 = time.monotonic()
            res = run_pipeline(cfg, spark=spark)
            etl_times.append(time.monotonic() - t0)
            t0 = time.monotonic()
            corr = run_correlation_job(cfg, spark=spark)
            corr_times.append(time.monotonic() - t0)
            i += 1
            if (
                i >= repeats
                and max(etl_times) <= 2.0 * min(etl_times)
                and max(corr_times) <= 2.0 * min(corr_times)
            ):
                break
        etl_s = min(etl_times)
        corr_s = min(corr_times)
        return {
            "metric": "etl_records_per_second",
            "value": round(res.fact_rows_written / etl_s, 1),
            "unit": "records/sec",
            "fact_rows": res.fact_rows_written,
            "etl_sec": round(etl_s, 2),
            "corr_pairs": sum(corr.pair_counts.values()),
            "corr_sec": round(corr_s, 2),
            "n_samples": n_samples,
            "n_genes": n_genes,
            "repeats": len(etl_times),
            "etl_sec_all": [round(t, 2) for t in etl_times],
            "corr_sec_all": [round(t, 2) for t in corr_times],
            "reference_anchor_records_per_second": 78,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_wide_gene_bench(spark, n_genes: int = 2_000, n_samples: int = 8) -> dict:
    """Wide-gene END-TO-END leg: one dense ``n_genes``-gene study
    (``tools/bench_block_pairs.synth_expression``) through
    ``compute_gene_pair_correlations`` — rank kernel, p, BH q — to a noop
    sink. Stored pairs come from an ``Observation`` on the write, so input
    whose pairs are all gated out shows as 0 pairs, not as a fast run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_for_all_studies_spark.plans.correlation import (
        compute_gene_pair_correlations,
    )
    from tools.bench_block_pairs import synth_expression

    e = synth_expression(spark, n_genes, n_samples)
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    times: list[float] = []
    for i in range(repeats):
        obs = Observation(f"wide-gene-stored-{i}")
        t0 = time.monotonic()
        compute_gene_pair_correlations(e, computed_at="fixed").observe(
            obs, F.count(F.lit(1)).alias("rows")
        ).write.format("noop").mode("overwrite").save()
        times.append(time.monotonic() - t0)
        stored = obs.get["rows"]
    e.unpersist()
    best = min(times)
    return {
        "metric": "wide_gene_corr",
        "value": round(best, 2),
        "unit": "sec",
        "n_genes": n_genes,
        "n_samples": n_samples,
        "pair_rows": n_genes * (n_genes - 1) // 2,
        "pairs_stored": stored,
        "pairs_per_second": round(stored / best, 1),
        "repeats": len(times),
        "sec_all": [round(t, 2) for t in times],
    }


def run_multi_study_bench(
    spark, n_studies: int = 20, n_samples: int = 40, n_genes: int = 2_000
) -> dict:
    """Many-small-studies workload: driver-side per-study costs (discovery,
    header resolution, plan construction) must amortize — the reference
    processes studies strictly serially (reference ``pipeline.py``), while
    this engine runs one job over all of them with a single batched
    sample-list collection."""
    import shutil

    from etl_for_all_studies_spark import run_correlation_job, run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict

    root = pathlib.Path(tempfile.mkdtemp(prefix="etl_bench_multi_"))
    try:
        for i in range(n_studies):
            build_fixture(
                root, n_samples, n_genes, study=f"GSE{90000 + i}", seed=100 + i
            )
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
        t0 = time.monotonic()
        corr = run_correlation_job(cfg, spark=spark)
        corr_s = time.monotonic() - t0
        return {
            "metric": "multi_study_etl",
            "n_studies": n_studies,
            "studies_processed": len(res.processed_studies),
            "fact_rows": res.fact_rows_written,
            "etl_sec": round(etl_s, 2),
            "sec_per_study": round(etl_s / n_studies, 2),
            "records_per_second": round(res.fact_rows_written / etl_s, 1),
            "corr_pairs": sum(corr.pair_counts.values()),
            "corr_sec": round(corr_s, 2),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _cores() -> int:
    """CPUs this process may run on: the tool drives ``local[N]`` with a
    3g heap, as ``perfbench`` does."""
    return len(os.sched_getaffinity(0))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "multi":
        from etl_for_all_studies_spark.session import get_spark

        spark = get_spark(
            master=f"local[{_cores()}]",
            shuffle_partitions=_cores(),
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            },
        )
        spark.range(1).count()
        n_studies = int(sys.argv[2]) if len(sys.argv) > 2 else 20
        print(json.dumps(run_multi_study_bench(spark, n_studies)))
        return
    n_samples = int(sys.argv[1]) if len(sys.argv) > 1 else 163
    n_genes = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000

    from etl_for_all_studies_spark.session import get_spark

    spark = get_spark(
        master=f"local[{_cores()}]",
        shuffle_partitions=_cores(),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    spark.range(1).count()
    print(json.dumps(run_etl_bench(spark, n_samples, n_genes)))


if __name__ == "__main__":
    main()
