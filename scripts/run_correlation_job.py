#!/usr/bin/env python
"""CLI entry point #2: correlation refresh (mirrors reference
``scripts/run_correlation_job.py`` — ``--config`` + repeatable ``--study``)."""
from __future__ import annotations

import argparse
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description="Refresh gene-pair correlations (Spark). Each study's "
        "physical plan (the per-study rank kernel, or block-bucketed for wide "
        "dense studies) is picked from its matrix shape; results are identical "
        "on every plan."
    )
    parser.add_argument("--config", required=True, help="Path to YAML config file")
    parser.add_argument(
        "--study",
        action="append",
        default=None,
        help="Restrict to this study accession (repeatable)",
    )
    parser.add_argument(
        "--pvalue-dist",
        choices=["normal", "t"],
        default="normal",
        help="p-value distribution: normal approximation (reference fallback) "
        "or exact Student-t (SciPy-primary semantics)",
    )
    args = parser.parse_args(argv)

    from etl_for_all_studies_spark import load_config, run_correlation_job

    config = load_config(args.config)
    from etl_for_all_studies_spark.logging_utils import configure_logging

    configure_logging(config)
    result = run_correlation_job(
        config, accessions=args.study, pvalue_dist=args.pvalue_dist
    )
    total = sum(result.pair_counts.values())
    print(
        f"studies={len(result.studies_processed)} missing={len(result.studies_missing)} "
        f"pairs={total} elapsed={result.elapsed_seconds:.1f}s"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
