"""The benchmark's workloads: inputs, one operation, and its output checks.

Each workload is a closed loop of one client: the next operation starts
only after the previous one returned. ``generate`` writes the seeded inputs
(not part of set-up time); ``preload`` fills any warehouse the operation
reads; ``run_op`` is the timed operation; ``check`` compares its outputs
with the generator's expectation and returns the list of mismatches.
"""
from __future__ import annotations

import dataclasses
import functools
import math
import pathlib
import shutil

from . import gen, reference

TOLERANCE = 1e-6  # outputs are compared on the 1e-6 grid


@dataclasses.dataclass
class OpResult:
    units: int                 # work done: fact rows or gene pairs
    stored_bytes: int          # on-disk bytes the op leaves behind
    quarantined: int           # studies the pipeline quarantined
    warehouse: pathlib.Path


def file_sizes(path: pathlib.Path) -> dict[str, int]:
    """Every file under ``path`` with its size in bytes."""
    if not path.exists():
        return {}
    return {str(p): p.stat().st_size for p in path.rglob("*") if p.is_file()}


def dir_bytes(path: pathlib.Path) -> int:
    return sum(file_sizes(path).values())


def _config(studies: gen.StudySet, warehouse: pathlib.Path):
    from etl_for_all_studies_spark.config import config_from_dict

    return config_from_dict(
        {
            "warehouse": {"path": str(warehouse)},
            "processing": {
                "input_directory": str(studies.root / "studies"),
                "gene_filter_file": str(studies.root / "genes.tsv"),
            },
            "logging": {
                "log_level": "WARNING",
                "log_processing_time": False,
                "log_record_counts": False,
                "log_data_quality": False,
            },
        }
    )


def _run_pipeline(cfg, spark):
    # looked up at call time, so a traced run reaches the patched entry
    from etl_for_all_studies_spark.plans import pipeline

    return pipeline.run_pipeline(cfg, spark=spark)


def _run_correlation_job(cfg, spark):
    from etl_for_all_studies_spark.plans import correlation_job

    return correlation_job.run_correlation_job(cfg, spark=spark)


class StudyWorkload:
    """Shared machinery of the study workloads: generated TSV studies, the
    NumPy correlation reference and the warehouse checks."""

    name = ""
    unit = ""
    sizes: dict = {}
    warmup_ops = 1  # untimed ops in set-up, so timed ops see a warm JIT

    def __init__(self, seed: int, work: pathlib.Path, sizes: dict | None = None):
        self.seed = seed
        self.work = work
        self.sizes = dict(sizes or type(self).sizes)
        self.studies: gen.StudySet | None = None
        self.expected_corr: dict[str, dict] = {}

    def generate(self) -> None:
        self.studies = gen.write_studies(self.work / "inputs", self.seed, **self.sizes)
        self.expected_corr = {
            s.accession: reference.study_correlations(s.genes, s.matrix)
            for s in self.studies.studies
        }

    @property
    def expected_pairs(self) -> int:
        return sum(len(v) for v in self.expected_corr.values())

    def describe(self) -> dict:
        return {
            **self.sizes,
            "work_unit": self.unit,
            "fact_rows": self.studies.fact_rows,
            "gene_pairs": self.expected_pairs,
            "empty_cell_share": round(self.studies.empty_share, 4),
        }

    def check_correlations(self, spark, warehouse: pathlib.Path, pair_counts) -> list[str]:
        from etl_for_all_studies_spark.sources.warehouse import Warehouse

        errors = []
        found = dict(pair_counts)
        for acc, exp in self.expected_corr.items():
            if found.get(acc) != len(exp):
                errors.append(f"{acc}: {found.get(acc)} pairs, expected {len(exp)}")
        wh = Warehouse(spark, str(warehouse))
        genes = wh.read("dim_gene")
        rows = (
            wh.read("fact_gene_pair_corr")
            .join(wh.read("dim_study"), "study_key")
            .join(genes.selectExpr("gene_key AS gene_a_key", "ensembl_id AS ga"), "gene_a_key")
            .join(genes.selectExpr("gene_key AS gene_b_key", "ensembl_id AS gb"), "gene_b_key")
            .select("gse_accession", "ga", "gb", "rho_spearman", "p_value", "q_value", "n_samples")
            .collect()
        )
        seen = 0
        for acc, ga, gb, rho, p, q, n in rows:
            exp = self.expected_corr.get(acc, {}).get((ga, gb))
            if exp is None:
                errors.append(f"{acc} {ga}-{gb}: unexpected pair")
                continue
            seen += 1
            e_rho, e_p, e_q, e_n = exp
            if n != e_n or not _close(rho, e_rho) or not _close(p, e_p) or not _close(q, e_q):
                errors.append(
                    f"{acc} {ga}-{gb}: got rho={rho} p={p} q={q} n={n}, "
                    f"expected rho={e_rho} p={e_p} q={e_q} n={e_n}"
                )
        if seen != self.expected_pairs:
            errors.append(f"{seen} stored pairs, expected {self.expected_pairs}")
        return errors[:20]


def _close(got, want) -> bool:
    if want is None or got is None:
        return want is None and got is None
    return math.isfinite(got) and abs(got - want) <= TOLERANCE


class EtlLoad(StudyWorkload):
    """``run_pipeline`` into a fresh warehouse, then ``run_correlation_job``:
    the reference's two entry points on wide studies where the whitelist
    keeps well under 1% of the gene rows."""

    name = "etl_load"
    unit = "fact_rows"
    sizes = {
        "n_studies": 4,
        "n_samples": 100,
        "n_genes": 4_000,
        "n_kept": 28,
        "n_whitelist": 32,
    }

    def preload(self, spark) -> None:
        self._seq = 0

    def run_op(self, spark) -> OpResult:
        self._seq += 1
        warehouse = self.work / f"warehouse-{self._seq}"
        cfg = _config(self.studies, warehouse)
        res = _run_pipeline(cfg, spark)
        corr = _run_correlation_job(cfg, spark)
        self._last = (res, corr)
        return OpResult(
            units=res.fact_rows_written,
            stored_bytes=dir_bytes(warehouse),
            quarantined=len(res.failures),
            warehouse=warehouse,
        )

    def check(self, spark, result: OpResult) -> list[str]:
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from etl_for_all_studies_spark.sources.warehouse import Warehouse

        res, corr = self._last
        errors = [f"quarantined {f.study_dir}: {f.error}" for f in res.failures]
        wh = Warehouse(spark, str(result.warehouse))
        expected = gen.expected_dim_counts(self.studies)
        tables = [wh.read(t).select(F.lit(t).alias("t")) for t in expected]
        got = dict(functools.reduce(DataFrame.unionByName, tables).groupBy("t").count().collect())
        for table, want in expected.items():
            if got.get(table, 0) != want:
                errors.append(f"{table}: {got.get(table, 0)} rows, expected {want}")
        if res.fact_rows_written != self.studies.fact_rows:
            errors.append(
                f"fact rows written {res.fact_rows_written}, expected {self.studies.fact_rows}"
            )
        errors += self.check_correlations(spark, result.warehouse, corr.pair_counts)
        return errors

    def cleanup(self, result: OpResult) -> None:
        shutil.rmtree(result.warehouse, ignore_errors=True)


class CorrRagged(StudyWorkload):
    """``run_correlation_job`` over pre-loaded ragged studies: every study
    has empty whitelisted cells, so the router sends all of them to the
    exact per-pair route and its pair-expanded rank windows."""

    name = "corr_ragged"
    unit = "gene_pairs"
    # the op is short; its second run is still ~25% slower than steady state
    warmup_ops = 2
    sizes = {
        "n_studies": 4,
        "n_samples": 60,
        "n_genes": 120,
        "n_kept": 120,
        "n_whitelist": 120,
        "empty_frac": 0.1,
    }

    def preload(self, spark) -> None:
        self.warehouse = self.work / "warehouse"
        self.cfg = _config(self.studies, self.warehouse)
        res = _run_pipeline(self.cfg, spark)
        if res.failures or res.fact_rows_written != self.studies.fact_rows:
            raise RuntimeError(f"pre-load failed: {res.failures}")

    def run_op(self, spark) -> OpResult:
        corr = _run_correlation_job(self.cfg, spark)
        self._last = corr
        return OpResult(
            units=sum(corr.pair_counts.values()),
            stored_bytes=dir_bytes(self.warehouse / "fact_gene_pair_corr"),
            quarantined=0,
            warehouse=self.warehouse,
        )

    def check(self, spark, result: OpResult) -> list[str]:
        return self.check_correlations(spark, self.warehouse, self._last.pair_counts)

    def cleanup(self, result: OpResult) -> None:
        pass


WORKLOADS = {w.name: w for w in (EtlLoad, CorrRagged)}

