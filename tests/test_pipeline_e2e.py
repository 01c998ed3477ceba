"""End-to-end warehouse tests (reference shape: ``tests/test_pipeline.py`` +
``tests/test_correlation_job.py``)."""
import pathlib

import pytest

from etl_for_all_studies_spark import run_correlation_job, run_pipeline
from etl_for_all_studies_spark.sources.discovery import (
    StudyDiscoveryError,
    discover_study_files,
)


def test_discovery_fallback_naming(tmp_path):
    d = tmp_path / "GSE11907"
    d.mkdir()
    (d / "metadata_GSE11907.tsv").write_text("x\n")
    (d / "GSE11907.tsv").write_text("x\n")  # no expression_ prefix
    files = discover_study_files(d)
    assert files.accession == "GSE11907"
    assert files.expression_path.name == "GSE11907.tsv"


def test_discovery_prefers_exact_expression_name(tmp_path):
    d = tmp_path / "GSE1"
    d.mkdir()
    (d / "metadata_GSE1.tsv").write_text("x\n")
    (d / "expression_GSE1.tsv").write_text("x\n")
    (d / "expression_aaa.tsv").write_text("x\n")
    assert discover_study_files(d).expression_path.name == "expression_GSE1.tsv"


def test_discovery_missing_metadata_raises(tmp_path):
    d = tmp_path / "GSEX"
    d.mkdir()
    with pytest.raises(StudyDiscoveryError):
        discover_study_files(d)


def test_pipeline_end_to_end(spark, app_config):
    result = run_pipeline(app_config, spark=spark)
    assert result.processed_studies == ["GSE1"]
    assert result.fact_rows_written == 11
    wh = pathlib.Path(str(app_config.warehouse.path))

    dim_sample = spark.read.parquet(str(wh / "dim_sample"))
    rows = {r["gsm_accession"]: r.asDict() for r in dim_sample.collect()}
    assert set(rows) == {"S1", "S2", "S3"}
    # UNKNOWN platform/illness -> NULL FK (O-17); no UNKNOWN dim rows
    assert rows["S3"]["platform_key"] is None and rows["S3"]["illness_key"] is None
    dim_illness = spark.read.parquet(str(wh / "dim_illness"))
    assert {r["illness_label"] for r in dim_illness.collect()} == {"Healthy", "Diabetes"}

    # deterministic surrogate keys: ordered by natural key
    dim_gene = spark.read.parquet(str(wh / "dim_gene"))
    genes = {r["ensembl_id"]: r["gene_key"] for r in dim_gene.collect()}
    assert genes == {"ENSG01": 1, "ENSG02": 2, "ENSG03": 3, "ENSG04": 4}

    # rerun: idempotent, zero new facts, dims unchanged (O-16, SURVEY §7.4.4)
    result2 = run_pipeline(app_config, spark=spark)
    assert result2.fact_rows_written == 0
    genes2 = {
        r["ensembl_id"]: r["gene_key"]
        for r in spark.read.parquet(str(wh / "dim_gene")).collect()
    }
    assert genes2 == genes


def test_correlation_job_end_to_end(spark, app_config):
    run_pipeline(app_config, spark=spark)
    res = run_correlation_job(app_config, spark=spark)
    assert res.studies_processed == ["GSE1"]
    assert res.pair_counts == {"GSE1": 6}
    wh = pathlib.Path(str(app_config.warehouse.path))
    corr = spark.read.parquet(str(wh / "fact_gene_pair_corr"))
    rows = {(r["gene_a_key"], r["gene_b_key"]): r.asDict() for r in corr.collect()}
    assert all(a < b for a, b in rows)
    # refresh replaces stale rows (delete-then-replace semantics, O-9b)
    res2 = run_correlation_job(spark=spark, config=app_config)
    corr2 = spark.read.parquet(str(wh / "fact_gene_pair_corr"))
    assert corr2.count() == len(rows)
    # requested-but-missing study warns and is reported (O-26)
    res3 = run_correlation_job(app_config, accessions=["GSE1", "GSE_NOPE"], spark=spark)
    assert res3.studies_missing == ["GSE_NOPE"]
    assert res3.studies_processed == ["GSE1"]


def test_correlation_job_collects_targets_once(spark, app_config, monkeypatch):
    """With ``accessions`` the job resolves found and missing studies from
    ONE collect of the target list, and that is its only collect: the
    per-study pair counts are observed on the write."""
    import sys

    run_pipeline(app_config, spark=spark)
    DataFrame = type(spark.range(1))  # the concrete class that defines collect
    calls = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        calls.append(sys._getframe(1).f_code.co_name)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    res = run_correlation_job(app_config, accessions=["GSE_NOPE", "GSE1"], spark=spark)
    assert res.studies_missing == ["GSE_NOPE"]
    assert res.studies_processed == ["GSE1"]
    assert res.pair_counts == {"GSE1": 6}
    assert calls.count("run_correlation_job") == 1


def test_pipeline_job_budget(spark, app_config):
    """``run_pipeline`` on the fixture launches an exact number of Spark
    jobs, counted by job group: the whitelist collect, one metadata collect,
    one gene-key collect, one write per dim and the fact write. TSV scans
    declare their schema, so no CSV header-inference job runs, and the
    small dims' keys and the whitelist are constant lookups, so no job
    broadcasts them."""
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-budget", "run_pipeline on a fresh warehouse")
    try:
        run_pipeline(app_config, spark=spark)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("pipeline-budget")
    stages = [
        tracker.getStageInfo(s)
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    header_jobs = [s.name for s in stages if s is not None and s.name.startswith("csv at")]
    assert header_jobs == []
    assert len(jobs) == 20


def test_phase3_quarantine_leaves_no_trace_in_dims(spark, app_config, study_tree):
    """A study whose expression header shares no sample with its metadata
    is quarantined after the metadata collect: none of its labels, samples
    or DQ rows reach the warehouse or the result."""
    bad = study_tree["studies"] / "GSE2"
    bad.mkdir()
    (bad / "metadata_GSE2.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\tcharacteristics_ch2_illness\t"
        "refinebio_platform\nB1\tGSE2\tAsthma\tGPL570\n"
    )
    (bad / "expression_GSE2.tsv").write_text("Gene\tZ1\nENSG01\t1.0\n")
    res = run_pipeline(app_config, spark=spark)
    assert res.processed_studies == ["GSE1"]
    assert [f.study_dir for f in res.failures] == [str(bad)]
    assert [q["gse_accession"] for q in res.quality] == ["GSE1"]
    wh = pathlib.Path(str(app_config.warehouse.path))

    def col(table, name):
        return sorted(r[name] for r in spark.read.parquet(str(wh / table)).collect())

    assert col("dim_study", "gse_accession") == ["GSE1"]
    assert col("dim_illness", "illness_label") == ["Diabetes", "Healthy"]
    assert col("dim_platform", "platform_accession") == ["GPL96"]
    assert col("dim_sample", "gsm_accession") == ["S1", "S2", "S3"]


def test_incremental_study_load_preserves_keys(spark, tmp_path):
    """Adding a NEW study later must not renumber existing dims/facts, and
    cross-study dims (genes, platforms) must be shared, not duplicated."""
    from etl_for_all_studies_spark.config import config_from_dict

    studies = tmp_path / "studies"
    genes = tmp_path / "genes.tsv"
    genes.write_text("ensembl_id\nENSG01\nENSG02\nENSG03\n")

    def write_study(acc, sample_prefix, gene_ids):
        d = studies / acc
        d.mkdir(parents=True)
        (d / f"metadata_{acc}.tsv").write_text(
            "refinebio_accession_code\texperiment_accession\trefinebio_platform\n"
            + "".join(f"{sample_prefix}{i}\t{acc}\tGPL96\n" for i in range(3))
        )
        header = "Gene\t" + "\t".join(f"{sample_prefix}{i}" for i in range(3))
        rows = "".join(
            f"{g}\t" + "\t".join(str(float(j + i)) for i in range(3)) + "\n"
            for j, g in enumerate(gene_ids)
        )
        (d / f"expression_{acc}.tsv").write_text(header + "\n" + rows)

    write_study("GSE_A", "A", ["ENSG01", "ENSG02"])
    cfg = config_from_dict(
        {
            "warehouse": {"path": str(tmp_path / "wh")},
            "processing": {
                "input_directory": str(studies),
                "gene_filter_file": str(genes),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    run_pipeline(cfg, spark=spark)
    wh = tmp_path / "wh"
    genes_before = {
        r["ensembl_id"]: r["gene_key"]
        for r in spark.read.parquet(str(wh / "dim_gene")).collect()
    }
    samples_before = {
        r["gsm_accession"]: r["sample_key"]
        for r in spark.read.parquet(str(wh / "dim_sample")).collect()
    }

    # second run adds a study sharing ENSG02 and introducing ENSG03
    write_study("GSE_B", "B", ["ENSG02", "ENSG03"])
    result = run_pipeline(cfg, spark=spark)
    assert sorted(result.processed_studies) == ["GSE_A", "GSE_B"]
    assert result.fact_rows_written == 6  # only GSE_B's 2 genes x 3 samples

    genes_after = {
        r["ensembl_id"]: r["gene_key"]
        for r in spark.read.parquet(str(wh / "dim_gene")).collect()
    }
    # existing keys untouched; novel gene appended after the old max
    assert {k: genes_after[k] for k in genes_before} == genes_before
    assert genes_after["ENSG03"] == max(genes_before.values()) + 1
    samples_after = {
        r["gsm_accession"]: r["sample_key"]
        for r in spark.read.parquet(str(wh / "dim_sample")).collect()
    }
    assert {k: samples_after[k] for k in samples_before} == samples_before
    assert len(samples_after) == 6
    # shared platform dim stays a single row
    assert spark.read.parquet(str(wh / "dim_platform")).count() == 1
    # fact integrity: every fact joins to exactly one dim_sample/dim_gene row
    facts = spark.read.parquet(str(wh / "fact_expression"))
    assert facts.count() == 12
    dim_sample = spark.read.parquet(str(wh / "dim_sample"))
    assert facts.join(dim_sample, on=["sample_key", "study_key"]).count() == 12


def test_enrichment_on_rerun(spark, tmp_path):
    """O-47: UNKNOWN attributes are filled on re-run, never downgraded."""
    from etl_for_all_studies_spark.config import config_from_dict

    studies = tmp_path / "studies"
    d = studies / "GSE9"
    d.mkdir(parents=True)
    genes = tmp_path / "genes.tsv"
    genes.write_text("ensembl_id\nENSG01\nENSG02\n")
    expr = "Gene\tS1\tS2\nENSG01\t1.0\t2.0\nENSG02\t2.0\t1.0\n"
    (d / "expression_GSE9.tsv").write_text(expr)
    cfg = config_from_dict(
        {
            "warehouse": {"path": str(tmp_path / "wh")},
            "processing": {
                "input_directory": str(studies),
                "gene_filter_file": str(genes),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    # first run: sex unknown
    (d / "metadata_GSE9.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\trefinebio_sex\n"
        "S1\tGSE9\t\nS2\tGSE9\tmale\n"
    )
    run_pipeline(cfg, spark=spark)
    # second run: S1 now has sex; S2 attempts downgrade to blank
    (d / "metadata_GSE9.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\trefinebio_sex\n"
        "S1\tGSE9\tfemale\nS2\tGSE9\t\n"
    )
    run_pipeline(cfg, spark=spark)
    dim_sample = spark.read.parquet(str(tmp_path / "wh" / "dim_sample"))
    rows = {r["gsm_accession"]: r.asDict() for r in dim_sample.collect()}
    assert rows["S1"]["sex"] == "female"  # enriched
    assert rows["S2"]["sex"] == "male"  # never downgraded


def test_dense_and_ragged_studies_share_the_kernel_in_e2e_job(spark, tmp_path):
    """The genomic e2e path (TSV -> star schema -> correlation job) runs a
    dense and a ragged study through the one rank kernel and stores every
    pair of both.

    The unit tests pin the kernel on synthetic frames; this test pins that
    the JOB feeds it an expression frame that still carries both studies
    after TSV parsing, whitelisting, star-join and key lookup — the
    integration surface the fixtures never exercised.
    """
    from etl_for_all_studies_spark.config import config_from_dict

    studies = tmp_path / "studies"
    genes_f = tmp_path / "genes.tsv"

    # dense study: 5 genes x 6 samples, every cell present, varied values
    d = studies / "GSE_DENSE"
    d.mkdir(parents=True)
    samples = [f"D{i}" for i in range(6)]
    (d / "metadata_GSE_DENSE.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\trefinebio_platform\n"
        + "".join(f"{s}\tGSE_DENSE\tGPL96\n" for s in samples)
    )
    gene_ids = [f"ENSG0{j}" for j in range(1, 6)]
    rows = "".join(
        g + "\t" + "\t".join(
            str(float((j * 7 + i * 3 + (i * j) % 5) % 11)) for i in range(6)
        ) + "\n"
        for j, g in enumerate(gene_ids)
    )
    (d / "expression_GSE_DENSE.tsv").write_text(
        "Gene\t" + "\t".join(samples) + "\n" + rows
    )

    # ragged study: one gene misses a sample
    r = studies / "GSE_RAGGED"
    r.mkdir(parents=True)
    (r / "metadata_GSE_RAGGED.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\trefinebio_platform\n"
        "R0\tGSE_RAGGED\tGPL96\nR1\tGSE_RAGGED\tGPL96\nR2\tGSE_RAGGED\tGPL96\n"
    )
    (r / "expression_GSE_RAGGED.tsv").write_text(
        "Gene\tR0\tR1\tR2\n"
        "ENSG01\t1.0\t2.0\t3.0\n"
        "ENSG02\t4.0\tNA\t2.0\n"   # NA cell -> dropped row -> ragged
        "ENSG03\t2.0\t1.0\t5.0\n"
    )
    genes_f.write_text("ensembl_id\n" + "\n".join(gene_ids) + "\n")

    cfg = config_from_dict(
        {
            "warehouse": {"path": str(tmp_path / "wh")},
            "processing": {
                "input_directory": str(studies),
                "gene_filter_file": str(genes_f),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    run_pipeline(cfg, spark=spark)

    res = run_correlation_job(cfg, spark=spark)
    assert res.studies_processed == ["GSE_DENSE", "GSE_RAGGED"]
    # the dense study contributes C(5,2)=10 pairs, the ragged one C(3,2)=3
    assert res.pair_counts == {"GSE_DENSE": 10, "GSE_RAGGED": 3}
    stored = spark.read.parquet(str(tmp_path / "wh" / "fact_gene_pair_corr"))
    assert stored.count() == 13
