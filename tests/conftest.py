import os
import sys
import pathlib

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

# spark.driver.memory is a STATIC conf: the builder setting below is only
# honored when the fixture launches the process's first JVM. Set it via
# PYSPARK_SUBMIT_ARGS at conftest import (before any plugin can start a
# JVM) so whichever code path launches first gets the 8g heap (ADVICE r7).
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-memory 8g pyspark-shell"
)


@pytest.fixture(scope="session")
def spark():
    from etl_for_all_studies_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": "/tmp/spark-wh-tests",
            # the suite shares one JVM across ~260 tests and hundreds of
            # broadcast joins; at the 1g default the driver flakily fails
            # late tests with "Not enough memory to build and broadcast"
            "spark.driver.memory": "8g",
        },
    )
    # fail LOUDLY if the heap request was silently ignored (a pre-existing
    # JVM, or someone overriding PYSPARK_SUBMIT_ARGS): the broadcast-OOM
    # flake this guards against only shows up dozens of tests later
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap >= 6 * 1024**3, (
        f"test JVM heap is {max_heap / 1024**3:.1f} GiB, expected ~8 GiB — "
        "a SparkSession was created before the conftest fixture could set "
        "spark.driver.memory (see tests/conftest.py PYSPARK_SUBMIT_ARGS)"
    )
    yield spark


@pytest.fixture()
def conf_writes(monkeypatch):
    """Records every ``RuntimeConfig.set``/``unset`` call made while the
    test runs (the calls still go through). Operators must leave session
    conf alone, so tests assert this stays empty around an operator call."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    orig_set, orig_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        calls.append(("set", key, value))
        return orig_set(self, key, value)

    def spy_unset(self, key):
        calls.append(("unset", key))
        return orig_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    return calls


@pytest.fixture()
def study_tree(tmp_path):
    """Canonical fixture study (FIXTURES.md F1-F4)."""
    studies = tmp_path / "studies"
    d = studies / "GSE1"
    d.mkdir(parents=True)
    (d / "metadata_GSE1.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\trefinebio_age\t"
        "characteristics_ch1_Age\trefinebio_sex\tcharacteristics_ch2_illness\trefinebio_platform\n"
        "S1\tGSE1\t16\t16 yrs\tfemale\tHealthy\tGPL96\n"
        "S2\tGSE1\t\t17 yrs\tfemale\tDiabetes\tGPL96\n"
        "S3\tGSEOTHER\t25\t\tmale\tUNKNOWN\t\n"
        "\tGSE1\t9\t\tmale\tX\tY\n"
    )
    (d / "expression_GSE1.tsv").write_text(
        "Gene\tS1\tS2\tS3\tS9\n"
        "ENSG01\t1.0\t2.0\t3.0\t9.9\n"
        "ENSG02\t1.0\t1.5\t2.0\t9.9\n"
        "ENSG03\t3.0\t2.0\t1.0\t9.9\n"
        "ENSGXX\t5.0\t5.0\t5.0\t9.9\n"
        "ENSG04\tNA\t4.0\t5.0\t9.9\n"
    )
    genes = tmp_path / "genes.tsv"
    genes.write_text(
        "gene_symbol\tensembl_id\nA\tENSG01\nB\tENSG02\nC\tENSG03\nD\tENSG04\n"
    )
    return {"studies": studies, "genes": genes, "root": tmp_path}


@pytest.fixture()
def app_config(study_tree):
    from etl_for_all_studies_spark.config import config_from_dict

    return config_from_dict(
        {
            "warehouse": {"path": str(study_tree["root"] / "wh")},
            "processing": {
                "input_directory": str(study_tree["studies"]),
                "gene_filter_file": str(study_tree["genes"]),
            },
            "logging": {"log_level": "WARNING"},
            "spark": {"master": "local[4]", "shuffle_partitions": 4},
        }
    )
