"""Dimension key assignment — scale-path evidence for dim_sample.

The reference assigns sample keys via per-row get-or-create against an
in-memory cache (``src/etl_for_all_studies/repositories.py:30-185``); the
Spark build must produce the same dense deterministic keys WITHOUT a global
single-partition sort, because dim_sample grows with the corpus
(10k-50k samples/study × many studies).
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from dim_keys_reference import assign_surrogate_keys
from etl_for_all_studies_spark.operators.dims import (
    _assign_sample_keys,
    build_dim_sample,
    key_small_dim,
)
from etl_for_all_studies_spark.schemas import DIM_ILLNESS

# novel labels mixing ASCII, Latin-1, CJK and one astral-plane character:
# U+FF61 sorts before U+1F600 by code point (Spark's UTF-8 binary order) but
# after it in UTF-16 order, so a UTF-16 comparison would misorder them
_LABELS = ["b", "a", "É", "e", "ß", "日本", "\uff61", "\U0001f600", "Z", "a", None]


@pytest.mark.parametrize(
    "existing_rows",
    [None, [], [(1, "e"), (5, "m")], [(3, "\U0001f600"), (2, "Zz")]],
    ids=["first-build", "empty", "existing-with-gap", "existing-non-ascii"],
)
def test_driver_keys_equal_window_form(spark, existing_rows):
    """Driver key assignment equals the retired Spark-window form: existing
    rows keep their keys, novel labels follow from ``max(existing)+1`` in
    code-point order."""
    existing = (
        None
        if existing_rows is None
        else spark.createDataFrame(existing_rows, DIM_ILLNESS)
    )
    got = key_small_dim(spark, DIM_ILLNESS, existing, _LABELS)
    natural = spark.createDataFrame([(v,) for v in _LABELS], "illness_label string")
    want = assign_surrogate_keys(existing, natural, "illness_key", ["illness_label"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.schema == DIM_ILLNESS
    assert "LocalRelation" in got._jdf.queryExecution().optimizedPlan().toString()


def _incoming(spark, n_studies=5, per_study=40):
    rows = [
        (f"GSM{s:02d}_{i:03d}", s + 1, None, None, "UNKNOWN", "UNKNOWN")
        for s in range(n_studies)
        for i in range(per_study)
    ]
    return spark.createDataFrame(
        rows,
        "gsm_accession string, study_key long, platform_key long, "
        "illness_key long, age string, sex string",
    )


def test_per_study_keys_equal_global_sort(spark):
    """Per-study numbering + offsets must equal rank by (study, gsm)."""
    inc = _incoming(spark)
    got = {
        r["gsm_accession"]: r["sample_key"]
        for r in _assign_sample_keys(inc, 100).collect()
    }
    w = Window.orderBy("study_key", "gsm_accession")
    exp = {
        r["gsm_accession"]: r["sample_key"]
        for r in inc.withColumn(
            "sample_key", (F.row_number().over(w) + F.lit(100)).cast("long")
        ).collect()
    }
    assert got == exp
    assert sorted(got.values()) == list(range(101, 301))  # dense, offset by base


def test_sample_key_window_is_study_partitioned(spark):
    """Plan evidence: the row_number over samples is partitioned by
    study_key — the only single-partition window runs over the per-study
    counts aggregate (one row per study), never the samples."""
    inc = _incoming(spark)
    plan = _assign_sample_keys(inc, 0)._jdf.queryExecution().executedPlan().toString()
    saw_window = False
    for line in plan.splitlines():
        if "row_number()" in line:
            saw_window = True
            assert "study_key" in line, f"sample window not study-partitioned: {line}"
    assert saw_window


def test_build_dim_sample_first_build_dense_keys(spark):
    meta = spark.createDataFrame(
        [
            ("GSM1", "GSE1", "diabetes", "GPL1", "4", "f"),
            ("GSM2", "GSE1", "UNKNOWN", "UNKNOWN", "UNKNOWN", "m"),
            ("GSM3", "GSE2", "healthy", "GPL2", "7", "UNKNOWN"),
        ],
        "gsm_accession string, gse_accession string, illness string, "
        "platform string, age string, sex string",
    )
    dim_study = spark.createDataFrame(
        [(1, "GSE1"), (2, "GSE2")], "study_key long, gse_accession string"
    )
    dim_ill = spark.createDataFrame(
        [(1, "diabetes"), (2, "healthy")], "illness_key long, illness_label string"
    )
    dim_plat = spark.createDataFrame(
        [(1, "GPL1"), (2, "GPL2")], "platform_key long, platform_accession string"
    )
    out = {
        r["gsm_accession"]: r.asDict()
        for r in build_dim_sample(None, meta, dim_study, dim_ill, dim_plat).collect()
    }
    assert [out[g]["sample_key"] for g in ("GSM1", "GSM2", "GSM3")] == [1, 2, 3]
    assert out["GSM2"]["illness_key"] is None  # UNKNOWN -> NULL FK (O-17)
    assert out["GSM3"]["platform_key"] == 2


def _enrich_oracle(old, new):
    """Reference O-47 rule (``repositories.py:188-229``), in plain Python:
    a known existing value is never downgraded; UNKNOWN/NULL is filled from
    the incoming row; both-absent stays UNKNOWN."""
    if old is not None and old != "UNKNOWN":
        return old
    if new is not None and new != "UNKNOWN":
        return new
    return old if old is not None else "UNKNOWN"


def test_enrichment_property_matrix(spark):
    """O-47 never-downgrade, swept over the full UNKNOWN/NULL/value×value
    matrix for BOTH string attrs in one build — each (old,new) combination
    is its own sample row, checked against the Python oracle."""
    domain = [None, "UNKNOWN", "f", "m"]
    combos = [(o, n) for o in domain for n in domain]
    existing = spark.createDataFrame(
        [
            (i + 1, f"GSM{i:02d}", 1, None, None, old, old)
            for i, (old, _) in enumerate(combos)
        ],
        "sample_key long, gsm_accession string, study_key long, "
        "platform_key long, illness_key long, age string, sex string",
    )
    meta = spark.createDataFrame(
        [
            (f"GSM{i:02d}", "GSE1", "UNKNOWN", "UNKNOWN", new, new)
            for i, (_, new) in enumerate(combos)
        ],
        "gsm_accession string, gse_accession string, illness string, "
        "platform string, age string, sex string",
    )
    dim_study = spark.createDataFrame(
        [(1, "GSE1")], "study_key long, gse_accession string"
    )
    empty_ill = spark.createDataFrame([], "illness_key long, illness_label string")
    empty_plat = spark.createDataFrame([], "platform_key long, platform_accession string")
    out = {
        r["gsm_accession"]: r.asDict()
        for r in build_dim_sample(existing, meta, dim_study, empty_ill, empty_plat).collect()
    }
    assert len(out) == len(combos)
    for i, (old, new) in enumerate(combos):
        row = out[f"GSM{i:02d}"]
        assert row["sample_key"] == i + 1, "existing key must be preserved"
        want = _enrich_oracle(old, new)
        assert row["sex"] == want, f"sex: old={old!r} new={new!r}"
        assert row["age"] == want, f"age: old={old!r} new={new!r}"
