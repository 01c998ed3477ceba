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
            ("GSM4", "GSE9", "healthy", "GPL2", "7", "f"),  # study without a key
        ],
        "gsm_accession string, gse_accession string, illness string, "
        "platform string, age string, sex string",
    )
    study_keys = {"GSE1": 1, "GSE2": 2}
    illness_keys = {"diabetes": 1, "healthy": 2}
    platform_keys = {"GPL1": 1, "GPL2": 2}
    out = {
        r["gsm_accession"]: r.asDict()
        for r in build_dim_sample(
            None, meta, study_keys, illness_keys, platform_keys
        ).collect()
    }
    assert [out[g]["sample_key"] for g in ("GSM1", "GSM2", "GSM3")] == [1, 2, 3]
    assert "GSM4" not in out  # dropped, as the inner join with dim_study did
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
    out = {
        r["gsm_accession"]: r.asDict()
        for r in build_dim_sample(existing, meta, {"GSE1": 1}, {}, {}).collect()
    }
    assert len(out) == len(combos)
    for i, (old, new) in enumerate(combos):
        row = out[f"GSM{i:02d}"]
        assert row["sample_key"] == i + 1, "existing key must be preserved"
        want = _enrich_oracle(old, new)
        assert row["sex"] == want, f"sex: old={old!r} new={new!r}"
        assert row["age"] == want, f"age: old={old!r} new={new!r}"


def _py4j_calls(spark, monkeypatch) -> list:
    """Every command the driver sends the JVM from here on, but the
    releases of garbage-collected Java references (py4j's ``m`` commands),
    which come whenever Python collects."""
    client = spark.sparkContext._gateway._gateway_client
    calls, real = [], client.send_command

    def send(cmd, *a, **k):
        if not cmd.startswith("m\n"):
            calls.append(cmd)
        return real(cmd, *a, **k)

    monkeypatch.setattr(client, "send_command", send)
    return calls


def test_literal_lookup_is_exact_jobless_and_size_bounded(spark, monkeypatch):
    """``literal_lookup`` equals ``dict.get`` (absent and NULL → NULL), its
    lookups add no Spark job to the query they sit in, and building and
    planning one costs the same JVM round trips at 20 keys as at 20,000."""
    from etl_for_all_studies_spark.session import literal_lookup

    keys = {f"ENSG{i:011d}": i + 1 for i in range(20_000)}
    keys.update({label: 90_000 + i for i, label in enumerate(_LABELS) if label})
    probes = [*_LABELS, "ENSG00000000000", "ENSG00000019999", "ENSG00000020000", "", "zz"]
    df = spark.createDataFrame([(p,) for p in probes], "k string").cache()
    df.count()
    for mapping in (keys, {}, {"a": 7}):
        got = df.select("k", literal_lookup(mapping)(F.col("k")).alias("v")).collect()
        assert got == [(p, mapping.get(p)) for p in probes]

    sc = spark.sparkContext
    jobs = {}
    for name, col in (("plain", F.col("k")), ("lookup", literal_lookup(keys)(F.col("k")))):
        sc.setJobGroup(f"lookup-{name}", name)
        try:
            df.select(col).collect()
        finally:
            sc.setJobGroup(None, None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"lookup-{name}"))
    assert jobs["lookup"] == jobs["plain"]

    def round_trips(mapping) -> int:
        calls = _py4j_calls(spark, monkeypatch)
        df.select(literal_lookup(mapping)(F.col("k")))._jdf.queryExecution().executedPlan()
        monkeypatch.undo()
        return len(calls)

    small = dict(list(keys.items())[:20])
    round_trips(small)  # the first use also resolves JVM classes
    assert round_trips(small) == round_trips(keys)
