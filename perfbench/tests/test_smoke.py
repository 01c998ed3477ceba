"""Reduced-size run of every workload: set-up, one operation, and its
output checks, on one local Spark session; plus the traced path."""
import pytest

from perfbench import layers, run, session, trace
from perfbench.workloads import WORKLOADS

SMALL = {
    "etl_load": dict(n_studies=2, n_samples=10, n_genes=200, n_kept=6, n_whitelist=8),
    "corr_ragged": dict(
        n_studies=2, n_samples=12, n_genes=10, n_kept=10, n_whitelist=10, empty_frac=0.2
    ),
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    session.prepare_environment(work)
    spark, _ = session.start_session(work, ui=True)
    yield spark
    session.stop_session(spark)


def test_every_workload_has_a_small_size():
    assert set(SMALL) == set(WORKLOADS)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_passes_its_checks(spark, tmp_path, name):
    wl = WORKLOADS[name](3, tmp_path, SMALL[name])
    wl.generate()
    wl.preload(spark)
    loop = run.Loop(wl, spark, None)
    loop.one(timed=False)
    loop.run_for(0.0)
    assert loop.messages == []
    assert (loop.attempted, loop.failed, len(loop.times)) == (run.MIN_OPS, 0, run.MIN_OPS)
    assert loop.stored[0] > 0


def test_a_wrong_expectation_counts_as_a_failed_op(spark, tmp_path):
    wl = WORKLOADS["corr_ragged"](3, tmp_path, SMALL["corr_ragged"])
    wl.generate()
    wl.preload(spark)
    acc = next(iter(wl.expected_corr))
    pair = next(iter(wl.expected_corr[acc]))
    rho, p, q, n = wl.expected_corr[acc][pair]
    wl.expected_corr[acc][pair] = (rho + 1e-3, p, q, n)
    loop = run.Loop(wl, spark, None)
    loop.run_for(0.0)
    assert (loop.attempted, loop.failed, loop.times) == (run.MIN_OPS, run.MIN_OPS, [])
    assert any(pair[0] in m for m in loop.messages)


def test_traced_op_reports_every_layer_metric(spark, tmp_path):
    wl = WORKLOADS["etl_load"](3, tmp_path, SMALL["etl_load"])
    wl.generate()
    wl.preload(spark)
    loop = run.Loop(wl, spark, trace.Tracer(spark.sparkContext))
    traced, plain = loop.run_alternating(0.0)
    assert (len(traced), len(plain), loop.failed) == (1, 1, 0)
    m = loop.layer_ops[0]
    assert {n for n, _ in layers.LAYER_METRICS} - set(m) == {"trace.overhead_frac"}
    assert m["plans.pipeline.jobs"] > 0
    assert m["plans.correlation_job.jobs"] > 0
    assert m["sources.warehouse.append_fact.rows"] == wl.studies.fact_rows
    assert m["plans.pipeline.s"] > m["plans.pipeline.self_s"] > 0
    # the patches are gone again after the traced op
    from etl_for_all_studies_spark.plans import pipeline

    assert not hasattr(pipeline.run_pipeline, "__wrapped__")
