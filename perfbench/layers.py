"""Which package functions the traced run wraps, and the per-layer metrics
computed from one operation's spans and Spark records.

Layer names follow the package's module paths. Every metric listed in
``LAYER_METRICS`` is reported by every traced run; a layer the workload's
operation never reaches reads 0.
"""
from __future__ import annotations

import pathlib

from . import trace
from .workloads import file_sizes

LAYER_METRICS = (
    ("plans.pipeline.s", "s"),
    ("plans.pipeline.self_s", "s"),
    ("plans.pipeline.jobs", "count"),
    ("sources.study_io.s", "s"),
    ("sources.study_io.jobs", "count"),
    ("operators.metadata_norm.s", "s"),
    ("operators.expression.s", "s"),
    ("operators.dims.s", "s"),
    ("sources.warehouse.read.s", "s"),
    ("sources.warehouse.overwrite_dim.s", "s"),
    ("sources.warehouse.append_fact.s", "s"),
    ("sources.warehouse.append_fact.rows", "count"),
    ("sources.warehouse.overwrite_study_partitions.s", "s"),
    ("sources.warehouse.bytes_written", "B"),
    ("sources.warehouse.files_written", "count"),
    ("plans.correlation_job.s", "s"),
    ("plans.correlation_job.self_s", "s"),
    ("plans.correlation_job.jobs", "count"),
    ("plans.correlation.compute.s", "s"),
    ("plans.correlation.router_jobs", "count"),
    ("corr.executor_s", "s"),
    ("corr.shuffle_read_bytes", "B"),
    ("corr.shuffle_write_bytes", "B"),
    ("corr.spill_bytes", "B"),
    ("corr.shuffle_bytes_per_pair", "B/pair"),
    ("corr.top_stage_executor_share", "fraction"),
    ("corr.single_task_stages", "count"),
    ("op.jobs", "count"),
    ("op.stages_executed", "count"),
    ("op.executor_s", "s"),
    ("caching.stage_skip_ratio", "fraction"),
    ("caching.peak_storage_bytes", "B"),
    ("failed_tasks", "count"),
    ("quarantined_studies", "count"),
    ("trace.overhead_frac", "fraction"),
)

_PIPELINE_CALLS = {
    "sources.study_io": (
        "read_metadata_raw", "read_expression_wide", "read_gene_filter", "sniff_header",
    ),
    "operators.metadata_norm": ("normalize_metadata", "metadata_quality"),
    "operators.expression": ("expression_wide_to_long", "expression_text_to_long"),
    "operators.dims": (
        "build_dim_study", "build_dim_illness", "build_dim_platform",
        "build_dim_gene", "build_dim_sample",
    ),
}
_WAREHOUSE_WRITES = ("overwrite_dim", "append_fact", "overwrite_study_partitions")


def _fs_counted(tracer: trace.Tracer, traced):
    """Around a traced warehouse write: files and bytes it left behind."""

    def write(self, table, *args, **kwargs):
        root = pathlib.Path(self.path(table))
        before = file_sizes(root)
        idx = len(tracer.spans)
        result = traced(self, table, *args, **kwargs)
        new = {p: n for p, n in file_sizes(root).items() if before.get(p) != n}
        span = tracer.spans[idx]
        span.counters["files_written"] = len(new)
        span.counters["bytes_written"] = sum(new.values())
        if isinstance(result, int):
            span.counters["rows"] = result
        return result

    return write


def install(tracer: trace.Tracer) -> None:
    """Wrap the package's public layer entry points from outside."""
    from etl_for_all_studies_spark.plans import correlation_job, pipeline
    from etl_for_all_studies_spark.sources.warehouse import Warehouse

    tracer.patch(pipeline, "run_pipeline", "plans.pipeline")
    for layer, names in _PIPELINE_CALLS.items():
        for fn in names:
            tracer.patch(pipeline, fn, layer)
    tracer.patch(correlation_job, "run_correlation_job", "plans.correlation_job")
    tracer.patch(
        correlation_job, "compute_gene_pair_correlations", "plans.correlation.compute"
    )
    tracer.patch(Warehouse, "read", "sources.warehouse.read")
    for method in _WAREHOUSE_WRITES:
        tracer.patch(Warehouse, method, f"sources.warehouse.{method}")
        traced = getattr(Warehouse, method)
        setattr(Warehouse, method, _fs_counted(tracer, traced))


def op_metrics(
    spans: list[trace.Span],
    jobs: list[dict],
    new_stages: list[dict],
    *,
    pairs: int,
    quarantined: int,
    storage_peak: int,
) -> dict[str, float]:
    """Per-layer metrics of one traced operation.

    ``jobs`` are the REST job records of the operation's job groups and
    ``new_stages`` the stage records that appeared during it."""
    selfs = trace.self_times(spans)
    groups = {s.group for s in spans}
    group_jobs: dict[str, list[dict]] = {}
    for j in jobs:
        group_jobs.setdefault(j.get("jobGroup"), []).append(j)
    records = [r for r in trace.stage_records(jobs, new_stages) if r.group in groups]

    def of(layer: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s.name == layer]

    def secs(layer: str) -> float:
        return sum(spans[i].duration for i in of(layer))

    def inclusive_groups(layer: str) -> set[str]:
        found: set[str] = set()
        for i in of(layer):
            found |= {spans[k].group for k in trace.subtree(spans, i)}
        return found

    def njobs(layer: str) -> int:
        return sum(len(group_jobs.get(g, [])) for g in inclusive_groups(layer))

    def counter(layer: str, key: str) -> float:
        return sum(spans[i].counters.get(key, 0) for i in of(layer))

    writes = [f"sources.warehouse.{m}" for m in _WAREHOUSE_WRITES]
    corr_groups = inclusive_groups("plans.correlation_job")
    corr = trace.summarize_stages([r for r in records if r.group in corr_groups])
    everything = trace.summarize_stages(records)
    js = trace.job_summary(jobs)
    out = {
        "plans.pipeline.s": secs("plans.pipeline"),
        "plans.pipeline.self_s": sum(selfs[i] for i in of("plans.pipeline")),
        "plans.pipeline.jobs": njobs("plans.pipeline"),
        "sources.study_io.s": secs("sources.study_io"),
        "sources.study_io.jobs": njobs("sources.study_io"),
        "operators.metadata_norm.s": secs("operators.metadata_norm"),
        "operators.expression.s": secs("operators.expression"),
        "operators.dims.s": secs("operators.dims"),
        "sources.warehouse.read.s": secs("sources.warehouse.read"),
        "sources.warehouse.overwrite_dim.s": secs("sources.warehouse.overwrite_dim"),
        "sources.warehouse.append_fact.s": secs("sources.warehouse.append_fact"),
        "sources.warehouse.append_fact.rows": counter("sources.warehouse.append_fact", "rows"),
        "sources.warehouse.overwrite_study_partitions.s": secs(
            "sources.warehouse.overwrite_study_partitions"
        ),
        "sources.warehouse.bytes_written": sum(counter(w, "bytes_written") for w in writes),
        "sources.warehouse.files_written": sum(counter(w, "files_written") for w in writes),
        "plans.correlation_job.s": secs("plans.correlation_job"),
        "plans.correlation_job.self_s": sum(selfs[i] for i in of("plans.correlation_job")),
        "plans.correlation_job.jobs": njobs("plans.correlation_job"),
        "plans.correlation.compute.s": secs("plans.correlation.compute"),
        "plans.correlation.router_jobs": njobs("plans.correlation.compute"),
        "corr.executor_s": corr["executor_s"],
        "corr.shuffle_read_bytes": corr["shuffle_read_bytes"],
        "corr.shuffle_write_bytes": corr["shuffle_write_bytes"],
        "corr.spill_bytes": corr["spill_bytes"],
        "corr.shuffle_bytes_per_pair": (
            (corr["shuffle_read_bytes"] + corr["shuffle_write_bytes"]) / pairs if pairs else 0.0
        ),
        "corr.top_stage_executor_share": corr["top_stage_executor_share"],
        "corr.single_task_stages": corr["single_task_stages"],
        "op.jobs": js["jobs"],
        "op.stages_executed": everything["stages_executed"],
        "op.executor_s": everything["executor_s"],
        "caching.stage_skip_ratio": js["stage_skip_ratio"],
        "caching.peak_storage_bytes": storage_peak,
        "failed_tasks": js["failed_tasks"],
        "quarantined_studies": quarantined,
    }
    return out
