"""Span self-time arithmetic and the aggregation of Spark job and stage
records into per-layer numbers."""
from perfbench import layers, trace
from perfbench.trace import Span


def _span(name, start, end, parent=None, group="", **counters):
    return Span(name=name, start=start, end=end, parent=parent, group=group,
                counters=counters)


def test_covered_merges_overlaps_and_gaps():
    assert trace.covered([]) == 0.0
    assert trace.covered([(0, 1), (2, 3)]) == 2.0
    assert trace.covered([(0, 2), (1, 3)]) == 3.0
    assert trace.covered([(1, 3), (0, 4), (5, 6)]) == 5.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("a.inner", 2.0, 3.0, parent=1),
        _span("b", 5.0, 6.5, parent=0),
    ]
    selfs = trace.self_times(spans)
    assert selfs == [10.0 - 3.0 - 1.5, 3.0 - 1.0, 1.0, 1.5]


def test_self_time_clips_children_to_the_parent():
    spans = [_span("root", 0.0, 2.0), _span("child", 1.5, 3.0, parent=0)]
    assert trace.self_times(spans)[0] == 1.5


def test_subtree_follows_parents():
    spans = [
        _span("r", 0, 9), _span("x", 1, 2, parent=0), _span("y", 1.2, 1.5, parent=1),
        _span("r2", 10, 11), _span("z", 10.1, 10.2, parent=3),
    ]
    assert trace.subtree(spans, 0) == [0, 1, 2]
    assert trace.subtree(spans, 3) == [3, 4]


def _stage(sid, status="COMPLETE", tasks=4, run_ms=1000, read=0, write=0, spill=0):
    return {
        "stageId": sid, "attemptId": 0, "status": status, "numTasks": tasks,
        "executorRunTime": run_ms, "shuffleReadBytes": read,
        "shuffleWriteBytes": write, "memoryBytesSpilled": spill,
        "diskBytesSpilled": 0,
    }


def test_stage_belongs_to_the_earliest_job_listing_it():
    jobs = [
        {"jobId": 7, "jobGroup": "late", "stageIds": [1, 2]},
        {"jobId": 3, "jobGroup": "early", "stageIds": [1]},
    ]
    recs = {r.stage_id: r for r in trace.stage_records(jobs, [_stage(1), _stage(2)])}
    assert recs[1].group == "early"
    assert recs[2].group == "late"


def test_stage_diff_keeps_only_new_attempts():
    before = {(1, 0), (2, 0)}
    stages = [_stage(1), _stage(2), _stage(3), {**_stage(2), "attemptId": 1}]
    new = trace.stage_diff(before, stages)
    assert [(s["stageId"], s["attemptId"]) for s in new] == [(3, 0), (2, 1)]


def test_summarize_stages_counts_only_executed_stages():
    recs = trace.stage_records(
        [{"jobId": 1, "jobGroup": "g", "stageIds": [1, 2, 3, 4]}],
        [
            _stage(1, run_ms=3000, read=10, write=20, spill=5),
            _stage(2, tasks=1, run_ms=1000, read=1, write=2),
            _stage(3, status="SKIPPED", run_ms=0),
            _stage(4, tasks=1, run_ms=0),
        ],
    )
    s = trace.summarize_stages(recs)
    assert s["executor_s"] == 4.0
    assert s["shuffle_read_bytes"] == 11
    assert s["shuffle_write_bytes"] == 22
    assert s["spill_bytes"] == 5
    assert s["top_stage_executor_share"] == 0.75
    assert s["single_task_stages"] == 2
    assert s["stages_executed"] == 3


def test_job_summary_skip_ratio_and_failures():
    jobs = [
        {"numCompletedStages": 3, "numSkippedStages": 1, "numFailedTasks": 0},
        {"numCompletedStages": 1, "numSkippedStages": 3, "numFailedTasks": 2},
    ]
    s = trace.job_summary(jobs)
    assert s == {"jobs": 2, "stage_skip_ratio": 0.5, "failed_tasks": 2}
    assert trace.job_summary([])["stage_skip_ratio"] == 0.0


def test_op_metrics_attribute_jobs_and_stages_to_layers():
    spans = [
        _span("plans.correlation_job", 0.0, 4.0, group="g1"),
        _span("plans.correlation.compute", 0.5, 1.5, parent=0, group="g2"),
        _span("sources.warehouse.overwrite_study_partitions", 2.0, 3.0, parent=0,
              group="g3", files_written=3, bytes_written=300),
    ]
    jobs = [
        {"jobId": 1, "jobGroup": "g2", "stageIds": [1], "numCompletedStages": 1},
        {"jobId": 2, "jobGroup": "g1", "stageIds": [1, 2], "numCompletedStages": 1,
         "numSkippedStages": 1},
        {"jobId": 3, "jobGroup": "g3", "stageIds": [3], "numCompletedStages": 1},
    ]
    stages = [
        _stage(1, run_ms=500, write=100), _stage(2, run_ms=1500, read=100),
        _stage(3, tasks=1, run_ms=500), _stage(9, run_ms=9000),  # 9: not ours
    ]
    m = layers.op_metrics(spans, jobs, stages, pairs=10, quarantined=0, storage_peak=7)
    assert m["plans.correlation_job.s"] == 4.0
    assert m["plans.correlation_job.self_s"] == 2.0
    assert m["plans.correlation_job.jobs"] == 3
    assert m["plans.correlation.router_jobs"] == 1
    assert m["corr.executor_s"] == 2.5
    assert m["corr.shuffle_bytes_per_pair"] == 20.0
    assert m["corr.top_stage_executor_share"] == 0.6
    assert m["corr.single_task_stages"] == 1
    assert m["op.jobs"] == 3
    assert m["caching.stage_skip_ratio"] == 0.25
    assert m["sources.warehouse.files_written"] == 3
    assert m["sources.warehouse.bytes_written"] == 300
    assert m["caching.peak_storage_bytes"] == 7
    assert m["plans.pipeline.s"] == 0
    assert {n for n, _ in layers.LAYER_METRICS} - set(m) == {"trace.overhead_frac"}
