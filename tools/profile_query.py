#!/usr/bin/env python
"""Per-query job/stage attribution under bench conditions.

For each named registry query: one warm-up execution, then a measured
noop-sink execution bracketed by UI REST stage snapshots. Prints wall,
job count, and the executed stages sorted by executor-run-time share —
the "where does the time actually go" table the optimization guide (§1)
asks for before any change.

Usage: python tools/profile_query.py QUERY [QUERY ...] [--sf DIR]
"""
from __future__ import annotations

import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for i, a in enumerate(sys.argv):
        if a == "--sf":
            sf_dir = sys.argv[i + 1]
            names.remove(sf_dir) if sf_dir in names else None

    from etl_for_all_studies_spark.session import get_spark
    from etl_for_all_studies_spark.suite import QUERY_REGISTRY
    from tools.stage_metrics import _get, stage_snapshot

    def job_count(port: int) -> int:
        base = f"http://localhost:{port}/api/v1"
        app_id = _get(f"{base}/applications")[0]["id"]
        return len(_get(f"{base}/applications/{app_id}/jobs?status=succeeded"))

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="profile-query",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "true",
            # the heap perfbench uses; SPARK_GRAFT_DRIVER_MEM overrides it
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g"),
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[-1] if sc.uiWebUrl else "4040"
    port = int(port)

    for name in names:
        qd = QUERY_REGISTRY[name]
        # warm-up: identical execution so the measured run is steady-state
        qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

        before = stage_snapshot(port)
        jobs_before = job_count(port)
        t0 = time.monotonic()
        qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        after = stage_snapshot(port)
        jobs_after = job_count(port)
        spark.catalog.clearCache()

        new = [s for k, s in after.items() if k not in before]
        executed = [s for s in new if s["status"] == "COMPLETE"]
        skipped = [s for s in new if s["status"] == "SKIPPED"]
        total_run = sum(s.get("executorRunTime", 0) for s in executed)
        print(f"\n===== {name}: wall={wall:.3f}s  jobs={jobs_after - jobs_before} "
              f"stages: {len(executed)} executed / {len(skipped)} skipped  "
              f"executorRunTime={total_run/1000:.2f}s")
        for s in sorted(executed, key=lambda s: -s.get("executorRunTime", 0))[:14]:
            dur = s.get("executorRunTime", 0) / 1000.0
            sh_r = s.get("shuffleReadBytes", 0) / 1e6
            sh_w = s.get("shuffleWriteBytes", 0) / 1e6
            inp = s.get("inputBytes", 0) / 1e6
            nm = (s.get("name") or "")[:90]
            print(f"  {dur:7.2f}s run  {s['numCompleteTasks']:4d} tasks  "
                  f"in={inp:7.1f}MB shR={sh_r:6.1f}MB shW={sh_w:6.1f}MB  {nm}")


if __name__ == "__main__":
    main()
