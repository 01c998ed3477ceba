"""Spark session for the benchmark: every setting explicit and recorded.

The client is one Python process driving ``local[N]`` with N the CPUs this
process may run on (``nproc``). All scratch state -- Spark local dirs, the
JVM temp dir, the SQL warehouse dir and the Python temp dir -- lives under
the run's work directory inside the checkout.
"""
from __future__ import annotations

import os
import pathlib
import time

REPO_ROOT = pathlib.Path(__file__).resolve().parent.parent


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_settings(work: pathlib.Path, *, ui: bool) -> dict[str, str]:
    """The benchmark's Spark conf. The package's session defaults
    (``etl_for_all_studies_spark.session``) apply underneath; these keys
    pin everything they leave open."""
    n = cores()
    settings = {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(n),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -Djava.io.tmpdir={work / 'jvm-tmp'} "
            f"-Dderby.system.home={work}"
        ),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.reuse": "true",
    }
    if ui:
        # the traced run reads every job and stage of an op back from the UI
        settings["spark.ui.port"] = "0"  # any free port
        settings["spark.ui.retainedJobs"] = "10000"
        settings["spark.ui.retainedStages"] = "10000"
    return settings


def prepare_environment(work: pathlib.Path) -> None:
    """Process environment the JVM and its Python workers inherit.

    The package is imported from the checkout, so the workers need the
    checkout on ``PYTHONPATH`` too -- without it every Arrow kernel task
    dies with ``ModuleNotFoundError: etl_for_all_studies_spark``."""
    for sub in ("jvm-tmp", "spark-local", "py-tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(REPO_ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "py-tmp")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON") or "python3"


def start_session(work: pathlib.Path, *, ui: bool):
    """Start a fresh JVM and session; returns ``(spark, seconds)``."""
    from etl_for_all_studies_spark.session import get_spark

    settings = spark_settings(work, ui=ui)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=settings["spark.master"],
        shuffle_partitions=int(settings["spark.sql.shuffle.partitions"]),
        extra_conf={
            k: v for k, v in settings.items()
            if k not in ("spark.master", "spark.sql.shuffle.partitions")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def driver_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM of ``pid`` in MB (the driver JVM runs every executor here)."""
    for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
