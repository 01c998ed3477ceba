"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 12 --trace 0

Runs one workload as a closed loop of one client on ``local[nproc]``:
generate the seeded inputs, set up (cold session start, warehouse pre-load
and one untimed warm-up operation), then run operations back to back for
``--seconds`` and check every output against the generator's expectation.
Human-readable lines go first; the last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the package's layers are wrapped in spans and the metrics are per layer.
``--workload all`` runs every workload in turn, each in its own process,
and prints one table.
"""
from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

REPO_ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from perfbench import layers, session, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# a fixed floor keeps the sample count, and so the median's make-up, from
# flipping between one and two ops when an op takes about ``--seconds``
MIN_OPS = 2

END_TO_END = (
    ("setup_s", "s"),
    ("op_s", "s"),
    ("work_per_s", "units/s"),
    ("stored_bytes_per_unit", "B/unit"),
    ("driver_peak_rss_mb", "MB"),
)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _run_all(args) -> int:
    """Each workload in a fresh process; one summary table at the end."""
    rows = []
    for name in WORKLOADS:
        cmd = [
            sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        rows.append((name, json.loads(proc.stdout.strip().splitlines()[-1])))
    print("\nworkload      correct  error_rate  " + "  ".join(n for n, _ in END_TO_END))
    for name, res in rows:
        m = res["metrics"]
        vals = "  ".join(
            f"{m[n]['value']:.4g} {m[n]['unit']}" for n, _ in END_TO_END if n in m
        )
        print(f"{name:<13} {str(res['correct']):<8} {res['failed'] / res['attempted']:<11.3g} {vals}")
    correct = all(r["correct"] for _, r in rows)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for _, r in rows),
        "failed": sum(r["failed"] for _, r in rows),
        "metrics": {
            f"{name}.{k}": v for name, r in rows for k, v in r["metrics"].items()
        },
    }))
    return 0


class Loop:
    """The timed closed loop of one run, with per-op bookkeeping."""

    def __init__(self, wl, spark, tracer: trace.Tracer | None):
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.times: list[float] = []
        self.rates: list[float] = []
        self.stored: list[float] = []
        self.layer_ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []
        self.last_op_s: float | None = None
        self.last_spans: list[trace.Span] = []

    def one(self, *, timed: bool = True, traced: bool = False) -> None:
        """One operation and its output checks. A warm-up op (``timed``
        false) is not checked, and counts as attempted only if it raises."""
        sc = self.spark.sparkContext
        if traced:
            self.tracer.reset()
            self.tracer.settle()
            before = {(s["stageId"], s["attemptId"]) for s in trace.rest_get(sc, "stages")}
        result = None
        self.last_op_s = None
        try:
            t0 = time.perf_counter()
            result = self.wl.run_op(self.spark)
            elapsed = self.last_op_s = time.perf_counter() - t0
            if traced:
                # the checks below read the warehouse through traced calls
                spans, peak = list(self.tracer.spans), self.tracer.storage_peak
            # set-up time is the program's own: the warm-up op is not checked
            errors = self.wl.check(self.spark, result) if timed else []
            if result.quarantined:
                errors.append(f"{result.quarantined} studies quarantined")
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, not fatal
            errors = [f"op raised {type(exc).__name__}: {exc}"]
        if timed or errors:
            self.attempted += 1
        if errors:
            self.failed += 1
            self.messages += errors
        if result is None:
            return
        if timed and not errors:
            self.times.append(elapsed)
            self.rates.append(result.units / elapsed)
            self.stored.append(result.stored_bytes / result.units)
            if traced:
                self.layer_ops.append(self._layer_metrics(spans, peak, before, result))
                self.last_spans = spans
        self.wl.cleanup(result)

    def _layer_metrics(self, spans, peak, before, result) -> dict:
        sc = self.spark.sparkContext
        self.tracer.settle()
        groups = {s.group for s in spans}
        jobs = [j for j in trace.rest_get(sc, "jobs") if j.get("jobGroup") in groups]
        stages = trace.stage_diff(before, trace.rest_get(sc, "stages"))
        return layers.op_metrics(
            spans, jobs, stages,
            pairs=self.wl.expected_pairs,
            quarantined=result.quarantined,
            storage_peak=peak,
        )

    def _timed(self, **kw) -> float:
        t0 = time.perf_counter()
        self.one(**kw)
        return self.last_op_s if self.last_op_s is not None else time.perf_counter() - t0

    def run_for(self, seconds: float) -> None:
        """Ops back to back until they have run ``seconds`` in total, and at
        least ``MIN_OPS``; the output checks between them are not counted."""
        spent, n = 0.0, 0
        while spent < seconds or n < MIN_OPS:
            spent += self._timed()
            n += 1

    def run_alternating(self, seconds: float) -> tuple[list[float], list[float]]:
        """Like :meth:`run_for`, alternating traced and untraced ops (at
        least one of each); returns the passing ops' wall times of both."""
        times: dict[bool, list[float]] = {True: [], False: []}
        spent, k = 0.0, 0
        while spent < seconds or k < 2:
            traced = k % 2 == 0
            if traced:
                layers.install(self.tracer)
            n0 = len(self.times)
            try:
                spent += self._timed(traced=traced)
            finally:
                if traced:
                    self.tracer.restore()
            times[traced] += self.times[n0:]
            k += 1
        return times[True], times[False]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return _run_all(args)
    # the package must come from this checkout; fail before any result
    import etl_for_all_studies_spark  # noqa: F401

    work = REPO_ROOT / ".perfbench" / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        session.prepare_environment(work)
        wl = WORKLOADS[args.workload](args.seed, work)
        t_gen = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t_gen

        spark, session_s = session.start_session(work, ui=bool(args.trace))
        tracer = trace.Tracer(spark.sparkContext) if args.trace else None
        wl.preload(spark)
        loop = Loop(wl, spark, tracer)
        for _ in range(wl.warmup_ops):
            loop.one(timed=False)
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        pid = session.driver_pid(spark)

        if args.trace:
            traced_times, plain_times = loop.run_alternating(args.seconds)
            traced_op, plain_op = _median(traced_times), _median(plain_times)
            rows = loop.layer_ops
            values = {
                name: _median(r[name] for r in rows)
                for name, _ in layers.LAYER_METRICS
                if name != "trace.overhead_frac"
            }
            values["trace.overhead_frac"] = (
                traced_op / plain_op - 1.0 if traced_op and plain_op else 0.0
            )
            metrics = {n: {"value": values[n], "unit": u} for n, u in layers.LAYER_METRICS}
            dump = REPO_ROOT / ".perfbench" / f"trace-{args.workload}-{args.seed}.json"
            dump.write_text(json.dumps({"ops": rows, "spans": [
                {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 "group": s.group, **s.counters} for s in loop.last_spans
            ]}, indent=1))
        else:
            loop.run_for(args.seconds)
            metrics = {
                "setup_s": setup_s,
                "op_s": _median(loop.times),
                "work_per_s": _median(loop.rates),
                "stored_bytes_per_unit": _median(loop.stored),
                "driver_peak_rss_mb": session.peak_rss_mb(pid),
            }
            metrics = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}
        settings = session.spark_settings(work, ui=bool(args.trace))
    finally:
        if spark is not None:
            session.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for msg in loop.messages[:20]:
        print(f"check: {msg}")
    print(f"workload {args.workload} seed={args.seed} sizes={json.dumps(wl.describe())}")
    print(f"spark {json.dumps(settings)}")
    print(
        f"setup {setup_s:.3f}s (session start {session_s:.3f}s, inputs {gen_s:.3f}s excluded); "
        f"error_rate={loop.failed / max(loop.attempted, 1):.3g}"
    )
    print(f"op_s samples={len(loop.times)}: " + " ".join(f"{t:.3f}" for t in loop.times))
    for name, m in metrics.items():
        print(f"  {name:<48} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
