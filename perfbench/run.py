#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON verdict.

    python3 perfbench/run.py --workload analytics_sf01 --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_cache/`` (reused across runs); scratch output goes to
``.perfbench_work/`` and is removed at exit. The next-to-last stdout line is
the full run record (context, every metric with its unit and sample count);
the last line is ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in BENCHMARK.json. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

#: Driver heap for the benchmark's Spark session (``get_spark`` defaults to
#: 16g, more than a small host has).
DRIVER_MEM = "2g"
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Root-span time a traced run may leave unattributed to any layer.
TRACE_TOLERANCE = 0.10


class Bench:
    """Shared state of one run: arguments, paths, tracer and results."""

    def __init__(self, args) -> None:
        from spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.tracing_run = bool(args.trace)
        self.small = args.small
        self.tracer = Tracer(self.tracing_run)
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))
        self.metrics: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.jobs = None
        self.job_counts: list[dict] = []
        self.trace_problems: list[str] = []
        self.tail: dict = {}
        self.series: dict[str, list[float]] = {}  # raw samples, for the record
        self.setup_times: list[float] = []
        self.clock = [("start", time.perf_counter())]

    def mark(self, phase: str) -> None:
        """End of a phase of the run; the record lists each phase's seconds."""
        self.clock.append((phase, time.perf_counter()))

    # -- results -------------------------------------------------------
    def metric(self, name: str, value: float, unit: str, samples: int) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit, "samples": int(samples)}

    def outcome(self, ok: bool, what: str = "") -> None:
        """Count one attempted operation; a failed or wrong one counts in
        ``failed`` and its reason is kept for the record."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    # -- spark ---------------------------------------------------------
    def spark_confs(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def new_session(self):
        from twitter_event_stream_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", cpus=self.cpus,
                              extra_confs=self.spark_confs())
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def timed_setups(self, setup):
        """Run ``setup()`` SETUPS times, stopping the session between runs;
        report the median as ``setup_s`` and keep the last state."""
        times, state = [], None
        for i in range(SETUPS):
            if state is not None:
                state["spark"].stop()
            t = time.perf_counter()
            with self.tracer.span("setup", op=f"setup-{i}"):
                state = setup()
            times.append(time.perf_counter() - t)
        self.metric("setup_s", statistics.median(times), "s", len(times))
        self.setup_times = times
        return state

    def set_tracing(self, on: bool) -> None:
        """Switch span and job recording; traced runs alternate it to
        measure the tracing overhead."""
        self.tracer.enabled = on and self.tracing_run

    @property
    def traced(self) -> bool:
        """Whether spans and job counts are being recorded right now."""
        return self.tracer.enabled

    def op(self, label: str, count_jobs: bool = True):
        """Root span of one operation plus, in traced runs, its job group
        (``count_jobs=False`` keeps it out of the ``spark.*_per_op``
        counts, for operations outside the workload's own loop)."""
        return _Op(self, label, count_jobs)


class _Op:
    def __init__(self, bench: Bench, label: str, count_jobs: bool) -> None:
        self.bench, self.label, self.count_jobs = bench, label, count_jobs

    def __enter__(self):
        b = self.bench
        self._span = b.tracer.span("op", op=self.label)
        self._span.__enter__()
        self._group = None
        if b.traced and b.jobs is not None and self.count_jobs:
            with b.tracer.span("bench.job_accounting"):
                self._group = b.jobs.start(self.label.split("#")[0])
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        b = self.bench
        if self._group is not None:
            with b.tracer.span("bench.job_accounting"):
                b.job_counts.append(b.jobs.finish(self._group))
        self._span.__exit__(*exc)
        return False


def _git_sha() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD"), encoding="utf-8") as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:]), encoding="utf-8") as f:
                return f.read().strip()
        return head
    except OSError:
        return None


def _stop_jvm() -> None:
    """Shut down the JVM this process launched and wait until it has exited;
    otherwise it outlives the run until it notices its stdin closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_once(args) -> tuple[Bench, dict]:
    """One run of ``args.workload``; returns the bench state and the full
    run record."""
    import workloads

    # The program under test; missing from a checkout that holds only the
    # benchmark, which must then fail before printing any result.
    import twitter_event_stream_spark  # noqa: F401
    import bench as repo_bench  # the repository's calibration job
    from spans import JobCounter, job_metrics, layer_metrics

    b = Bench(args)
    os.makedirs(b.work, exist_ok=True)
    os.makedirs(b.cache, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(b.work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](b)
        wl.prepare()  # input generation: outside setup_s and timed work
        b.mark("prepare")
        state = b.timed_setups(wl.setup)
        b.mark("setup")
        spark = state["spark"]
        b.jobs = JobCounter(spark)
        wl.run(state)
        calib = repo_bench.calibrate(spark)
        b.mark("calibrate")
        b.metric("host.calib_spark_s", calib["calib_sec"], "s", 4)
        b.metric("host.calib_python_s", calib["calib_python_sec"], "s", 1)
        if b.traced:
            layer_metrics(b, [("session.get_spark_ms", "session.get_spark"),
                              ("tables.load_tables_ms", "tables.load_tables")])
            job_metrics(b)
            b.trace_problems = b.tracer.check(TRACE_TOLERANCE)
            b.metric("bench.trace_problems", len(b.trace_problems), "count",
                     len(b.tracer.spans))
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "context": {
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "cpus": b.cpus,
                "driver_memory": DRIVER_MEM,
                "pyspark": spark.version,
                "git_sha": _git_sha(),
                "setup_runs_s": b.setup_times,
                "calibration": calib,
                "phase_s": {name: t - b.clock[i][1] for i, (name, t) in enumerate(b.clock[1:])},
            },
            "attempted": b.attempted,
            "failed": b.failed,
            "failed_fraction": b.failed / max(1, b.attempted),
            "problems": b.problems,
            "trace_problems": b.trace_problems[:10],
            "tail": b.tail,
            "series": b.series,
            "metrics": b.metrics,
        }
        if b.traced:
            runs = os.path.join(ROOT, ".perfbench_runs")
            os.makedirs(runs, exist_ok=True)
            b.tracer.dump(os.path.join(runs, f"{args.workload}-{args.seed}-spans.jsonl"))
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
    return b, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-check scale: sf0.001 tables, small streams")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")

    b, record = run_once(args)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] not in b.metrics:
            if not args.trace:
                raise RuntimeError(f"metric {m['name']} was not measured")
            b.metric(m["name"], 0.0, m["unit"], 0)  # a layer this workload does not enter
        out[m["name"]] = {"value": b.metrics[m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
