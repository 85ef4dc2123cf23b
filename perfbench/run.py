#!/usr/bin/env python3
"""Benchmark of the Kafka->Kusto sink and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see README.md):

- ``drain_routed_faults``: a running query drains a backlog kept one
  chunk deep; four topic mappings (json, csv, json, ``*``) on decoded
  struct values, 64 KB files, seeded transient ingest faults and one
  table that rejects every file (its records go to the file DLQ).
- ``registry_hotset``: registry queries on seeded tables, checked
  against their DuckDB oracles.

The sink runs through ``KustoSparkSink.attach()`` on the replay file
source against ``LocalEmulatorBackend``, on ``local[<cores>]``.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics). The line before it is a summary with the box
(cores, load, CPU and disk probes) and the workload's own figures,
including ``error_rate``. Any wrong output makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()


def steal_s() -> float:
    """CPU time the host took from this machine since boot (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


STEAL_AT_START = steal_s()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "kafka_sink_azure_kusto_spark")
DEADLINE_S = 170
SETUP_REPEATS = 5
DRIVER_MEMORY = "2g"
YOUNG_GEN_MB = 256


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark invocation: arguments, work directory, session."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.jvm_start_s = 0.0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def _build_session(self):
        from pyspark.sql import SparkSession

        n = cores()
        builder = (
            SparkSession.builder.master(f"local[{n}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.driver.memory", DRIVER_MEMORY)
            # A fixed heap and young generation: when the JVM sizes them
            # itself, how far the heap grows (and so peak_rss_mb) varies
            # from run to run.
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={self.path('tmp', '')} -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN_MB}m",
            )
            .config("spark.local.dir", self.path("spark-local", ""))
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        )
        if self.trace:
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.path("eventlog", ""))
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_up(self, prepare, discard=None):
        """Start the JVM, then set up ``SETUP_REPEATS`` times: start a
        session and ``prepare(spark)``. Only these two steps are timed;
        before the next set-up, ``discard(state)`` and the session stop
        are not. Returns the last prepared state and the median set-up
        time in seconds. The JVM start (``jvm_start_s``) happens once a
        run, so it is reported apart."""
        self.spark = self._build_session()
        self.jvm_start_s = time.time() - T_PROCESS
        times, state = [], None
        for _ in range(SETUP_REPEATS):
            if state is not None and discard is not None:
                discard(state)
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._build_session()
            state = prepare(self.spark)
            times.append(time.perf_counter() - t0)
        return state, statistics.median(times)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def box(with_cpu_probe: bool) -> dict:
    """The machine the figures were taken on. ``bench._cpu_probe`` takes
    about 5 s of the run, so only traced runs take it."""
    import bench

    out = {
        "nproc": cores(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_s": round(steal_s() - STEAL_AT_START, 2),
        "io_probe": bench._io_probe(),
    }
    if with_cpu_probe:
        out["cpu_probe"] = bench._cpu_probe()
    return out


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="Kafka->Kusto sink benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"no program to benchmark: {PACKAGE} is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Every JVM would otherwise write its perf counters under /tmp.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp
    # The sink logs every injected fault; keep only its critical lines.
    logging.getLogger("kafka_sink_azure_kusto_spark").setLevel(logging.CRITICAL)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    run = Run(args, work)
    try:
        result = workloads.WORKLOADS[args.workload](run)
        run.stop()
        summary = {"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "box": box(run.trace), **result.summary}
    finally:
        signal.alarm(0)
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    for problem in result.errors:
        print(f"INCORRECT: {problem}", file=sys.stderr)
    print("summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": not result.errors,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": result.metrics,
    }))
    return 0 if not result.errors else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
