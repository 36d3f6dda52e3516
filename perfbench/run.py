#!/usr/bin/env python3
"""Benchmark of the syslog_loose_spark pipeline: one workload, one seed.

    python3 perfbench/run.py --workload fanout --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, starts Spark on ``local[3]`` three times (the set-up, each ending
with one warm-up pass at full size), then repeats the workload's pass
back to back for ``--seconds`` seconds: a closed loop with one client.
It checks every pass's outputs, and prints one line per metric and, as
the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 1`` makes
a separate traced run that prints the per-layer metrics instead and
writes its spans under ``.perfbench_work/traces/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "syslog_loose_spark"
CPUS = 3                 # task slots; leaves one core for the driver
SETUPS = 3               # sessions started per run; setup_s is the median
DRIVER_MEMORY = "4g"


@dataclass
class Pass:
    label: str
    out: str
    wall: float
    cpu: float
    error: str | None = None
    problems: tuple = ()
    sink_bytes: int = 0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and ship the
    package to the Python workers, which start outside the repository."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the session factory's deployment setting (default 8g): the inputs
    # here need far less, and the heap is fully committed (see below)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_session(work: str):
    from syslog_loose_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", cpus=CPUS,
                      local_dir=os.environ["SPARK_LOCAL_DIRS"],
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.sql.warehouse.dir":
                              os.path.join(work, "warehouse"),
                          # Prepended to the session's own JVM options.  The
                          # heap starts at its maximum (clamped to the
                          # session's spark.driver.memory), the size it
                          # reaches in a long job anyway: left to grow, the
                          # collector's timing-driven resizing made the
                          # footprint vary 4.3-7.2 GB between runs (8g heap).
                          "spark.driver.defaultJavaOptions":
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:InitialRAMPercentage=100",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the driver JVM that pyspark launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate any process this run left behind and wait for it."""
    from perfbench.procstat import descendants

    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in descendants(me) if p != me]
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while left and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = [p for p in descendants(me) if p != me]
            time.sleep(0.1)
        if not left:
            return


class Bench:
    def __init__(self, args, work: str):
        from perfbench import checks
        from perfbench.procstat import MemorySampler
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](work, args.seed)
        self.passes: list[Pass] = []
        self.info: dict = {}
        self.memory = MemorySampler()
        self.con = checks.connect(os.path.join(work, "tmp"))

    def one_pass(self, spark, label: str, tracer=None,
                 keep: bool = False) -> Pass:
        """Run one pass into a fresh output root, then (untimed) measure
        and check its output and delete it unless ``keep``."""
        from perfbench import checks, procstat

        out = os.path.join(self.work, "out", label)
        self.memory.active.set()
        c0, t0 = procstat.tree_cpu_seconds(), time.perf_counter()
        err = None
        try:
            if tracer is None:
                self.wl.run_pass(spark, out)
            else:
                tracer.run = label
                with tracer.span("pass"):
                    self.wl.run_pass(spark, out, tracer)
        except Exception as e:   # a failed pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            err = f"{type(e).__name__}: {e}"[:500]
        p = Pass(label, out, time.perf_counter() - t0,
                 procstat.tree_cpu_seconds() - c0, err)
        self.memory.active.clear()
        self.passes.append(p)
        if err is None:
            p.sink_bytes = checks.tree_bytes(out)
            p.problems = tuple(self.wl.check_pass(self.con, out))
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        return p

    def setup(self):
        """Start a session and warm it with one full pass, SETUPS times.
        The JVM and the code it compiled survive from one session to the
        next; each session starts its own Python workers.  The last
        session stays up for the timed passes."""
        starts, warms = [], []
        spark = None
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(self.work)
            starts.append(time.perf_counter() - t0)
            warms.append(self.one_pass(spark, f"setup{k}").wall)
        self.info["setup_walls"] = [s + w for s, w in zip(starts, warms)]
        self.info["session.start_s"] = starts[0]
        self.info["session.warm_s"] = statistics.median(warms)
        self.info["setup_s"] = statistics.median(self.info["setup_walls"])
        return spark

    def timed(self, spark, tracer=None):
        """Passes back to back for --seconds; with a tracer, traced and
        untraced passes alternate (at least two of each).  The first
        untraced pass's output is kept for the once-per-run check."""
        from perfbench.workloads import install_tracing, remove_tracing

        timed, traced = [], []
        t_end = time.perf_counter() + self.args.seconds
        with self.memory:
            while (time.perf_counter() < t_end or not timed or (
                    tracer is not None and min(len(timed), len(traced)) < 2)):
                label = f"timed{len(timed) + len(traced)}"
                if tracer is not None and len(traced) <= len(timed):
                    targets = install_tracing(tracer)
                    try:
                        traced.append(self.one_pass(spark, label, tracer,
                                                    keep=True))
                    finally:
                        remove_tracing(targets)
                else:
                    timed.append(self.one_pass(spark, label,
                                               keep=not timed))
        first = timed[0]
        if first.error is None and not first.problems:
            first.problems = tuple(self.wl.check_run(self.con, first.out))
        return timed, traced

    def trace_layers(self, spark, tracer, timed, traced) -> dict:
        from perfbench.trace import StageReader

        layers = self.wl.layers(
            spark, tracer, StageReader(spark.sparkContext),
            [(p.label, p.out) for p in traced if not p.error], self.con)
        layers["trace.overhead_s"] = (
            statistics.median(p.wall for p in traced)
            - statistics.median(p.wall for p in timed))
        for k in ("session.start_s", "session.warm_s"):
            layers[k] = self.info[k]
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(
            trace_dir, f"{self.wl.name}-seed{self.args.seed}.jsonl"))
        return layers

    def run(self) -> dict:
        from perfbench import metrics
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        self.wl.prepare()
        self.info["gen_s"] = time.perf_counter() - t0
        spark = self.setup()
        try:
            tracer = None
            if self.args.trace:
                tracer = Tracer(spark.sparkContext,
                                f"{self.wl.name}-{self.args.seed}",
                                spark.sparkContext._gateway.proc.pid)
            timed, traced = self.timed(spark, tracer)
            if tracer is not None:
                layers = self.trace_layers(spark, tracer, timed, traced)
        finally:
            t0 = time.perf_counter()
            self.con.close()
            spark.stop()
            stop_jvm()
            self.info["stop_s"] = time.perf_counter() - t0

        good = [p for p in timed if p.error is None]
        failed = sum(1 for p in self.passes if p.error or p.problems)
        for p in self.passes:
            for msg in ([p.error] if p.error else []) + list(p.problems):
                print(f"FAILED {p.label}: {msg}", file=sys.stderr)
        if self.args.trace:
            values, units = layers, metrics.PER_LAYER
        else:
            rows = self.wl.rows
            wall = statistics.median(p.wall for p in good) if good else 0.0
            values = {
                "wall_s": wall,
                "rows_per_s": rows / wall if wall else 0.0,
                "cpu_s_per_mrow": statistics.median(
                    p.cpu for p in good) / rows * 1e6 if good else 0.0,
                "sink_bytes_per_row": statistics.median(
                    p.sink_bytes for p in good) / rows if good else 0.0,
                "peak_rss_mb": self.memory.peak / 2 ** 20,
                "setup_s": self.info["setup_s"],
            }
            units = metrics.END_TO_END
        self.info["timed_walls"] = [p.wall for p in timed]
        self.info.update(passes=len(self.passes), timed=len(good),
                         error_rate=failed / len(self.passes))
        return {"correct": failed == 0, "attempted": len(self.passes),
                "failed": failed, "metrics": metrics.report(values, units)}


def _fmt(v) -> str:
    if isinstance(v, (list, tuple)):
        return " ".join(_fmt(x) for x in v)
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import syslog_loose_spark
    from perfbench.workloads import WORKLOADS

    if os.path.dirname(os.path.dirname(os.path.abspath(
            syslog_loose_spark.__file__))) != ROOT:
        print(f"perfbench: imported {syslog_loose_spark.__file__}, not the "
              f"package in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    t0 = time.perf_counter()
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
    bench.info["run_s"] = time.perf_counter() - t0
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for k, v in bench.info.items():
        print(f"info {k} {_fmt(v)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
