#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --driver-mem 1g --workload ingest --seed 1 --seconds 1 --trace 0

Runs the engine from the sources next to this directory at
`local[<usable cores>]` in one driver process with one closed-loop
client. Set-up (session start, input generation, warm-up pass of every
timed operation) is timed as `setup_s`; then the workload's operation
runs back to back for `--seconds`, at least once; then every output is
checked. DESIGN.md describes the workloads and metrics.

The last stdout line is the result: `{"correct", "attempted", "failed",
"metrics"}`. With `--trace 0` the metrics are the end-to-end metrics;
the line before it lists the same run's workload-specific metrics by
name, with the host calibration. With `--trace 1` the run also tags
every engine call's Spark jobs, runs the isolated per-layer calls,
reports the per-layer metrics, and writes its spans to
`.bench_out/trace_<workload>_<seed>.json`.

All scratch state lives under `.bench_work/` in the checkout and is
removed at exit; the Spark JVM (and with it every Python worker) is
stopped and waited for before the result is printed.
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
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "curate")

END_TO_END = {  # name -> unit; every workload reports each of them
    "setup_s": "s",
    "docs_per_s": "1/s",
    "p50_ms": "ms",
    "cpu_ms_per_doc": "ms",
    "ok_share": "share",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", default="1g",
                   help="driver JVM heap, passed as IRS_DRIVER_MEM")
    return p.parse_args(argv)


class Run:
    """One workload run: the Spark session, the tracer, the counters,
    and the metrics the workload leaves behind."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = len(os.sched_getaffinity(0))  # local[N] task slots
        self.trace = bool(args.trace)
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.named: dict = {}
        self.layer: dict = {}
        self._check_s = 0.0
        self._t_start = time.perf_counter()
        self.spark = self.tracer = self.rss = self.jvm_pid = None

    # -- lifecycle ------------------------------------------------------
    def start_session(self) -> None:
        from information_retrieval_spark.session import (get_spark,
                                                         warm_python_workers)

        from .probes import RssSampler
        from .trace import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work}/tmp",
            })
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss = RssSampler(self.jvm_pid)
        self.tracer = Tracer(self.spark, self.trace)
        if self.trace:
            # the workloads' warm-up passes start the Python workers anyway,
            # so only traced runs pay for this separately measured layer
            t0 = time.perf_counter()
            warm_python_workers(self.spark, self.cores)
            self.layer["session.warm_s"] = time.perf_counter() - t0

    def setup_done(self) -> None:
        self.e2e["setup_s"] = (time.perf_counter() - self._t_start
                               - self._check_s)

    def close(self) -> None:
        """Stop Spark and wait for its JVM, which takes its Python
        worker daemon down with it."""
        if self.rss is not None:
            self.rss.stop()
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

    # -- measurement ------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this driver process, the JVM and
        the JVM's Python workers."""
        from .probes import tree_cpu_s
        return time.process_time() + tree_cpu_s(self.jvm_pid)

    def timed_loop(self, op, min_iters: int, docs_per_op: int) -> list:
        """Call `op()` back to back for the run's seconds, and at least
        `min_iters` times; returns each call's wall seconds, and reports
        the calls' median CPU milliseconds per doc as `cpu_ms_per_doc`
        (CPU time does not grow when the host steals the CPUs; wall time
        does, so the host's steal share over the window is reported
        too). In a traced run, the seconds each call spent in the
        tracer's own bookkeeping (tagging, waiting for Spark's listener
        bus, counting) are the tracing overhead, reported as their median
        per call and as their median share of the call's time."""
        from .probes import cpu_ticks

        steal0, total0 = cpu_ticks()
        times, cpus, spent = [], [], []
        t_end = time.perf_counter() + self.seconds
        while len(times) < min_iters or time.perf_counter() < t_end:
            t0, c0 = time.perf_counter(), self.cpu_s()
            o0 = self.tracer.overhead_s
            op()
            times.append(time.perf_counter() - t0)
            cpus.append(self.cpu_s() - c0)
            spent.append(self.tracer.overhead_s - o0)
        steal1, total1 = cpu_ticks()
        self.layer["host.steal_share"] = (steal1 - steal0) / (total1 - total0)
        self.e2e["cpu_ms_per_doc"] = 1e3 * statistics.median(cpus) / docs_per_op
        if self.trace:
            self.layer["trace.overhead_ms"] = 1e3 * statistics.median(spent)
            self.layer["trace.overhead_share"] = statistics.median(
                o / t for o, t in zip(spent, times))
        return times

    @contextmanager
    def checking(self):
        """Run a correctness check during set-up without counting its
        time in `setup_s`."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._check_s += time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        """One operation whose output was checked: `attempted` counts
        these, `failed` the ones that did not hold. (An operation that
        raises ends the run without a result.)"""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED: {what}", file=sys.stderr)

    def keep_counts(self, prefix: str, span: dict) -> None:
        """Record a span's Spark job/stage/task counts, its descendants'
        included, as `<prefix>{jobs,stages,tasks}`. The first traced
        occurrence wins, so two traced runs of one seed compare the
        same call."""
        for k, v in self.tracer.tree(span).items():
            self.layer.setdefault(f"{prefix}{k}", v)

    def report(self, **metrics) -> None:
        self.e2e.update(metrics)

    def detail(self, **named) -> None:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        self.named.update(named)

    # -- result ------------------------------------------------------------
    def result(self) -> dict:
        jvm, workers = self.rss.jvm_peak_mb(), self.rss.workers_peak_mb()
        self.layer.update({"rss.jvm_peak_mb": jvm,
                           "rss.workers_peak_mb": workers,
                           "rss.peak_mb": jvm + workers})
        self.e2e["ok_share"] = (self.attempted - self.failed) / self.attempted
        self.named["peak_rss_mb"] = (jvm + workers, "MB")
        self.named["setup_s"] = (self.e2e["setup_s"], "s")
        self.named["failed_share"] = (self.failed / self.attempted, "share")
        self.named["cpu_ms_per_doc"] = (self.e2e["cpu_ms_per_doc"], "ms")
        self.named["host_steal_share"] = (self.layer["host.steal_share"],
                                          "share")
        if self.trace:
            from .layers import PER_LAYER
            metrics = {k: {"value": float(self.layer.get(k, 0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(self.e2e[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "information_retrieval_spark",
                                       "__init__.py")):
        print("perfbench: the engine sources (information_retrieval_spark/) "
              "are not next to perfbench/; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["IRS_DRIVER_MEM"] = args.driver_mem
    # Python workers import the engine's kernels from the same sources
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    from . import probes, workloads

    # a timeout's SIGTERM still stops Spark and removes the scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    calibration = probes.host_calibration()
    run = Run(args, work)
    run.layer.update(calibration)
    try:
        run.start_session()
        getattr(workloads, args.workload)(run)
        result = run.result()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    if run.trace:
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(
            out_dir, f"trace_{args.workload}_{args.seed}.json"))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "named": {k: {"value": v, "unit": u}
                                for k, (v, u) in sorted(run.named.items())},
                      "calibration": calibration}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main  # import as a package module
    sys.exit(_main())
