#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload report_tcga --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
the seed under ``.perfbench-work/`` (not part of any metric), then
sets up once: JVM launch, session start and a first pass of the
workload (``setup_s``; the pass is the warm-up and its results are
checked). Then:

- ``--trace 0``: warm passes until ``--seconds`` have passed (at
  least one); prints the end-to-end metrics.
- ``--trace 1``: one plain and one traced warm pass; prints the
  per-layer metrics of the traced pass and ``trace_overhead_s``
  (traced minus plain wall time).

After measuring it computes the reference outputs and checks every
result; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
KIB_PER_MB = 1024.0  # VmHWM and ru_maxrss are in KiB


def pin_environment(work: Path) -> None:
    """Everything Spark reads at JVM and worker launch, fixed here."""
    # half the usable CPUs (the vCPUs are hyperthread pairs): the JVM's
    # task, JIT and GC threads then leave room for the Python driver,
    # the workers and other tenants (see README.md, Environment)
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # session.py defaults to 20g, more than the host has
        "SPARK_DRIVER_MEM": "2g",
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # the traced pass reads every job back from the status store
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--driver-java-options " + shlex.quote(
                f"-XX:ActiveProcessorCount={cpus} -XX:+UseSerialGC "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "pyspark-shell",
        ]),
    })
    sys.path[:0] = [str(ROOT), str(BENCH_DIR)]


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out + [d for c in out for d in _children(c)]


def _status_kib(pid: int, key: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    return 0.0


def _jvm_pid() -> int:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    for p in [pid] + _children(pid):
        with open(f"/proc/{p}/comm") as fh:
            if fh.read().strip() == "java":
                return p
    raise RuntimeError("no JVM process under the Spark gateway")


def shutdown_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (its exit signal) and
    wait for the JVM and the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    procs = _children(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in procs) and time.time() < deadline:
        time.sleep(0.1)


def run(args, work: Path) -> dict:
    from ae_data_integration_spark.session import get_spark
    from tracer import METRIC_NAMES, Tracer
    from workloads import WORKLOADS

    t_start = time.perf_counter()

    def phase(name: str) -> None:
        print(f"perfbench: {name} done at {time.perf_counter() - t_start:.1f} s",
              file=sys.stderr, flush=True)

    wl = WORKLOADS[args.workload](str(work), args.seed)
    wl.make_inputs()
    phase("inputs")

    spark = None
    try:
        # set-up: JVM launch, session and a first (cold) pass, whose
        # results are checked with the rest
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        checked = wl.run_pass(spark)
        setup_s = time.perf_counter() - t0
        phase(f"set-up {setup_s:.2f} s")

        # every result is checked; the timed ones also feed the metrics
        timed, pass_walls = [], []
        if not args.trace:
            start = time.perf_counter()
            while not pass_walls or time.perf_counter() - start < args.seconds:
                t0 = time.perf_counter()
                timed += wl.run_pass(spark)
                pass_walls.append(time.perf_counter() - t0)
        else:
            # a plain and a traced pass under the same (warm) conditions:
            # their difference is the tracer's cost
            t0 = time.perf_counter()
            timed += wl.run_pass(spark)
            plain = time.perf_counter() - t0
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            tracer.install(wl.trace_modules())
            try:
                t0 = time.perf_counter()
                with tracer.span("pipelines", args.workload):
                    timed += wl.run_pass(spark, tracer.span)
                traced = time.perf_counter() - t0
            finally:
                tracer.uninstall()
            layer_metrics = tracer.metrics()
            layer_metrics["trace_overhead_s"] = traced - plain
            tracer.write(str(work / "trace.json"))
        checked += timed

        phase(f"measure {[round(t, 2) for _, t, _ in timed]}")
        # memory of set-up and passes, before the checks allocate
        jvm_hwm = _status_kib(_jvm_pid(), "VmHWM")
        py_hwm = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        phase(f"peak RSS: JVM {jvm_hwm / KIB_PER_MB:.0f} MB, Python {py_hwm / KIB_PER_MB:.0f} MB")
        wl.compute_reference(spark)
        phase("reference")
        failures = []
        for name, _, result in checked:
            try:
                msg = wl.check(name, result)
            except Exception as e:  # noqa: BLE001 - a crashed check is a failed output
                msg = f"check raised {e!r}"
            if msg:
                failures.append(f"{name}: {msg}")
    finally:
        if spark is not None:
            shutdown_spark(spark)
    phase("checks and shutdown")
    for f in failures:
        print(f"output check failed: {f}", file=sys.stderr)

    if args.trace:
        metrics = {
            name: {"value": layer_metrics[name], "unit": _unit(name)}
            for name in METRIC_NAMES
        }
    else:
        values = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(pass_walls), "s"),
            "peak_rss_mb": ((jvm_hwm + py_hwm) / KIB_PER_MB, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return {
        "correct": not failures,
        "attempted": len(checked),
        "failed": len(failures),
        "metrics": metrics,
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "rows" if name.endswith(".rows") else "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    # Spark, its workers and the package log to stdout in places: send
    # all of it to stderr and keep stdout for the result line.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, work)
    except Exception:  # noqa: BLE001 - no result line on any failure to run
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
