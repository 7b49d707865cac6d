#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload queries_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets up a Spark session on ``local[<cores>]``, checks every output,
measures for ``--seconds`` seconds, and prints one JSON object as the last
line of standard output:

    {"correct": true, "attempted": 61, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see README.md). Everything the run writes stays inside the
checkout: inputs and Spark scratch under ``.perfbench_work/`` (removed at
exit), the run record and spans under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: A run that has not finished by then is abandoned (its processes are
#: still stopped), so it never outlives the caller's 180 s limit.
TIME_LIMIT_S = 170

#: Set-ups per run; ``setup_s`` is their median. Each is a cold start: it
#: launches the JVM, and every set-up but the last stops it again.
N_SETUPS = 3


def _cpus() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[str]:
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def _source_stamp() -> dict:
    """git HEAD when the checkout is a repository, and always a digest of
    the package sources (the checkout may not be a repository)."""
    head = "unknown"
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "etl_airbnb_mex_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_head": head, "package_sha256": h.hexdigest()[:16]}


class Context:
    """What a workload needs: run parameters, a work dir, the session
    factory with its set-up timings, the tracer, and a record."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.cpus = _cpus()
        self.cores = self.cpus
        self.spark = None
        self.probe = None
        self.setup_s = self.session_start_s = float("nan")
        self.record: dict = {}
        self.started = time.perf_counter()
        import spans

        self.tracer = spans.Tracer()
        os.makedirs(self.tmp, exist_ok=True)

    def note(self, key: str, value) -> None:
        self.record[key] = value

    def mark(self, step: str) -> None:
        """Record when a step of the run ended (seconds since start)."""
        self.record.setdefault("steps_s", {})[step] = round(
            time.perf_counter() - self.started, 3)

    def setup(self, warm):
        """Set up ``N_SETUPS`` times from cold (launch the JVM, start the
        session with ``get_spark``, run ``warm``) and keep the last
        session; returns it."""
        import spans
        from etl_airbnb_mex_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        starts, setups, closes = [], [], []
        for _ in range(N_SETUPS):
            t = time.perf_counter()
            self.close()
            closes.append(time.perf_counter() - t)
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            t1 = time.perf_counter()
            warm(self.spark)
            starts.append(t1 - t0)
            setups.append(time.perf_counter() - t0)
        self.setup_s = statistics.median(setups)
        self.session_start_s = statistics.median(starts)
        self.cores = self.spark.sparkContext.defaultParallelism
        self.probe = spans.SparkProbe(self.spark)
        self.note("setups_s", setups)
        self.note("session_starts_s", starts)
        self.note("closes_s", closes[1:])
        self.note("cpus_effective", self.cores)
        self.mark("setup")
        return self.spark

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit.

        The JVM is stopped by closing its stdin (it exits on EOF) rather
        than through py4j's shutdown, which can block on a callback-server
        connection that another thread is reading; those reader threads
        end when the JVM's sockets close."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # The package under test comes from the checkout this script sits in.
    if not os.path.isdir(os.path.join(ROOT, "etl_airbnb_mex_spark")):
        print("perfbench: etl_airbnb_mex_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cpus = _cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # Every JVM Spark starts keeps its temp files in the work dir and
    # writes no perf-data file to the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")

    def give_up(signum, frame):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, give_up)
    signal.alarm(TIME_LIMIT_S)
    ctx = Context(args, work)
    load_before = _loadavg()
    try:
        result = workloads.WORKLOADS[args.workload](ctx)
    finally:
        signal.alarm(0)
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    ctx.mark("closed")

    import duckdb
    import pyspark

    ctx.record.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "run_wall_s": time.perf_counter() - ctx.started,
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        **_source_stamp(),
        "metrics": result.metrics,
    })
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(ctx.record, f, indent=1, default=str)
    if args.trace:
        ctx.tracer.dump(stem + ".spans.json")
    for line in ctx.record.get("failures", [])[:20]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(f"perfbench: record {stem}.json", file=sys.stderr)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result.metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
