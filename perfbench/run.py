"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is isolated: a fresh directory
under ``.perfbench_tmp/`` holds the warehouse, the generated workbooks,
Spark's local dirs and every temp file, and is removed at exit. The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer ones with ``--trace 1``. A readable table of every
measured number, op_error_rate and the Spark counts included, goes to
stdout before it.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Driver heap, pinned to fit a small box (the session's default is 24g).
DRIVER_MEM = "1g"
#: UI-only session setting: no planner setting is overridden.
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_pages", "publish_release"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="sizes the timed op counts: one round of the page "
                         "mix per reader and one pass of the catalog slice "
                         "per 4 s")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few rows per table, for the self-tests")
    ap.add_argument("--driver-mem", default=DRIVER_MEM)
    return ap.parse_args(argv)


def isolate(run_dir: str, driver_mem: str) -> None:
    """Point every temp location of this process and of the JVM it will
    start into *run_dir*, and pin the session's resources."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(var, None)


def peak_rss_mb(jvm_pid: int) -> float:
    """``VmHWM`` of this Python process plus that of its JVM child."""
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def span_cost_s(run, calls: int = 200) -> float:
    """Per-span cost of the tracing wrapper, job-group bookkeeping
    included, measured on a no-op call."""
    from spans import Tracer

    probe = Tracer(run.counter)
    noop = lambda: None  # noqa: E731
    t = time.perf_counter()
    for _ in range(calls):
        noop()
    bare = time.perf_counter() - t
    t = time.perf_counter()
    for _ in range(calls):
        probe.span("calibrate", noop)
    return max(0.0, (time.perf_counter() - t - bare) / calls)


def print_table(title: str, metrics: dict) -> None:
    print(f"# {title}")
    for name, (value, unit) in metrics.items():
        print(f"{name:36s} {value:16.6f} {unit}")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    spark = None
    try:
        # before the first import of the program: its session settings
        # are read from the environment at import time
        isolate(run_dir, args.driver_mem)
        try:
            import pyspark  # noqa: F401
            import queens_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: cannot import the program: {exc}",
                  file=sys.stderr)
            return 2
        import workloads
        from pyspark import SparkContext
        from spans import install, uninstall

        from queens_spark.facade import Engine
        from queens_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", **SESSION_CONF)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t

        size = workloads.SIZES[args.size]
        engine = Engine(spark, os.path.join(run_dir, "warehouse"))
        run = workloads.Run(spark, engine, run_dir, args.seed, args.seconds,
                            size, bool(args.trace))
        undo, cost = [], 0.0
        if args.trace:
            cost = span_cost_s(run)
            undo = install(run.tracer)
        workloads.WORKLOADS[args.workload](run)
        setup_s = run.timed_start - T0
        rss = peak_rss_mb(SparkContext._gateway.proc.pid)
        e2e = workloads.end_to_end(run, setup_s, rss)
        counts = workloads.counts(run)
        layers = workloads.per_layer(run, session_s, cost) if args.trace else None
        uninstall(undo)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print_table(f"{args.workload} seed={args.seed} end-to-end", e2e)
    print_table("spark counts (exact) and errors", counts)
    if layers is not None:
        print_table("per-layer (traced run)", layers)
    failed = sum(not o.ok for o in run.ops)
    shown = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0 and not run.errors,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
