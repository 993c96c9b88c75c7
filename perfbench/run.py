"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|backfill|stream --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. Inputs are generated from the
seed under ``.perfbench/`` in the checkout and removed at the end. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Lines before it print every
metric by name and unit. A JSON artifact with the environment stamp,
box probes, input sizes and all figures is left in
``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "gmall2021_flink_dw_spark")
GENERATOR = os.path.join(ROOT, "tools", "gen_scale_data.py")

# A run that has not finished by then is stuck: exit without a result
# (the JVM ends with this process, which closes its stdin).
WATCHDOG_S = 170

# Same loop and size as bench.py::box_probe, so artifacts compare.
PROBE_ITERS = 5_000_000


def box_probe(iters: int = PROBE_ITERS) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    if x < 0:  # unreachable; keeps the loop from being optimized away
        print(x, file=sys.stderr)
    return time.perf_counter() - t0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "backfill", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def prepare_env(work: str) -> dict:
    """Keep every file Spark, RocksDB and the Python workers write inside
    the run's work directory; size the session to this machine."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    scratch = os.path.join(work, "stream-scratch")
    for d in (tmp, local, scratch):
        os.makedirs(d, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_STREAM_SCRATCH": scratch,
        "SPARK_GRAFT_CPUS": cpus,
        # session.py defaults to a 48g heap; these inputs need far less.
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _watchdog() -> None:
    print(f"perfbench: no result after {WATCHDOG_S} s, giving up", file=sys.stderr)
    sys.stderr.flush()
    os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    timer = threading.Timer(WATCHDOG_S - (time.perf_counter() - T_START), _watchdog)
    timer.daemon = True
    timer.start()
    if not (os.path.isdir(PACKAGE) and os.path.isfile(GENERATOR)):
        print(
            "perfbench: run from a source checkout; missing "
            f"{os.path.relpath(PACKAGE, ROOT)}/ or {os.path.relpath(GENERATOR, ROOT)}",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    env = prepare_env(work)
    sys.path[:0] = [ROOT, os.path.dirname(GENERATOR)]
    try:
        artifact, chosen, failed, attempted = measure(args, work, results, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    timer.cancel()

    import report

    report.print_table(artifact)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
            }
        )
    )
    return 0


def measure(args, work: str, results: str, env: dict):
    """Run the workload; write its artifact (and spans); return the
    artifact, the metrics to print, and the failed/attempted counts."""
    import report
    import workloads
    from tracing import Tracer

    probe_before = box_probe()
    tracer = Tracer() if args.trace else None
    ctx = workloads.Context(
        work, args.seed, args.seconds, bool(args.trace), tracer,
        T_START, int(env["SPARK_GRAFT_CPUS"]),
    )
    try:
        run = workloads.WORKLOADS[args.workload](ctx)
    finally:
        t = time.perf_counter()
        stop_spark()
    run.stages_s["stop_s"] = time.perf_counter() - t
    probe_after = box_probe()

    e2e = report.end_to_end(run)
    layers = report.per_layer(run, ctx, work) if args.trace else {}
    stamp = {
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "nproc": os.cpu_count(),
        "box_probe_before_s": probe_before,
        "box_probe_after_s": probe_after,
        "python": sys.version.split()[0],
    }
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": stamp,
        "inputs": run.inputs,
        "stages_s": run.stages_s,
        "end_to_end": e2e,
        "workload_metrics": report.workload_metrics(run),
        "per_layer": layers,
        "attempted": run.attempted,
        "failed": run.failed,
        "mismatches": run.mismatches,
        "stream": run.stream,
        "errors": sorted({op.error for op in run.ops if op.error}),
        "ops": [vars(op) for op in run.ops],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-cpus{env['SPARK_GRAFT_CPUS']}"
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(os.path.join(results, name + ".spans.jsonl"))
    return artifact, (layers if args.trace else e2e), run.failed, run.attempted


if __name__ == "__main__":
    sys.exit(main())
