"""Reference record: tracing overhead and the one-core comparison.

    python3 perfbench/reference.py --seed 1 --seconds 6 [--workloads serve,stream,backfill]

For each workload, runs ``perfbench/run.py`` three times in a row: untraced
at ``nproc`` cores, traced at ``nproc`` cores, and traced at
``SPARK_GRAFT_CPUS=1``. Writes ``perfbench/results/reference.json`` with
every run's end-to-end and per-layer metrics, the tracing overhead on each
end-to-end metric (traced minus untraced, same seed), and the one-core
over nproc ratio of each end-to-end metric. Nothing here is gated.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int, cpus: int) -> dict:
    """One run's artifact, or its exit code and stderr tail if it failed
    (a one-core stream run can outlast the runner's watchdog)."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": str(cpus)}
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        return {"exit_code": proc.returncode, "stderr": proc.stderr[-2000:].replace(ROOT, ".")}
    name = f"{workload}-seed{seed}-trace{trace}-cpus{cpus}.json"
    with open(os.path.join(ROOT, ".perfbench", "results", name)) as f:
        return json.load(f)


def _e2e(artifact: dict) -> dict:
    return {k: v[0] for k, v in artifact.get("end_to_end", {}).items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--workloads", default="serve,stream,backfill")
    ap.add_argument("--out", default=os.path.join(HERE, "results", "reference.json"))
    args = ap.parse_args()
    nproc = os.cpu_count() or 1
    record = {"seed": args.seed, "seconds": args.seconds, "nproc": nproc, "workloads": {}}
    for w in args.workloads.split(","):
        plain = run_once(w, args.seed, args.seconds, 0, nproc)
        traced = run_once(w, args.seed, args.seconds, 1, nproc)
        one = run_once(w, args.seed, args.seconds, 1, 1)
        e2e, e2e_traced, e2e_one = _e2e(plain), _e2e(traced), _e2e(one)
        record["workloads"][w] = {
            "untraced": plain,
            "traced": traced,
            "one_core_traced": one,
            "tracing_overhead": {
                k: {"untraced": e2e[k], "traced": e2e_traced[k],
                    "difference": e2e_traced[k] - e2e[k]}
                for k in e2e if k in e2e_traced
            },
            "one_core_over_nproc": {
                k: e2e_one[k] / e2e_traced[k] for k in e2e_one if e2e_traced.get(k)
            },
        }
        print(w, json.dumps(record["workloads"][w]["tracing_overhead"]), flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
