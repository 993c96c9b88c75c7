"""Metrics of a finished run: the end-to-end set (gated), the workload's
own figures (printed), and the per-layer set of the traced run.

An operation ("op") is one query run on ``serve`` and ``backfill`` and
one micro-batch of any query on ``stream``; per-op figures are totals
over the timed region divided by the op count. A layer a workload does
not use reports 0.
"""

from __future__ import annotations

import math
import os
import statistics

import metrics as M


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def end_to_end(run) -> dict[str, tuple[float, str]]:
    """setup_s and latency_ms.

    On stream, latency_ms is the median freshness. On serve and backfill
    it is the geometric mean of the query latencies, so each query of
    the mix weighs the same (the median of a dozen unlike queries jumps
    between its two middle queries). Throughput is reported with the
    workload's own figures: with one client, queries per second is the
    inverse of the mean latency, and stream catch-up throughput varied
    too much from run to run to gate."""
    if run.workload == "stream":
        lat = M.percentile(run.latencies_ms, 0.5) or 0.0
    else:
        lat = geomean(run.latencies_ms)
    return {"setup_s": (run.setup_s, "s"), "latency_ms": (lat, "ms")}


def _tail(values, q=0.9):
    v = M.percentile(values, q, M.MIN_BEYOND)
    return {"value": v, "samples": len(values), "needs": M.tail_samples_needed(q)}


def workload_metrics(run) -> dict:
    """The workload's figures under their own names, with sample counts.
    A tail percentile without ten samples beyond it reads None."""
    err = run.failed / run.attempted if run.attempted else 0.0
    out = {"setup_s": run.setup_s, "error_rate": err}
    if run.workload == "stream":
        s = run.stream
        out.update(
            catchup_events_per_s=s["catchup_events_per_s"],
            catchup_s=s["catchup_s"],
            freshness_p50_ms=M.percentile(run.latencies_ms, 0.5),
            freshness_p90_ms=_tail(run.latencies_ms),
        )
    else:
        out.update(
            query_geomean_ms=geomean(run.latencies_ms),
            query_p50_ms=M.percentile(run.latencies_ms, 0.5),
            query_p90_ms=_tail(run.latencies_ms),
            queries_per_s=len(run.ops) / run.timed_wall_s,
            pass_s=_median(run.pass_s),
            passes=len(run.pass_s),
        )
    return out


def _event_groups(work: str) -> dict:
    """Parse the run's event log. Spark rolls it into numbered
    ``events_<n>_<app>`` files, read here in order as one stream."""
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(work, "eventlog"))
        for f in fs
        if f.startswith("events_")
    ]
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))

    def lines():
        for path in files:
            with open(path) as f:
                yield from f

    return M.parse_event_log(lines())


def per_layer(run, ctx, work: str) -> dict[str, tuple[float, str]]:
    tr = ctx.tracer
    groups = _event_groups(work)
    ex = M.sum_groups(groups, run.groups_timed)
    st = run.stages_s
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (st.get("session.start_s", 0.0), "s"),
        "registry.load_s": (st.get("registry.load_s", 0.0), "s"),
        "warmup_s": (st.get("warmup_s", 0.0), "s"),
    }
    if run.workload == "stream":
        n = max(1, len(run.progress))
        ops = None
        build, lat, plan = [], [], []
        eager = 0.0
        plan_counts = ex
        wall = run.stream["lifetime_s"]
    else:
        n = max(1, len(run.ops))
        ops = {op.index for op in run.ops}
        build = [op.build_ms for op in run.ops]
        plan = [op.plan_ms for op in run.ops]
        lat = run.latencies_ms
        eager = M.sum_groups(groups, [f"b{i}" for i in ops])["jobs"]
        plan_counts = M.sum_groups(groups, [f"x{i}" for i in ops])
        wall = run.timed_wall_s
    spread_calls = tr.counted("spread_scan.calls", ops)
    out.update(
        {
            "plans.build_ms": (sum(build) / n if build else 0.0, "ms/op"),
            "plans.build_share": (sum(build) / sum(lat) if lat else 0.0, "ratio"),
            "plans.eager_jobs": (eager / n, "count/op"),
            "catalyst.plan_ms": (sum(plan) / n if plan else 0.0, "ms/op"),
            "catalyst.exchanges": (plan_counts["exchanges"] / n, "count/op"),
            "catalyst.smj_joins": (plan_counts["smj_joins"] / n, "count/op"),
            "catalyst.bhj_joins": (plan_counts["bhj_joins"] / n, "count/op"),
            "sources.load_calls": (tr.counted("load_table.calls", ops) / n, "count/op"),
            "sources.load_ms": (tr.total_ms("sources", "load_table", ops) / n, "ms/op"),
            "sources.input_bytes": (ex["input_bytes"] / n, "bytes/op"),
            "sources.spread_repartitions": (
                tr.counted("spread_scan.widened", ops) / spread_calls if spread_calls else 0.0,
                "ratio",
            ),
            "exec.jobs": (ex["jobs"] / n, "count/op"),
            "exec.stages": (ex["stages"] / n, "count/op"),
            "exec.tasks": (ex["tasks"] / n, "count/op"),
            "exec.task_wall_ms": (ex["task_wall_ms"] / n, "ms/op"),
            "exec.task_cpu_ms": (ex["task_cpu_ms"] / n, "ms/op"),
            "exec.cpu_per_wall": (
                ex["task_cpu_ms"] / ex["task_wall_ms"] if ex["task_wall_ms"] else 0.0, "ratio"
            ),
            "exec.core_idle_share": (
                1.0 - ex["task_wall_ms"] / (wall * 1000.0 * ctx.cpus) if wall else 0.0,
                "ratio",
            ),
            "exec.gc_ms": (ex["gc_ms"] / n, "ms/op"),
            "exec.shuffle_write_bytes": (ex["shuffle_write_bytes"] / n, "bytes/op"),
            "exec.shuffle_read_bytes": (ex["shuffle_read_bytes"] / n, "bytes/op"),
            "exec.spill_bytes": (ex["spill_bytes"] / n, "bytes/op"),
            "exec.failed_tasks": (ex["failed_tasks"], "count"),
            "pyworker.boot_ms": (ex["py_boot_ms"] / n, "ms/op"),
            "pyworker.init_ms": (ex["py_init_ms"] / n, "ms/op"),
            "pyworker.run_ms": (ex["py_run_ms"] / n, "ms/op"),
            "pyworker.bytes_sent": (ex["py_bytes_sent"] / n, "bytes/op"),
            "pyworker.bytes_received": (ex["py_bytes_received"] / n, "bytes/op"),
            "sink.write_ms": (ex["output_files_ms"] / n, "ms/op"),
            "sink.files_written": (run.sink_files / n, "count/op"),
            "sink.bytes_written": (ex["output_bytes"] / n, "bytes/op"),
            "cache.persists": (tr.counted("tracked_persist.calls", ops) / n, "count/op"),
            "jvm.peak_rss_mb": (run.jvm_peak_rss_mb, "MB"),
        }
    )
    out.update(_stream_layers(run))
    out.update(
        {f"traced.{k}": v for k, v in end_to_end(run).items()}
    )
    return out


def _stream_layers(run) -> dict[str, tuple[float, str]]:
    prog = run.progress
    s = run.stream
    data = [p for p in prog if p["input_rows"] > 0]
    stateful = [p for p in prog if p["stateful"]]
    nodata = [p for p in stateful if p["input_rows"] == 0]

    def med(rows, key):
        return _median([r[key] for r in rows])

    def smed(rows, key):
        return _median([r["state"][key] for r in rows])

    stores = sum(p["state"]["store_instances"] for p in stateful)
    puts = sum(p["state"]["rows_updated"] for p in stateful)
    last: dict = {}
    for p in stateful:
        last[p["id"]] = p
    fresh = s.get("freshness_ms", {})
    stateless = fresh.get("router", [])
    statefull = [v for k, vs in fresh.items() if k != "router" for v in vs]
    return {
        "stream.triggers": (float(len(prog)), "count"),
        "stream.data_trigger_share": (len(data) / len(prog) if prog else 0.0, "ratio"),
        "stream.trigger_ms": (med(prog, "triggerExecution"), "ms"),
        "stream.add_batch_ms": (med(prog, "addBatch"), "ms"),
        "stream.query_planning_ms": (med(prog, "queryPlanning"), "ms"),
        "stream.wal_commit_ms": (med(prog, "walCommit"), "ms"),
        "stream.commit_offsets_ms": (med(prog, "commitOffsets"), "ms"),
        "stream.latest_offset_ms": (med(prog, "latestOffset"), "ms"),
        "stream.nodata_trigger_ms": (med(nodata, "triggerExecution"), "ms"),
        "stream.backlog_files_max": (float(s.get("backlog_files_max", 0)), "count"),
        "stream.generator_late_ms_max": (s.get("generator_late_ms_max", 0.0), "ms"),
        "stream.stateless_freshness_p50_ms": (M.percentile(stateless, 0.5) or 0.0, "ms"),
        "stream.stateful_freshness_p50_ms": (M.percentile(statefull, 0.5) or 0.0, "ms"),
        "state.store_instances": (smed(stateful, "store_instances"), "count"),
        "state.puts_per_store": (puts / stores if stores else 0.0, "count"),
        "state.load_ms": (smed(stateful, "load_ms"), "ms"),
        "state.commit_ms": (smed(stateful, "commit_ms"), "ms"),
        "state.nodata_commit_ms": (smed(nodata, "commit_ms"), "ms"),
        "state.fsync_ms": (smed(stateful, "fsync_ms"), "ms"),
        "state.bytes_written": (smed(stateful, "bytes_written"), "bytes"),
        "state.rows_total": (sum(p["state"]["rows_total"] for p in last.values()), "count"),
        "state.memory_bytes": (
            sum(p["state"]["memory_bytes"] for p in last.values()), "bytes"
        ),
    }


def _fmt(v) -> str:
    if isinstance(v, dict):
        if v.get("value") is None:
            return f"n/a ({v['samples']} samples, needs {v['needs']})"
        return f"{v['value']:.4g} ({v['samples']} samples)"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


UNITS = {
    "setup_s": "s", "error_rate": "ratio", "query_geomean_ms": "ms", "query_p50_ms": "ms",
    "query_p90_ms": "ms", "queries_per_s": "1/s", "pass_s": "s",
    "passes": "count", "catchup_events_per_s": "events/s", "catchup_s": "s",
    "freshness_p50_ms": "ms", "freshness_p90_ms": "ms",
}


def print_table(artifact: dict) -> None:
    print(f"# perfbench {artifact['workload']} seed={artifact['seed']} "
          f"seconds={artifact['seconds']} trace={artifact['trace']}")
    print(f"# env {artifact['env']}")
    print("## end-to-end")
    for k, (v, u) in artifact["end_to_end"].items():
        print(f"{k:34s} {_fmt(v):>24s} {u}")
    print("## workload")
    for k, v in artifact["workload_metrics"].items():
        print(f"{k:34s} {_fmt(v):>24s} {UNITS.get(k, '')}")
    if artifact["per_layer"]:
        print("## per-layer")
        for k, (v, u) in artifact["per_layer"].items():
            print(f"{k:34s} {_fmt(v):>24s} {u}")
    for name, why in artifact["mismatches"].items():
        print(f"MISMATCH {name}: {why}")
    for e in artifact["errors"]:
        print(f"ERROR {e}")
