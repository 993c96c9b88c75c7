"""Pure helpers of the benchmark: percentiles, the open-loop schedule,
checkpoint-log freshness, and the Spark event-log and streaming-progress
parsers.

Nothing here imports Spark, so ``perfbench/test_metrics.py`` covers it
without a session.
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two outliers, not a tail.
MIN_BEYOND = 10


# --------------------------------------------------------------------------
# percentiles


def percentile(values, q: float, min_beyond: int = 0) -> float | None:
    """Nearest-rank percentile ``q`` in (0, 1] of ``values``.

    Returns None when fewer than ``min_beyond`` samples rank strictly
    above the chosen one (and for an empty input)."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile q must be in (0, 1], got {q}")
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return xs[rank - 1]


def tail_samples_needed(q: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count for which ``percentile(.., q, min_beyond)``
    is defined."""
    n = 1
    while n - max(1, math.ceil(q * n)) < min_beyond:
        n += 1
    return n


# --------------------------------------------------------------------------
# open-loop schedule


def due_times(t0: float, tick_s: float, n: int) -> list[float]:
    """Due time of each of ``n`` scheduled items: one per tick from t0.
    Fixed in advance, so a stall delays later items instead of moving
    their due times."""
    if tick_s <= 0:
        raise ValueError(f"tick must be positive, got {tick_s}")
    return [t0 + k * tick_s for k in range(n)]


def lateness(due: list[float], actual: list[float]) -> list[float]:
    """Seconds each item was issued after its due time (0 when early)."""
    if len(due) != len(actual):
        raise ValueError("due and actual lists differ in length")
    return [max(0.0, a - d) for d, a in zip(due, actual)]


# --------------------------------------------------------------------------
# checkpoint logs: which micro-batch consumed which file, and when


def _log_entries(path: str) -> list[dict]:
    """JSON lines of one Structured Streaming metadata-log file; the
    first line is the version marker (``v1``)."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(ln) for ln in lines[1:] if ln.strip().startswith("{")]


def _numbered(dirpath: str) -> dict[int, str]:
    """Batch-numbered files of a checkpoint log directory."""
    out = {}
    if not os.path.isdir(dirpath):
        return out
    for name in os.listdir(dirpath):
        if name.isdigit():
            out[int(name)] = os.path.join(dirpath, name)
    return out


def read_checkpoint(ckpt: str) -> dict:
    """Read a single-file-source query's checkpoint.

    Returns ``files`` (file name -> source log offset that added it),
    ``batch_offset`` (micro-batch id -> source log offset it read up to),
    ``planned`` (micro-batch id -> mtime of its offset-log entry) and
    ``committed`` (micro-batch id -> mtime of its commit-log entry)."""
    files: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    for log_off, path in _numbered(src).items():
        for e in _log_entries(path):
            files[os.path.basename(e["path"])] = int(e.get("batchId", log_off))
    batch_offset: dict[int, int] = {}
    planned: dict[int, float] = {}
    for bid, path in _numbered(os.path.join(ckpt, "offsets")).items():
        with open(path) as f:
            lines = f.read().splitlines()
        # v1 / metadata line / one offset line per source
        offs = [ln for ln in lines[2:] if ln.strip()]
        if offs and offs[0] != "-":
            batch_offset[bid] = int(json.loads(offs[0])["logOffset"])
        planned[bid] = os.stat(path).st_mtime
    committed = {
        bid: os.stat(path).st_mtime
        for bid, path in _numbered(os.path.join(ckpt, "commits")).items()
    }
    return {
        "files": files,
        "batch_offset": batch_offset,
        "planned": planned,
        "committed": committed,
    }


def consuming_batch(log_offset: int, batch_offset: dict[int, int]) -> int | None:
    """First micro-batch whose source end offset covers ``log_offset``."""
    for bid in sorted(batch_offset):
        if batch_offset[bid] >= log_offset:
            return bid
    return None


def file_commit_times(ckpt_view: dict) -> dict[str, float]:
    """File name -> commit time of the micro-batch that consumed it.
    Files not yet committed are left out."""
    out = {}
    for name, log_off in ckpt_view["files"].items():
        bid = consuming_batch(log_off, ckpt_view["batch_offset"])
        if bid is not None and bid in ckpt_view["committed"]:
            out[name] = ckpt_view["committed"][bid]
    return out


def freshness_ms(
    commit_times: dict[str, float], due: dict[str, float]
) -> tuple[list[float], list[str]]:
    """Commit time minus due time, in ms, for every scheduled file; and
    the scheduled files that were never committed."""
    vals, missing = [], []
    for name, d in due.items():
        if name in commit_times:
            vals.append((commit_times[name] - d) * 1000.0)
        else:
            missing.append(name)
    return vals, missing


def backlog_max(ckpt_view: dict, arrivals: dict[str, float]) -> int:
    """Largest number of files that had arrived but were still unread
    when a micro-batch was planned."""
    best = 0
    for bid, t in ckpt_view["planned"].items():
        prev = [b for b in ckpt_view["batch_offset"] if b < bid]
        read_before = max((ckpt_view["batch_offset"][b] for b in prev), default=-1)
        waiting = sum(
            1
            for name, at in arrivals.items()
            if at <= t and ckpt_view["files"].get(name, math.inf) > read_before
        )
        best = max(best, waiting)
    return best


# --------------------------------------------------------------------------
# Spark event log


def _acc_value(acc: dict) -> float:
    v = acc.get("Value", 0)
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
}

EXEC_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_wall_ms", "task_cpu_ms",
    "gc_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "output_files_ms",
    "exchanges", "smj_joins", "bhj_joins",
) + tuple(PY_METRICS.values())


def _count_plan(node: dict, acc: dict[str, int]) -> None:
    name = node.get("nodeName", "")
    if name == "Exchange":
        acc["exchanges"] += 1
    elif name == "SortMergeJoin":
        acc["smj_joins"] += 1
    elif name == "BroadcastHashJoin":
        acc["bhj_joins"] += 1
    for child in node.get("children", ()):
        _count_plan(child, acc)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Aggregate a Spark JSON event log per job group.

    Returns job group -> totals of :data:`EXEC_KEYS`. ``output_files_ms``
    is the executor run time of tasks that wrote output. Plan counts come
    from the last plan each SQL execution reported (the AQE final plan
    when there is one). Jobs without a group fall under ``""``."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {k: 0.0 for k in EXEC_KEYS}
    )
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = g
            out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = g
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"], "")
            out[g]["stages"] += 1
            for acc in info.get("Accumulables", ()):
                key = PY_METRICS.get(acc.get("Name", ""))
                if key:
                    out[g][key] += _acc_value(acc)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], "")
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            o = out[g]
            o["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                o["failed_tasks"] += 1
            o["task_wall_ms"] += max(
                0, info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
            o["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            o["gc_ms"] += tm.get("JVM GC Time", 0)
            o["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            srm = tm.get("Shuffle Read Metrics") or {}
            o["shuffle_read_bytes"] += srm.get("Remote Bytes Read", 0) + srm.get(
                "Local Bytes Read", 0
            )
            o["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            o["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            written = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            o["output_bytes"] += written
            if written:
                o["output_files_ms"] += tm.get("Executor Run Time", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if ev.get("sparkPlanInfo"):
                plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    for eid, plan in plans.items():
        g = exec_group.get(eid)
        if g is None:
            continue
        acc = {"exchanges": 0, "smj_joins": 0, "bhj_joins": 0}
        _count_plan(plan, acc)
        for k, v in acc.items():
            out[g][k] += v
    return dict(out)


def sum_groups(groups: dict[str, dict[str, float]], names) -> dict[str, float]:
    """Totals of :func:`parse_event_log` rows over the given groups."""
    tot = {k: 0.0 for k in EXEC_KEYS}
    for g in names:
        for k, v in groups.get(g, {}).items():
            tot[k] += v
    return tot


# --------------------------------------------------------------------------
# streaming progress


DURATION_KEYS = (
    "triggerExecution", "addBatch", "queryPlanning", "walCommit",
    "commitOffsets", "latestOffset", "getBatch",
)


def parse_progress(doc: str | dict) -> dict:
    """Flatten one StreamingQueryProgress JSON into the fields the
    benchmark reports. State-store figures are summed over operators."""
    p = json.loads(doc) if isinstance(doc, str) else doc
    dur = p.get("durationMs") or {}
    row = {
        "id": p.get("id"),
        "run_id": p.get("runId"),
        "name": p.get("name"),
        "batch_id": p.get("batchId"),
        "input_rows": p.get("numInputRows", 0) or 0,
    }
    for k in DURATION_KEYS:
        row[k] = float(dur.get(k, 0) or 0)
    state = {
        "store_instances": 0.0, "rows_updated": 0.0, "rows_total": 0.0,
        "memory_bytes": 0.0, "commit_ms": 0.0, "load_ms": 0.0,
        "fsync_ms": 0.0, "bytes_written": 0.0,
    }
    for op in p.get("stateOperators") or ():
        cm = op.get("customMetrics") or {}
        state["store_instances"] += op.get("numStateStoreInstances", 0) or 0
        state["rows_updated"] += op.get("numRowsUpdated", 0) or 0
        state["rows_total"] += op.get("numRowsTotal", 0) or 0
        state["memory_bytes"] += op.get("memoryUsedBytes", 0) or 0
        state["commit_ms"] += op.get("commitTimeMs", 0) or 0
        state["load_ms"] += cm.get("rocksdbLoadLatencyMs", 0) or 0
        state["fsync_ms"] += cm.get("rocksdbCommitFileSyncLatencyMs", 0) or 0
        state["bytes_written"] += cm.get("rocksdbTotalBytesWritten", 0) or 0
    row["state"] = state
    row["stateful"] = bool(p.get("stateOperators"))
    return row
