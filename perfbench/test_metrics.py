"""Tests of the benchmark's pure helpers (no Spark session).

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402

# ---------------------------------------------------------------- percentile


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert M.percentile(xs, 0.5) == 50
    assert M.percentile(xs, 0.9) == 90
    assert M.percentile(xs, 1.0) == 100
    assert M.percentile([7.0], 0.5) == 7.0
    assert M.percentile([], 0.5) is None


def test_percentile_ignores_input_order():
    assert M.percentile([5, 1, 4, 2, 3], 0.5) == 3


def test_tail_needs_ten_samples_beyond():
    # p90 of 100 samples leaves exactly 10 beyond it
    assert M.percentile(range(100), 0.9, M.MIN_BEYOND) == 89
    # with 99 samples only 9 lie beyond the p90 rank
    assert M.percentile(range(99), 0.9, M.MIN_BEYOND) is None
    assert M.tail_samples_needed(0.9) == 100
    assert M.tail_samples_needed(0.5) == 20


def test_percentile_rejects_bad_q():
    with pytest.raises(ValueError):
        M.percentile([1, 2], 0.0)
    with pytest.raises(ValueError):
        M.percentile([1, 2], 1.5)


# ------------------------------------------------------------ open-loop schedule


def test_due_times_are_fixed_in_advance():
    assert M.due_times(100.0, 0.5, 4) == [100.0, 100.5, 101.0, 101.5]
    with pytest.raises(ValueError):
        M.due_times(0.0, 0.0, 3)


def test_lateness_counts_only_late_items():
    due = M.due_times(10.0, 1.0, 3)
    # on time, 0.25 s late, early (counts as 0)
    assert M.lateness(due, [10.0, 11.25, 11.9]) == [0.0, 0.25, 0.0]
    with pytest.raises(ValueError):
        M.lateness(due, [10.0])


def test_stall_delays_later_items_against_their_own_due_time():
    # a 2 s stall before item 1: every later item is measured from its
    # scheduled due time, so the stall shows in each of them
    due = M.due_times(0.0, 1.0, 4)
    actual = [0.0, 3.0, 3.01, 3.02]
    assert M.lateness(due, actual) == pytest.approx([0.0, 2.0, 1.01, 0.02])


# ------------------------------------------------------- checkpoint freshness


def _write(path, text, mtime):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    os.utime(path, (mtime, mtime))


def _fake_checkpoint(root):
    """Batch 0 reads file a (log offset 0); batch 1 is a no-data batch;
    batch 2 reads b and c (log offset 1); batch 3 was planned, never
    committed, and read d (log offset 2)."""
    src = os.path.join(root, "sources", "0")
    _write(os.path.join(src, "0"), 'v1\n{"path":"file:///s/a.parquet","timestamp":1,"batchId":0}\n', 1)
    _write(
        os.path.join(src, "1"),
        'v1\n{"path":"file:///s/b.parquet","timestamp":2,"batchId":1}\n'
        '{"path":"file:///s/c.parquet","timestamp":2,"batchId":1}\n',
        2,
    )
    _write(os.path.join(src, "2"), 'v1\n{"path":"file:///s/d.parquet","timestamp":3,"batchId":2}\n', 3)
    meta = '{"batchWatermarkMs":0}'
    for bid, off, planned in ((0, 0, 100.0), (1, 0, 101.0), (2, 1, 102.0), (3, 2, 104.0)):
        _write(os.path.join(root, "offsets", str(bid)), f'v1\n{meta}\n{{"logOffset":{off}}}\n', planned)
    for bid, t in ((0, 100.5), (1, 101.5), (2, 103.0)):
        _write(os.path.join(root, "commits", str(bid)), 'v1\n{"nextBatchWatermarkMs":0}\n', t)


def test_read_checkpoint_and_consuming_batch(tmp_path):
    _fake_checkpoint(str(tmp_path))
    view = M.read_checkpoint(str(tmp_path))
    assert view["files"] == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1, "d.parquet": 2}
    assert view["batch_offset"] == {0: 0, 1: 0, 2: 1, 3: 2}
    # the no-data batch 1 re-reports offset 0; file b is consumed by batch 2
    assert M.consuming_batch(0, view["batch_offset"]) == 0
    assert M.consuming_batch(1, view["batch_offset"]) == 2
    assert M.consuming_batch(5, view["batch_offset"]) is None


def test_file_commit_times_and_freshness(tmp_path):
    _fake_checkpoint(str(tmp_path))
    view = M.read_checkpoint(str(tmp_path))
    commits = M.file_commit_times(view)
    # d's batch never committed, so d has no commit time
    assert commits == {"a.parquet": 100.5, "b.parquet": 103.0, "c.parquet": 103.0}
    due = {"b.parquet": 102.5, "c.parquet": 102.0, "d.parquet": 103.5}
    vals, missing = M.freshness_ms(commits, due)
    assert vals == pytest.approx([500.0, 1000.0])
    assert missing == ["d.parquet"]


def test_backlog_max(tmp_path):
    _fake_checkpoint(str(tmp_path))
    view = M.read_checkpoint(str(tmp_path))
    arrivals = {"a.parquet": 99.0, "b.parquet": 100.2, "c.parquet": 101.8, "d.parquet": 103.5}
    # at batch 2's planning (t=102) b and c had arrived unread
    assert M.backlog_max(view, arrivals) == 2


# --------------------------------------------------------------- event log


def _events():
    plan = {
        "nodeName": "AdaptiveSparkPlan",
        "children": [
            {"nodeName": "SortMergeJoin", "children": [
                {"nodeName": "Exchange", "children": []},
                {"nodeName": "Exchange", "children": []},
            ]},
        ],
    }
    final = {
        "nodeName": "AdaptiveSparkPlan",
        "children": [
            {"nodeName": "BroadcastHashJoin", "children": [
                {"nodeName": "Exchange", "children": []},
            ]},
        ],
    }
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 1,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1250, "Failed": False, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": 240,
            "Executor CPU Time": 200_000_000,
            "JVM GC Time": 5,
            "Input Metrics": {"Bytes Read": 1000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
            "Output Metrics": {"Bytes Written": 500},
            "Memory Bytes Spilled": 1,
            "Disk Bytes Spilled": 2,
        },
    }
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "x3", "spark.sql.execution.id": "7"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": plan},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": final},
        task,
        {**task, "Task Info": {"Launch Time": 0, "Finish Time": 100, "Failed": True},
         "Task Metrics": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1,
            "Accumulables": [
                {"Name": "time to run Python workers", "Value": "40"},
                {"Name": "data sent to Python workers", "Value": 64},
                {"Name": "number of output rows", "Value": 9},
            ]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]


def test_parse_event_log_groups_and_totals():
    lines = [json.dumps(e) for e in _events()] + [""]
    g = M.parse_event_log(lines)
    x = g["x3"]
    assert x["jobs"] == 1 and x["stages"] == 1 and x["tasks"] == 2
    assert x["failed_tasks"] == 1
    assert x["task_wall_ms"] == 350
    assert x["task_cpu_ms"] == pytest.approx(200.0)
    assert x["gc_ms"] == 5
    assert x["input_bytes"] == 1000
    assert x["shuffle_read_bytes"] == 30 and x["shuffle_write_bytes"] == 30
    assert x["spill_bytes"] == 3
    assert x["output_bytes"] == 500 and x["output_files_ms"] == 240
    assert x["py_run_ms"] == 40 and x["py_bytes_sent"] == 64
    # plan counts come from the last (AQE final) plan only
    assert (x["exchanges"], x["smj_joins"], x["bhj_joins"]) == (1, 0, 1)
    # a job without a group lands under ""
    assert g[""]["jobs"] == 1
    tot = M.sum_groups(g, ["x3", "", "missing"])
    assert tot["jobs"] == 2 and tot["tasks"] == 2


# ------------------------------------------------------------ progress


def test_parse_progress_sums_state_operators():
    doc = {
        "id": "q", "runId": "r", "name": "jump", "batchId": 4, "numInputRows": 0,
        "durationMs": {"triggerExecution": 1270, "addBatch": 700, "walCommit": 40},
        "stateOperators": [
            {"numStateStoreInstances": 8, "numRowsUpdated": 3, "numRowsTotal": 64,
             "memoryUsedBytes": 100, "commitTimeMs": 420,
             "customMetrics": {"rocksdbLoadLatencyMs": 12,
                               "rocksdbCommitFileSyncLatencyMs": 400,
                               "rocksdbTotalBytesWritten": 2048}},
            {"numStateStoreInstances": 8, "numRowsUpdated": 1, "numRowsTotal": 6,
             "memoryUsedBytes": 50, "commitTimeMs": 10, "customMetrics": {}},
        ],
    }
    row = M.parse_progress(json.dumps(doc))
    assert row["stateful"] and row["input_rows"] == 0 and row["batch_id"] == 4
    assert row["triggerExecution"] == 1270.0 and row["queryPlanning"] == 0.0
    s = row["state"]
    assert s["store_instances"] == 16 and s["rows_updated"] == 4
    assert s["rows_total"] == 70 and s["memory_bytes"] == 150
    assert s["commit_ms"] == 430 and s["load_ms"] == 12 and s["fsync_ms"] == 400
    assert s["bytes_written"] == 2048


def test_parse_progress_stateless():
    row = M.parse_progress({"numInputRows": 5, "durationMs": {}})
    assert not row["stateful"] and row["input_rows"] == 5
    assert row["state"]["commit_ms"] == 0.0
