"""Tests of the benchmark's pure helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json

import pytest

from perfbench import stats, trace
from perfbench.ops import close_f32, parse_repl_table
from perfbench.trace import Span, covered, self_time, summarize_jobs
from perfbench.workload import op_orders


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (99, None), (100, 90.0), (999, 90.0),
     (1000, 99.0), (9999, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, want):
    assert stats.tail_percentile(n) == want


def test_pass_throughput_sums_each_ops_median():
    # three passes of two ops; the machine slowed one execution of each
    op_times = {"a": [1.0, 9.0, 1.0], "b": [3.0, 3.0, 7.0]}
    assert stats.pass_throughput(op_times, 6) == pytest.approx(2 / 4.0)
    # an op that failed in one pass: 5 of 6 ops completed
    assert stats.pass_throughput(op_times, 5) == pytest.approx(5 / 3 / 4.0)


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_union_of_overlapping_children():
    root = Span("op", 0.0, 10.0, children=[
        Span("a", 1.0, 4.0), Span("b", 3.0, 6.0),  # overlap: union 1..6
        Span("c", 8.0, 12.0),  # spills past the parent: clipped to 8..10
        Span("d", 11.0, 12.0),  # outside the parent entirely
    ])
    assert self_time(root) == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_time(Span("leaf", 2.0, 3.5)) == pytest.approx(1.5)


def _task(stage, run_ms, cpu_ns, shuffle_write=0, local_read=0, remote_read=0,
          wait=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": "x", "Update": str(u)} for i, u in accums
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Shuffle Read Metrics": {"Local Bytes Read": local_read,
                                     "Remote Bytes Read": remote_read,
                                     "Fetch Wait Time": wait},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


#: two jobs in one group; job 1 lists stage 0 again (skipped there), and
#: the plan has a MapInPandas node whose SQL metrics ride on the tasks
EVENT_LOG = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "sparkPlanInfo": {"nodeName": "HashAggregate", "metrics": [
         {"name": "number of output rows", "accumulatorId": 9, "metricType": "sum"}],
      "children": [{"nodeName": "MapInPandas", "children": [], "metrics": [
          {"name": "time to run Python workers", "accumulatorId": 1, "metricType": "timing"},
          {"name": "data sent to Python workers", "accumulatorId": 2, "metricType": "size"},
          {"name": "number of output rows", "accumulatorId": 3, "metricType": "sum"},
          {"name": "time to initialize Python workers", "accumulatorId": 4,
           "metricType": "nsTiming"},
      ]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "w/1/op"}},
    _task(0, 10, 4_000_000, shuffle_write=100, accums=[(1, 7), (2, 50), (3, 2), (4, 3e6), (9, 5)]),
    _task(0, 20, 6_000_000, shuffle_write=200, accums=[(1, 3), (2, 50), (3, 1), (4, 1e6)]),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w/1/op"}},
    _task(1, 5, 1_000_000, local_read=250, remote_read=50, wait=2),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
]


def test_task_metrics_aggregate_per_job(tmp_path):
    path = tmp_path / "eventlog"
    path.write_text("\n".join(json.dumps(e) for e in EVENT_LOG) + "\n")
    jobs = summarize_jobs(trace.load_event_log(str(path)))
    j0, j1 = jobs[0].metrics, jobs[1].metrics
    assert (jobs[0].group, jobs[0].submit, jobs[0].end) == ("w/1/op", 1.0, 1.5)
    assert (j0["tasks"], j0["stages"], j1["tasks"], j1["stages"]) == (2, 1, 1, 1)
    assert j0["task_run_ms"] == 30 and j0["task_cpu_ms"] == pytest.approx(10.0)
    assert j0["shuffle_write_bytes"] == 300 and j0["task_gc_ms"] == 2
    assert (j1["shuffle_read_bytes"], j1["fetch_wait_ms"]) == (300, 2)
    # Python-node metrics only; the HashAggregate's row count is not one
    assert (j0["py_time_ms"], j0["py_sent_bytes"], j0["py_rows_out"]) == (10, 100, 3)
    assert j0["py_init_ms"] == pytest.approx(4.0)  # nsTiming -> ms
    assert j1["py_time_ms"] == 0


def test_jobs_attach_to_the_span_holding_their_submission():
    root = Span("op", 0.9, 2.0, attrs={"id": "w/1/op", "op": "op"}, children=[
        Span("queries.build", 0.95, 1.55), Span("exec.collect", 1.55, 1.9),
    ])
    record = trace.build_record(
        "w", [root], [{"id": "w/1/op", "gc_ms": 4, "gc_count": 1}],
        EVENT_LOG, n_pass=1,
    )
    layers = record["ops"][0]["layers"]
    assert layers["queries.build_jobs"] == 1 and layers["exec.jobs"] == 2
    assert layers["exec.result_tail_ms"] == pytest.approx(200.0)
    assert layers["operators.py_time_ms"] == 10 and layers["jvm.gc_ms"] == 4
    op = record["ops"][0]
    assert op["accounted_share"] == pytest.approx(0.95 / 1.1)
    assert op["largest_gap"]["where"] == "after exec.collect"
    assert record["per_pass"]["exec.tasks"] == 3


def test_seed_fixes_op_order_of_every_pass():
    a = list(itertools.islice(op_orders(10, seed=7), 5))
    b = list(itertools.islice(op_orders(10, seed=7), 5))
    c = list(itertools.islice(op_orders(10, seed=8), 5))
    assert a == b and a != c
    assert all(sorted(p) == list(range(10)) for p in a)
    assert len({tuple(p) for p in a}) > 1  # each pass is its own permutation


def test_close_f32_is_relative_at_float32():
    assert close_f32(1000.0, 1000.05)
    assert not close_f32(1000.0, 1000.2)
    assert close_f32(None, None) and not close_f32(None, 1.0)


def test_parse_repl_table_reads_header_and_cells():
    text = (
        "+-------+\n| sum_x |\n+-------+\n| 1.5   |\n+-------+\n"
        "Total execution time: 0.1s\n"
    )
    assert parse_repl_table(text) == [["sum_x"], ["1.5"]]
