import json

import pytest

import tracing
from tracing import Tracer


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_nested_spans_and_layer_metrics():
    clock = FakeClock()
    t = Tracer(clock=clock)

    def leaf():
        clock.t += 0.002
        return [1, 2, 3]

    def mid():
        clock.t += 0.001
        out = t.wrap("index.probe_lists", leaf)()
        clock.t += 0.003
        return out

    sql = t.wrap("sql.sql", mid)
    for _ in range(2):
        with t.op("query"):
            sql()
            with t.span("spark.exec"):
                clock.t += 0.010
    m = t.layer_metrics()
    assert m["sql.plan_ms"] == pytest.approx(4.0)
    assert m["index.probe_lists_ms"] == pytest.approx(2.0)
    assert m["spark.exec_ms"] == pytest.approx(10.0)
    assert m["trace.query_wall_ms"] == pytest.approx(16.0)
    assert m["trace.query_accounted_ratio"] == pytest.approx(1.0)
    assert m["index.lists_probed"] == 3
    assert m["trace.spans_per_query"] == 4  # op, sql, probe_lists, spark.exec
    assert m["knn.plan_ms"] == 0.0  # no join ops


def test_install_patches_definition_and_importers_then_restores():
    import duckdb_vss_spark.engine as engine
    import duckdb_vss_spark.index.ivf as ivf
    import duckdb_vss_spark.plans as plans

    orig_decide, orig_search = plans.decide, ivf.IVFIndex.__dict__["search"]
    orig_knn = engine.knn_join_flat_indexed
    t = Tracer()
    t.install()
    try:
        assert plans.decide is not orig_decide
        assert engine.decide is plans.decide  # imported by name into the engine
        assert engine.knn_join_flat_indexed is not orig_knn
        assert engine.exact_topk.__wrapped_by_perfbench__ is not None  # aliased import
        assert ivf.IVFIndex.__dict__["search"] is not orig_search
    finally:
        t.uninstall()
    assert plans.decide is orig_decide and engine.decide is orig_decide
    assert engine.knn_join_flat_indexed is orig_knn
    assert ivf.IVFIndex.__dict__["search"] is orig_search


def test_read_event_log_groups_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1005, "Failed": False},
         "Task Metrics": {"Executor Run Time": 40, "Input Metrics": {"Bytes Read": 100, "Records Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 1015, "Failed": True}, "Task Metrics": {"Executor Run Time": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1001}, "Task Metrics": {"Executor Run Time": 99}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = tracing.read_event_log(str(tmp_path))
    assert set(g) == {"op-0"}
    c = g["op-0"]
    assert (c["jobs"], c["stages"], c["tasks"], c["failed_tasks"]) == (1, 1, 2, 1)
    assert c["executor_run_ms"] == 42 and c["scheduler_delay_ms"] == 20
    assert (c["input_bytes"], c["input_records"], c["shuffle_write_bytes"]) == (100, 7, 30)
    m = tracing.spark_metrics({0: "query", 1: "query"}, g, {0: (3, 12.0)})
    assert m["spark.jobs_per_query"] == 0.5
    assert m["spark.codegen_compiles_per_query"] == 1.5
    assert m["spark.codegen_compile_ms_per_query"] == 6.0
    assert m["spark.failed_tasks"] == 1.0
    assert m["spark.jobs_per_join"] == 0.0


def test_tree_rss_counts_this_process():
    assert tracing.tree_rss_bytes(__import__("os").getpid()) > 1 << 20


def test_tree_cpu_grows_with_work_in_this_process():
    import os
    import time

    pid = os.getpid()
    before = tracing.tree_cpu_s(pid)
    end = time.process_time() + 0.2
    while time.process_time() < end:
        pass
    assert tracing.tree_cpu_s(pid) - before >= 0.1
