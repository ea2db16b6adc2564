"""Pins the event-log reader and the layer spans on tiny known jobs.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import eventlog  # noqa: E402
from spans import Spans, layer_of  # noqa: E402


@pytest.fixture(scope="module")
def logged(tmp_path_factory):
    """Two tagged job groups in a fresh session's event log."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from stock_data_project_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("events")
    spark = get_spark(
        "perfbench-test",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    sc.setJobGroup("one-stage", "four tasks")
    sc.setLocalProperty("perfbench.layer", "operators")
    assert len(spark.range(0, 100, 1, 4).collect()) == 100
    sc.setLocalProperty("perfbench.layer", None)
    sc.setJobGroup("two-stages", "a shuffle")
    assert sc.parallelize(range(10), 2).map(lambda x: (x % 3, 1)).reduceByKey(
        lambda a, b: a + b, 3
    ).count() == 3
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    return str(log_dir)


def test_counts_of_a_one_stage_job(logged):
    g = eventlog.group_stats(logged, "perfbench.layer")["one-stage"]
    assert (g.jobs, len(g.stages), g.tasks) == (1, 1, 4)
    assert set(g.run_s_by_site) == {"operators"}
    assert g.run_s_by_site["operators"] == pytest.approx(g.executor_run_s)
    assert 0 < g.stage_active_s()


def test_counts_of_a_shuffle_job_and_pyspark_call_site(logged):
    g = eventlog.group_stats(logged)["two-stages"]
    assert (g.jobs, len(g.stages), g.tasks) == (1, 2, 5)
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes > 0
    (site,) = g.run_s_by_site
    assert site.startswith("count at ") and "test_eventlog.py" in site


def test_untagged_jobs_are_ignored(logged):
    assert set(eventlog.group_stats(logged)) == {"one-stage", "two-stages"}


def test_stage_union_merges_overlaps():
    g = eventlog.GroupStats()
    g.intervals = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert g.stage_active_s() == pytest.approx(4.0)


def test_rolling_files_are_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_app").write_text(f'{{"Event": "e{i}"}}\n')
    (d / "appstatus_app").write_text("")
    assert [e["Event"] for e in eventlog.read_events(str(tmp_path))] == ["e1", "e2", "e10"]


def test_spans_self_times_sum_to_wall_and_restore_originals():
    import time
    import types

    from pyspark import cloudpickle

    from stock_data_project_spark import catalog

    seen = []
    spans = Spans(on_layer=seen.append)
    original = catalog.table_path
    spans.install()
    try:
        assert catalog.table_path is not original
        # a kernel shipped to a worker carries the original, not the tracer
        shipped = cloudpickle.loads(cloudpickle.dumps(catalog.table_path))
        assert type(shipped) is types.FunctionType
        assert shipped("a", "b") == original("a", "b")
        t = time.perf_counter()
        with spans.span("plans"):
            time.sleep(0.01)
            assert catalog.table_path("sf", "events") == os.path.join("sf", "events.parquet")
        wall = time.perf_counter() - t
    finally:
        spans.uninstall()
    assert catalog.table_path is original
    assert spans.calls == {"catalog": 1, "plans": 1}
    assert sum(spans.self_s.values()) == pytest.approx(wall, rel=0.05)
    assert seen == ["plans", "catalog", "plans", None]


def test_layer_names():
    assert layer_of("stock_data_project_spark.operators.ingest") == "ingest"
    assert layer_of("stock_data_project_spark.operators.dedup") == "operators"
    assert layer_of("stock_data_project_spark.plans.stock") == "plans"
    assert layer_of("stock_data_project_spark") == "package"
