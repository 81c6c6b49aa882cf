"""The event-log reducer on a canned tiny log."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.reduce_events(eventlog.read_events(LOG))


def test_groups_from_job_properties(groups):
    # stage 1 ran in job 0 (group layer.a); job 1 only lists it again;
    # ungrouped jobs and stages of no job are dropped
    assert set(groups) == {"layer.a", "layer.b"}
    assert groups["layer.a"].tasks == 4
    assert groups["layer.b"].tasks == 1


def test_task_metric_totals(groups):
    a, b = groups["layer.a"], groups["layer.b"]
    assert a.run_s == pytest.approx(0.65)
    assert a.cpu_s == pytest.approx(0.25)
    assert a.gc_s == pytest.approx(0.01)
    assert a.spill_b == 1_000_000
    assert a.shuffle_write_b == 2_000_000
    assert a.retries == 1
    assert a.fetch_wait_s == pytest.approx(0.02)
    assert b.fetch_wait_s == pytest.approx(0.005)
    assert b.run_s == pytest.approx(0.03)


def test_task_skew_is_max_over_median_of_busiest_stage(groups):
    # stage 0: 100, 100, 400 ms -> 400 / 100
    assert groups["layer.a"].task_skew() == pytest.approx(4.0)
    assert groups["layer.b"].task_skew() == pytest.approx(1.0)
    assert eventlog.GroupStats().task_skew() == 0.0


def test_sql_metrics_by_name_and_node(groups):
    a = groups["layer.a"]
    # string and numeric updates both count; unknown accumulators do not
    assert a.sql_sum("data sent to Python workers") == 1500
    assert a.sql_sum("number of output rows", node_prefix=eventlog.JOIN_NODES) == 5
    # the adaptive re-plan names accumulator 12
    assert a.sql_sum("number of output rows", node_prefix=("Generate",)) == 8
    assert a.sql_sum("number of output rows") == 13


def test_reduce_dir_skips_status_and_hidden_files(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text(open(LOG).read())
    (d / "appstatus_app").write_text("")
    (d / ".appstatus_app.crc").write_bytes(b"crc\x00")
    assert set(eventlog.reduce_dir(str(tmp_path))) == {"layer.a", "layer.b"}
