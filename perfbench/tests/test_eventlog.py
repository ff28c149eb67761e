"""The event-log parser on a small recorded log: three jobs of a pandas
UDF query (the third runs Python workers) and two jobs plus four
micro-batches of a streaming sink."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog as L  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
QUERY = (1792207234388, 1792207242448)  # jobs 0-2
SINK = (1792207244400, 1792207251800)  # jobs 9-10 and four batches


@pytest.fixture(scope="module")
def log():
    return L.parse([LOG])


def test_parse_counts(log):
    assert len(log["jobs"]) == 5
    assert len(log["tasks"]) == 8
    assert len(log["stages"]) == 5
    assert [b["ms"] for b in log["batches"]] == [2088, 2225, 1519, 1362]


def test_query_window(log):
    wall = (QUERY[1] - QUERY[0]) / 1000
    m = L.window_measures(log, [QUERY], wall)
    assert m["jobs"] == 3
    assert m["tasks"] == 6
    assert m["python_s"] == pytest.approx(14.167)
    # jobs cover 902 + 679 + 3528 ms of the 8060 ms window
    assert m["driver_s"] == pytest.approx(wall - 5.109)
    assert m["batch_ms"] == []
    assert m["task_cpu_s"] > 0


def test_sink_window(log):
    m = L.window_measures(log, [SINK], 7.4)
    assert (m["jobs"], m["tasks"]) == (2, 2)
    assert m["batch_ms"] == [2088, 2225, 1519, 1362]
    assert m["python_s"] == 0


def test_windows_add_up(log):
    both = L.window_measures(log, [QUERY, SINK], 1.0)
    assert both["jobs"] == 5
    assert both["tasks"] == 8


def test_covered_ms_merges_overlaps():
    assert L._covered_ms([(0, 10), (5, 15), (20, 30)], 0, 25) == 20
    assert L._covered_ms([(30, 40)], 0, 25) == 0


def test_log_files_finds_rolling_and_plain_logs(tmp_path):
    shutil.copy(LOG, tmp_path / "local-1")
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    shutil.copy(LOG, rolling / "events_1_local-2")
    (rolling / "appstatus_local-2").write_text("")
    found = L.log_files(str(tmp_path))
    assert sorted(os.path.basename(f) for f in found) == ["events_1_local-2", "local-1"]
