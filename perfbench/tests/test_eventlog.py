"""The parser on a recorded Spark 4.1 rolling event log: two jobs under a
``lake`` group (a shuffle aggregation, split by AQE), one under
``engine``, two with no group. Recorded with
``spark.eventLog.compress=false``; listener events the parser does not
read were dropped, local paths were shortened, and the single part was
split in two to exercise rolled-part order."""

import os

import pytest

from perfbench import eventlog
from perfbench.trace import DRIVER, layer_of_group

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
JOB2_SUBMIT_MS = 1792233631967  # first job of the "engine" group


def test_rolled_parts_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    (d / "appstatus_app").write_text("")
    names = [os.path.basename(f) for f in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_app", "events_2_app", "events_10_app"]


def test_attribution_by_job_group():
    files = eventlog.event_files(FIXTURES)
    assert len(files) == 2
    out = eventlog.attribute(files, 0, float("inf"), layer_of_group)
    assert {k: v["jobs"] for k, v in out.items()} == {"lake": 2, "engine": 1, DRIVER: 2}
    assert out["lake"]["executor_cpu_s"] == pytest.approx(0.345963688)
    assert out["lake"]["shuffle_read_mb"] == pytest.approx(1912 / 2**20)
    assert out["lake"]["shuffle_write_mb"] == pytest.approx(1912 / 2**20)
    assert out["engine"]["shuffle_read_mb"] == 0.0
    assert out["engine"]["executor_cpu_s"] > 0
    assert out[DRIVER]["executor_cpu_s"] > 0


def test_window_excludes_earlier_jobs():
    files = eventlog.event_files(FIXTURES)
    out = eventlog.attribute(files, JOB2_SUBMIT_MS, float("inf"), layer_of_group)
    assert "lake" not in out
    assert out["engine"]["jobs"] == 1 and out[DRIVER]["jobs"] == 2
