"""Event-log parsing and span attribution, on a small log recorded from a
local Spark 4.1 session (trimmed to the fields the parser reads): two
actions, ``groupBy(...).count().collect()`` (jobs 0 and 1) and
``range(100).count()`` (jobs 2 and 3), each inside a known window."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Recorder, Span, _subtract, _union, attribute, event_files, parse_event_log  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# wall-clock windows recorded around the two actions
FIRST = (1792210921.3581805, 1792210927.0252244)
SECOND = (1792210927.3254302, 1792210927.823488)


def test_event_files_finds_rolling_log():
    files = event_files(LOG)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1792210917145"]


def test_parse_jobs_and_task_metrics():
    jobs = parse_event_log(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3]
    assert jobs[0].start == pytest.approx(1792210925.256)
    assert jobs[0].end == pytest.approx(1792210926.313)
    assert jobs[1].stages == [1, 2]
    # stage 0 ran two tasks that each wrote 182 shuffle bytes
    assert jobs[0].shuffle_write_bytes == 364
    assert jobs[0].task_cpu_s == pytest.approx((168806955 + 336221497) / 1e9)
    assert jobs[1].task_cpu_s == pytest.approx(118864357 / 1e9)


def test_jobs_go_to_innermost_span_by_window():
    jobs = parse_event_log(LOG)
    spans = [
        Span("pass", "", FIRST[0], SECOND[1]),
        Span("first", "build", FIRST[0], FIRST[1], parent=0),
        Span("second", "exec", SECOND[0], SECOND[1], parent=0),
    ]
    st = attribute(spans, jobs)
    assert (st["first"].jobs, st["second"].jobs, st["pass"].jobs) == (2, 2, 0)
    assert st["pass"].self_s == pytest.approx(SECOND[0] - FIRST[1])
    assert st["first"].self_s == pytest.approx(FIRST[1] - FIRST[0])
    busy = (1792210926.313 - 1792210925.256) + (1792210926.906 - 1792210926.624)
    assert st["first"].driver_s == pytest.approx(FIRST[1] - FIRST[0] - busy)
    assert st["second"].by_kind == {"exec": pytest.approx(SECOND[1] - SECOND[0])}
    assert st["second"].shuffle_bytes == 118


def test_job_in_a_gap_goes_to_the_parent():
    jobs = parse_event_log(LOG)
    # the child window ends before job 1 is submitted
    spans = [Span("outer", "", FIRST[0], FIRST[1]), Span("inner", "", FIRST[0], 1792210926.5, parent=0)]
    st = attribute(spans, jobs)
    assert (st["inner"].jobs, st["outer"].jobs) == (1, 1)


def test_interval_helpers():
    assert _union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert _subtract((0, 10), [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert _subtract((0, 1), []) == [(0, 1)]


def test_recorder_nests_and_is_free_when_off():
    rec = Recorder()
    calls = []
    f = rec.wrap(lambda x: calls.append(x) or x, "layer")
    assert f(1) == 1 and rec.spans == []
    rec.enabled = True
    outer = rec.open("outer")
    f(2)
    rec.close(outer)
    assert [s.layer for s in rec.spans] == ["outer", "layer"]
    assert rec.spans[1].parent == 0 and rec.spans[1].end >= rec.spans[1].start
