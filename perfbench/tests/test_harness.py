"""Tests of the benchmark harness's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import worker  # noqa: E402
from oracle import compare, digest  # noqa: E402
from tracing import Tracer, group_id, read_event_log, self_time_by_name  # noqa: E402


# -- percentile sample rule ---------------------------------------------------

def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 99) == 99
    assert stats.percentile([7.0], 90) == 7.0


def test_samples_beyond_counts_strictly_above_the_percentile():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.samples_beyond(40, 75) == 10
    assert stats.samples_beyond(1, 50) == 0


def test_tail_percentile_refuses_a_thin_tail():
    with pytest.raises(ValueError, match="9 beyond"):
        stats.tail_percentile(list(range(99)), 90)
    assert stats.tail_percentile(list(range(1, 101)), 90) == 90


def test_reportable_tail_picks_the_highest_percentile_the_samples_allow():
    assert stats.reportable_tail(120, (90, 75)) == 90
    assert stats.reportable_tail(60, (90, 75)) == 75
    assert stats.reportable_tail(16, (90, 75)) is None


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 100)


# -- pass rate ----------------------------------------------------------------

def test_pass_rate_counts_raises_and_mismatches_against_attempts():
    executions = [("a", True), ("a", True), ("b", True), ("c", False), ("d", True)]
    checked = {"a": True, "b": False, "c": True}  # d was never checked
    assert stats.pass_rate(executions, checked) == (2, 5)


def test_pass_rate_of_no_executions():
    assert stats.pass_rate([], {"a": True}) == (0, 0)


# -- self time ----------------------------------------------------------------

def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),  # grandchild: counted against span 1 only
        _span(3, 0, 5.0, 6.0),
    ]
    own = stats.self_times(spans)
    assert own == pytest.approx({0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0})


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),   # overlaps span 1: covered 2..8 once
        _span(3, 0, 9.0, 12.0),  # runs past its parent: only 9..10 counts
    ]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_nests_spans_and_self_time_by_name_sums_them():
    tr = Tracer(enabled=True)
    with tr.span("query", 7):
        with tr.span("text.build", 7):
            pass
        with tr.span("text.run", 7):
            pass
    names = [s["name"] for s in tr.spans]
    assert names == ["query", "text.build", "text.run"]
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["exec"] for s in tr.spans} == {7}
    table = self_time_by_name(tr.spans)
    total, own, n = table["query"]
    assert n == 1 and own <= total


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("query"):
        pass
    assert tr.spans == []


# -- event log ----------------------------------------------------------------

def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    def props(gid):
        return {"spark.jobGroup.id": gid} if gid else {}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": props(group_id(3, "build"))},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": props(group_id(3, "build"))},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": props(group_id(3, "run"))},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": props(group_id(3, "run"))},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": props(None)},
    ]
    task = {
        "Executor Run Time": 250, "Executor CPU Time": 2 * 10**8, "JVM GC Time": 10,
        "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
    }
    for stage in (0, 1, 1, 2):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": task})
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")

    out = read_event_log(str(tmp_path))
    assert set(out) == {(3, "build"), (3, "run")}
    build, run = out[(3, "build")], out[(3, "run")]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert (run["jobs"], run["stages"], run["tasks"]) == (1, 1, 2)
    assert run["executor_run_s"] == pytest.approx(0.5)
    assert run["executor_cpu_s"] == pytest.approx(0.4)
    assert run["gc_s"] == pytest.approx(0.02)
    assert run["shuffle_read_bytes"] == 200
    assert run["shuffle_write_bytes"] == 80
    assert run["spill_bytes"] == 12


# -- output digests -------------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    a = digest(["x", "y"], [(1, 2.5), (3, None)])
    b = digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert compare(a, b) is None


def test_digest_reports_what_differs():
    a = digest(["x"], [(1,), (2,)])
    assert "row count" in compare(a, digest(["x"], [(1,)]))
    assert "columns" in compare(a, digest(["z"], [(1,), (2,)]))
    assert "value hash" in compare(a, digest(["x"], [(1,), (3,)]))


# -- passes disturbed by host steal ---------------------------------------------

def _pass(steal, wall=10.0):
    return {"steal_s": steal, "wall_s": wall}


def test_steal_share_is_over_slot_time():
    assert stats.steal_share(_pass(2.0), slots=4) == pytest.approx(0.05)


def test_counted_passes_keep_every_clean_pass():
    passes = [_pass(0.1), _pass(0.5), _pass(0.2)]
    assert stats.counted_passes(passes, need=2, limit=0.03, slots=4) == passes


def test_counted_passes_top_up_with_the_least_disturbed():
    clean, bad, worse = _pass(0.1), _pass(2.0), _pass(4.0)
    got = stats.counted_passes([worse, clean, bad], need=2, limit=0.03, slots=4)
    assert got == [clean, bad]
    assert stats.counted_passes([worse, bad], need=2, limit=0.03, slots=4) == [bad, worse]


# -- traced run: paired passes -------------------------------------------------

def test_traced_turns_pair_up_and_swap_order():
    turns = [stats.traced_turn(i) for i in range(8)]
    assert turns == [True, False, False, True, True, False, False, True]
    # every pair holds one pass of each kind
    assert all(turns[i] != turns[i + 1] for i in range(0, 8, 2))


# -- run isolation: which artifacts belong to a run ------------------------------

def test_artifact_dirs_match_the_whole_input_name(tmp_path, monkeypatch):
    monkeypatch.setattr(worker, "ARTIFACT_ROOT", str(tmp_path))
    mine = ["prs_layout_pbin_w_12_1700000000", "prs_lshsig_pbin_w_12_1700000000_b6"]
    others = ["prs_layout_pbin_w_123_1700000000", "prs_layout_xpbin_w_12_1700000000",
              "prs_layout_sf0.01_1700000000", "other_pbin_w_12_1700000000"]
    for name in mine + others:
        (tmp_path / name).mkdir()
    assert worker.artifact_dirs("pbin_w_12") == sorted(str(tmp_path / n) for n in mine)
