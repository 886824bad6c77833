"""Fold-parser and span-arithmetic tests. The fragment is a trimmed
event log recorded from a two-job run: one job group ``g1`` around a
grouped aggregate, then an untagged count."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import self_times  # noqa: E402

FRAGMENT = os.path.join(HERE, "eventlog_fragment.jsonl")


def test_fold_attributes_tasks_to_job_groups():
    with open(FRAGMENT) as f:
        groups = eventlog.fold_lines(f)
    assert set(groups) == {"g1", ""}
    g1 = groups["g1"]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 2, 3)
    assert abs(g1["executor_run_s"] - 0.807) < 1e-12
    assert abs(g1["executor_cpu_s"] - 0.408526301) < 1e-12
    assert g1["shuffle_write_bytes"] == g1["shuffle_read_bytes"] == 772
    assert g1["stage_windows"] == [
        (1792189934.098, 1792189934.804),
        (1792189934.965, 1792189935.165),
    ]
    untagged = groups[""]
    assert (untagged["jobs"], untagged["stages"], untagged["tasks"]) == (2, 2, 3)


def test_fold_dir_reads_rolled_and_plain_logs(tmp_path):
    with open(FRAGMENT) as f:
        lines = f.readlines()
    rolled = tmp_path / "eventlog_v2_local-1"
    rolled.mkdir()
    # a stage submitted in one part and completed in the next still
    # folds under its group
    (rolled / "events_1_local-1").write_text("".join(lines[:3]))
    (rolled / "events_2_local-1").write_text("".join(lines[3:]))
    (rolled / "appstatus_local-1").write_text("")
    (tmp_path / "local-2").write_text("".join(lines))
    (tmp_path / "local-3.inprogress").write_text("not json")
    groups = eventlog.fold_dir(str(tmp_path))
    assert groups["g1"]["tasks"] == 6
    assert groups["g1"]["stages"] == 4


def test_union_seconds_merges_and_clips():
    windows = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert eventlog.union_seconds(windows, 0.0, 10.0) == 3.0 + 1.0 + 1.0
    assert eventlog.union_seconds([], 0.0, 1.0) == 0.0


def test_self_times_sum_to_root_wall():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "start": 5.0, "end": 9.5},
    ]
    st = self_times(spans)
    assert st == {1: 2.5, 2: 2.0, 3: 1.0, 4: 4.5}
    assert sum(st.values()) == 10.0
