import json
import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_parser_on_captured_log():
    with open(LOG) as f:
        jobs = eventlog.parse(f)
    assert [j["job"] for j in jobs] == [36, 37, 38]
    groups = {j["job"]: j["group"] for j in jobs}
    assert groups == {36: None, 37: "X", 38: "X"}   # 36 ran with no job group
    # independent sums straight from the captured task events
    with open(LOG) as f:
        events = [json.loads(line) for line in f]
    stage_job = {s: e["Job ID"] for e in events
                 if e["Event"] == "SparkListenerJobStart" for s in e["Stage IDs"]}
    want = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            w = want.setdefault(stage_job[e["Stage ID"]], [0, 0, 0])
            w[0] += 1
            w[1] += e["Task Metrics"]["Executor Run Time"]
            w[2] += e["Task Metrics"]["Input Metrics"]["Records Read"]
    for j in jobs:
        n, run_ms, rows = want[j["job"]]
        assert j["tasks"] == n
        assert j["executor_run_s"] == pytest.approx(run_ms / 1e3)
        assert j["input_rows"] == rows
        assert j["end"] >= j["start"] > 1.7e9   # epoch seconds


def test_find_log_rejects_unfinished(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-2").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-2")
