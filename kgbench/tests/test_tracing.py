import json

import pytest

from kgbench import tracing


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_spans_nest_and_tag_job_groups():
    clock, groups = FakeClock(), []
    tr = tracing.Tracer(groups.append, clock)
    with tr.span("job", kind="root") as root:
        clock.t = 1.0
        with tr.span("extraction") as ext:
            clock.t = 4.0
            with tr.span("bench.count", kind="bench"):
                clock.t = 4.5
            tr.count("rows", 10)
        clock.t = 6.0
    assert ext.parent == root.span_id
    assert groups == [root.span_id, ext.span_id, groups[2], ext.span_id,
                      root.span_id, None]
    st = tracing.self_times(tr.spans)
    assert st[root.span_id] == pytest.approx(2.5)
    assert st[ext.span_id] == pytest.approx(3.0)
    assert sum(st.values()) == pytest.approx(root.duration)
    # counters skip bench spans and land on the layer span
    assert ext.counters == {"rows": 10}


def test_self_time_clips_children_to_parent():
    parent = tracing.Span("p", "p", "root", None, 1, 0.0, 10.0)
    kids = [tracing.Span("a", "a", "layer", "p", 1, 2.0, 5.0),
            tracing.Span("b", "b", "layer", "p", 1, 4.0, 12.0)]
    assert tracing.self_times([parent] + kids)["p"] == pytest.approx(2.0)


def _task(stage, launch, finish, run, **metrics):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": metrics.pop("reason", "Success")},
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Getting Result Time": 0,
                      "Failed": metrics.pop("failed", False)},
        "Task Metrics": {
            "Executor Deserialize Time": 2, "Executor Run Time": run,
            "Result Serialization Time": 1,
            "JVM GC Time": metrics.get("gc", 0),
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": metrics.get("shuffle", 0)},
        },
    }


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "kgbench-1"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {"spark.jobGroup.id": "kgbench-1"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "kgbench-2"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {}},
    _task(0, 100, 150, 40, shuffle=1000, gc=5),
    _task(0, 100, 130, 20, shuffle=500),
    _task(0, 100, 110, 10, shuffle=0),
    _task(1, 200, 210, 5, spill=77),
    _task(2, 300, 400, 90, failed=True, reason="ExceptionFailure"),
    _task(3, 500, 501, 1),
]


def test_parse_event_log_attributes_tasks_to_groups():
    lines = [json.dumps(e) for e in EVENTS] + [""]
    log = tracing.parse_event_log(lines)
    assert log.job_group == {0: "kgbench-1", 1: "kgbench-2", 2: None}
    one = tracing.engine_totals(log, ["kgbench-1"])
    assert one["jobs"] == 1 and one["tasks"] == 4
    assert one["shuffle_write_bytes"] == 1500
    assert one["spill_bytes"] == 77
    assert one["gc_s"] == pytest.approx(0.005)
    assert one["run_s"] == pytest.approx(0.075)
    # delay = duration - run - deserialize - result serialization
    assert one["scheduler_delay_s"] == pytest.approx(
        (7 + 7 + 0 + 2) / 1000.0)
    two = tracing.engine_totals(log, ["kgbench-2"])
    assert two["task_failures"] == 1
    # slowest / median task of the heaviest stage (stage 0: 40, 20, 10)
    assert tracing.heaviest_stage_skew(log, ["kgbench-1"]) == 2.0
    assert tracing.heaviest_stage_skew(log, ["nobody"]) == 0.0
