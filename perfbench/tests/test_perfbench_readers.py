import os
from pathlib import Path

import pytest

import readers

# trimmed from the event log of one run_extraction call over 40 generated
# conversations at local[2], its jobs submitted under job group "pb-job"
DATA = Path(__file__).resolve().parent / "data"


def test_captured_event_log():
    s = readers.summarize(readers.read_events(str(DATA)), "pb-job")
    assert s["tasks"] == 13
    assert s.get("task_failures", 0) == 0
    assert s["shuffle_bytes"] == 37112
    assert s["python_bytes_sent"] == 83232
    assert s["python_bytes_received"] == 80864
    assert s["output_bytes"] == 24462
    assert s["output_records"] == 349
    assert s["gc_s"] == pytest.approx(0.011)
    assert s["executor_cpu_s"] == pytest.approx(0.973008086)
    assert s["spill_bytes"] == 0
    # the extraction stage ran as a single task
    assert s["task_s_max_over_p50"] == 1.0


def test_other_job_groups_are_left_out():
    s = readers.summarize(readers.read_events(str(DATA)), "no-such-group")
    assert s == {}


def _task(stage, ms, reason="Success", sent=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": 0, "Finish Time": ms,
                          "Accumulables": [{"Name": readers.PY_SENT,
                                            "Update": str(sent)}]},
            "Task Metrics": {}}


def test_failures_and_the_extraction_stage_spread():
    events = [{"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
               "Properties": {"spark.jobGroup.id": "g"}},
              _task(1, 100), _task(1, 900),            # no Python
              _task(2, 1000, sent=5), _task(2, 2000, sent=5),
              _task(2, 4000, sent=5), _task(2, 50, reason="ExceptionFailure")]
    s = readers.summarize(events, "g")
    assert s["task_failures"] == 1
    assert s["python_bytes_sent"] == 15
    assert s["task_s_max_over_p50"] == pytest.approx(4.0 / 2.0)


def test_vm_hwm_of_this_process_tree():
    pid = os.getpid()
    assert pid in readers.descendants(pid)
    assert readers.vm_hwm_kb(pid) > 0
    assert readers.tree_hwm_mb(pid) >= readers.vm_hwm_kb(pid) / 1024
    assert readers.vm_hwm_kb(2 ** 22 + 7) == 0    # no such process
