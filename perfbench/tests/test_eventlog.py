import json

import eventlog


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, run_ms, py_in=0, py_out=0, shuffle_w=0,
          spill=0, peak=0):
    accs = []
    if py_in:
        accs.append({"Name": eventlog.PY_SENT, "Update": py_in})
    if py_out:
        accs.append({"Name": eventlog.PY_RECEIVED, "Update": str(py_out)})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": accs},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000 // 2,
                "JVM GC Time": 5,
                "Peak Execution Memory": peak,
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            }}


EVENTS = [
    _job(0, [0, 1], "pipeline.extract_pages"),
    _task(0, 0, 100, 90, shuffle_w=500),
    _task(1, 100, 1100, 1000, py_in=300, py_out=200, peak=7),
    _task(1, 100, 400, 300, py_in=100, py_out=50, peak=9),
    _task(1, 100, 300, 200, py_in=100, py_out=50),
    _job(1, [2]),
    _task(2, 0, 10, 10, spill=4),
]


def test_groups_stages_and_python_flag():
    groups = eventlog.parse_events(json.dumps(e) for e in EVENTS)
    assert set(groups) == {"pipeline.extract_pages", ""}
    g = groups["pipeline.extract_pages"]
    py = g.total(python_only=True)
    assert py.tasks == 3
    assert py.python_bytes_in == 500 and py.python_bytes_out == 300
    assert py.task_max_s == 1.0 and py.task_p50_s == 0.3
    assert py.peak_execution_memory == 9
    assert abs(py.run_s - 1.5) < 1e-9 and abs(py.cpu_s - 0.75) < 1e-9
    everything = g.total()
    assert everything.tasks == 4 and everything.shuffle_write_bytes == 500
    assert everything.shuffle_read_bytes == 40
    assert groups[""].total().spill_bytes == 4


def test_rolling_and_plain_logs(tmp_path):
    rolling = tmp_path / "eventlog_v2_local-1"
    rolling.mkdir()
    lines = [json.dumps(e) + "\n" for e in EVENTS]
    (rolling / "events_2_local-1").write_text("".join(lines[4:]))
    (rolling / "events_1_local-1").write_text("".join(lines[:4]))
    (rolling / "appstatus_local-1").write_text("")
    (tmp_path / "local-2").write_text("".join(lines[:3]))
    (tmp_path / "local-3.inprogress").write_text("".join(lines))
    groups = eventlog.parse_dir(str(tmp_path))
    g = groups["pipeline.extract_pages"]
    assert g.total().tasks == 4 + 2  # local-1 (all four) + local-2 (two)
    assert groups[""].total().tasks == 1
