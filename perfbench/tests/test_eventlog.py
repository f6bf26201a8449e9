"""The event-log reader on a tiny hand-written log."""

import json

import pytest

from perfbench.eventlog import busy_core_s, parse_label, read_dir


def _task_end(stage, launch_ms, finish_ms, run_ms, cpu_ns, shuffle=(0, 0, 0),
              reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": shuffle[0],
                                     "Local Bytes Read": shuffle[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle[2]},
        },
    }


def _job(job, stages, desc, submitted_ms):
    props = {} if desc is None else {"spark.job.description": desc}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Submission Time": submitted_ms, "Properties": props}


def test_parse_label():
    assert parse_label("it=3 frontier") == ("frontier", 3)
    assert parse_label("it=-1 robots") == ("robots", -1)
    assert parse_label("warmup") == ("warmup", None)
    assert parse_label(None) == ("unlabelled", None)
    assert parse_label("") == ("unlabelled", None)


def test_read_dir_attributes_tasks_to_job_labels(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], "it=2 fetch_log", 1000),
        _task_end(0, 1000, 3000, 2000, 1_500_000_000, (0, 0, 4_000_000)),
        _task_end(1, 3000, 4000, 1000, 500_000_000, (1_000_000, 2_000_000, 0)),
        # a killed attempt adds no executor time
        _task_end(1, 3000, 3500, 500, 100_000_000, reason="TaskKilled"),
        # stage 1 reused by a later job keeps the first job's label
        _job(1, [1, 2], None, 5000),
        _task_end(2, 5000, 5500, 500, 100_000_000),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n{\"Event\": trunc")
    ev = read_dir(str(tmp_path))
    assert [(j.label, j.round, j.submitted) for j in ev.jobs] == [
        ("fetch_log", 2, 1.0), ("unlabelled", None, 5.0)]
    labelled = [t for t in ev.tasks if t.label == "fetch_log"]
    assert len(labelled) == 2 and all(t.round == 2 for t in labelled)
    assert sum(t.run_s for t in labelled) == pytest.approx(3.0)
    assert sum(t.cpu_s for t in labelled) == pytest.approx(2.0)
    assert sum(t.shuffle_mb for t in labelled) == pytest.approx(7.0)
    (other,) = [t for t in ev.tasks if t.label == "unlabelled"]
    assert (other.launch, other.finish, other.run_s) == (5.0, 5.5, 0.5)


def test_busy_core_s_clips_tasks_to_the_window(tmp_path):
    events = [_job(0, [0], "x", 0), _task_end(0, 0, 4000, 4000, 0),
              _task_end(0, 1000, 2000, 1000, 0), _task_end(0, 6000, 7000, 1000, 0)]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    tasks = read_dir(str(tmp_path)).tasks
    assert busy_core_s(tasks, 1.0, 3.0) == pytest.approx(2.0 + 1.0)
    assert busy_core_s(tasks, 4.0, 6.0) == 0
