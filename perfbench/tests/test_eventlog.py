"""The event-log folder on tiny hand-written logs."""

import json

import pytest

import eventlog


def _job(job, group, submit_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": submit_ms, "Stage IDs": stages,
            "Properties": props}


def _task(stage, cpu_ns, gc_ms=0, shuffle=0, read=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor CPU Time": cpu_ns,
                             "Executor Deserialize CPU Time": 0,
                             "JVM GC Time": gc_ms,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": shuffle},
                             "Input Metrics": {"Bytes Read": read}}}


# wave-1 starts at t=1000 ms with phases dequeue (0.5 s) then px_write (1 s)
EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, "t0-wave-1", 1100, [0, 1]),
    _job(1, "t0-wave-1", 1700, [2]),
    _job(2, "t0-run", 5000, [3]),
    _job(3, None, 6000, [4]),
    _task(0, 2e9, gc_ms=100, shuffle=1024),
    _task(1, 1e9),
    _task(2, 3e9, read=4096),
    _task(2, 1e9, read=4096),
    _task(3, 5e8),
    _task(4, 1e8),
]
SPANS = {"t0-wave-1": (1000.0, [("dequeue", 0.5), ("px_write", 1.0)])}


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def _check(folded):
    assert folded["total"]["jobs"] == 4
    assert folded["total"]["tasks"] == 6
    assert folded["total"]["executor_cpu_s"] == pytest.approx(7.6)
    wave = folded["groups"]["t0-wave-1"]
    assert (wave["jobs"], wave["tasks"]) == (2, 4)
    assert wave["executor_cpu_s"] == pytest.approx(7.0)
    assert wave["gc_s"] == pytest.approx(0.1)
    assert wave["shuffle_write_bytes"] == 1024
    assert wave["input_bytes"] == 8192
    assert folded["groups"][""]["jobs"] == 1
    deq = folded["phases"][("t0-wave-1", "dequeue")]
    px = folded["phases"][("t0-wave-1", "px_write")]
    assert (deq["jobs"], deq["tasks"], deq["executor_cpu_s"]) == (1, 2, 3.0)
    assert (px["jobs"], px["tasks"], px["executor_cpu_s"]) == (1, 2, 4.0)
    run = eventlog.sum_groups(folded, "t0-")
    assert (run["jobs"], run["tasks"]) == (3, 5)


def test_fold_plain_log(tmp_path):
    _write(tmp_path / "local-1", EVENTS)
    (tmp_path / ".local-1.crc").write_bytes(b"\0")
    _check(eventlog.fold(eventlog.log_files(str(tmp_path)), SPANS))


def test_phase_of_edges():
    phases = [("a", 1.0), ("b", 2.0)]
    assert eventlog.phase_of(999.0, 1000.0, phases) is None
    assert eventlog.phase_of(1000.0, 1000.0, phases) == "a"
    assert eventlog.phase_of(2000.0, 1000.0, phases) == "b"
    # a job submitted after the last interval belongs to the last phase
    assert eventlog.phase_of(9000.0, 1000.0, phases) == "b"


def test_session_layers_units():
    sums = {"executor_cpu_s": 1.5, "gc_s": 0.25,
            "shuffle_write_bytes": 2 * 2**20, "input_bytes": 2**20}
    assert eventlog.session_layers(sums, 3.0) == {
        "spark.executor_cpu_s": 1.5, "spark.python_cpu_s": 3.0,
        "spark.gc_s": 0.25, "spark.shuffle_write_mb": 2.0,
        "spark.input_mb": 1.0}
