import os
import subprocess
import sys

import sparkstatus
import sweep

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_refuses_a_directory_without_the_package(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "flows_backlog",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def _stage(cpu_ns=0, run_ms=0, tasks=1, shuffle=0):
    return {"executorCpuTime": cpu_ns, "executorRunTime": run_ms, "jvmGcTime": 0,
            "shuffleReadBytes": shuffle, "shuffleWriteBytes": shuffle,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "numCompleteTasks": tasks}


def test_marker_windows_charge_each_stage_once():
    m = sparkstatus.MARKER
    jobs = [
        {"jobId": 0, "stageIds": [0, 1]},
        {"jobId": 1, "stageIds": [98], "jobGroup": m + "a"},
        {"jobId": 2, "stageIds": [1, 2]},  # stage 1 reused: already charged to a
        {"jobId": 3, "stageIds": [99], "jobGroup": m + "b"},
    ]
    stages = {0: _stage(1e9, 1000), 1: _stage(2e9, 500, shuffle=10), 2: _stage(0, 250, 3),
              98: _stage(5e9), 99: _stage(5e9)}
    u = sparkstatus.by_marker(jobs, stages)
    assert (u["a"].jobs, u["a"].cpu_s, u["a"].run_s, u["a"].shuffle_read_bytes) == (1, 3.0, 1.5, 10)
    assert (u["b"].jobs, u["b"].cpu_s, u["b"].run_s, u["b"].tasks) == (1, 0.0, 0.25, 3)


def test_batch_attribution_reads_the_job_description():
    jobs = [
        {"jobId": 0, "stageIds": [0], "description": "\nid = x\nrunId = y\nbatch = 0"},
        {"jobId": 1, "stageIds": [1], "description": "unrelated"},
        {"jobId": 2, "stageIds": [2], "description": "\nid = x\nrunId = y\nbatch = 1"},
    ]
    stages = {i: _stage(1e9) for i in range(3)}
    u = sparkstatus.by_batch(jobs, stages)
    assert sorted(u) == [0, 1]
    assert u[0].cpu_s == u[1].cpu_s == 1.0


def test_query_selection_spans_the_registry():
    names = [f"q{i:03d}" for i in range(190)]
    picked = sweep.select(names, 20)
    assert len(picked) == len(set(picked)) == 20
    assert picked[0] == "q000" and picked[-1] >= "q180"
