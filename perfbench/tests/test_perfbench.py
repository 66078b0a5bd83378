"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload at the tiny size in a subprocess (about
a minute each); the others need no Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(res: dict, registered: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in registered}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_end_to_end(workload, tmp_path):
    """Launched from outside the repository, so the engine must reach the
    Python workers through the path the benchmark sets."""
    res = _result(_run(str(tmp_path), "--workload", workload, "--seed", "3",
                       "--seconds", "1", "--trace", "0", "--size", "tiny"))
    _assert_metrics(res, BENCH["end_to_end"])
    assert all(res["metrics"][m]["value"] > 0 for m in ("setup_s", "items_per_s", "op_p50_s"))


def test_smoke_traced(tmp_path):
    res = _result(_run(str(tmp_path), "--workload", "world_build", "--seed", "4",
                       "--seconds", "1", "--trace", "1", "--size", "tiny"))
    _assert_metrics(res, BENCH["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for span in trace.SPANS:  # every layer ran, in the workload or the sweep
        assert m[f"{span}.wall_s"] > 0 and m[f"{span}.jobs"] > 0, span
    for name in trace.KERNEL_METRICS:
        assert m[name] > 0, name


def test_bare_directory_fails(tmp_path):
    """With only the benchmark's own files the run must fail, not report."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "world_build",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_registered_metrics_match_the_code():
    from perfbench.run import E2E_UNITS

    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == trace.per_layer_units()


# -- output checks -----------------------------------------------------------

def _square(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def _wkb_polygon(*rings) -> bytes:
    import struct

    out = struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring)) + np.asarray(ring, dtype="<f8").tobytes()
    return out


def test_world_check_fails_on_swapped_block_id():
    from perfbench.workloads import check_world, world_digest

    ids = ["AAA_s00_0", "AAA_s00_1", "AAA_s01_0"]
    geoms = [_wkb_polygon(_square(i, 0, i + 1, 1)) for i in range(3)]
    pinned = world_digest(ids, geoms)
    assert check_world(ids, geoms, pinned) == pinned
    swapped = [ids[1], ids[0], ids[2]]
    with pytest.raises(checks.CheckFailed, match="digest"):
        check_world(swapped, geoms, pinned)
    with pytest.raises(checks.CheckFailed, match="not unique"):
        check_world([ids[0], ids[0], ids[2]], geoms, pinned)


def test_brute_force_assignment():
    """Even-odd over holes, and the min block_id wins on a shared edge."""
    outer = _square(0, 0, 4, 4)
    hole = _square(1, 1, 2, 2)
    bs = checks.BlockSet(
        ["b_ring", "a_right", "c_hole"],
        [_wkb_polygon(outer, hole), _wkb_polygon(_square(4, 0, 5, 4)), _wkb_polygon(hole)],
    )
    lon = np.array([0.5, 1.5, 4.5, 9.0, 4.0])
    lat = np.array([0.5, 1.5, 2.0, 9.0, 2.0])
    got = [bs.block_id(i) for i in bs.assign(lon, lat)]
    assert got[:4] == ["b_ring", "c_hole", "a_right", None]
    # (4, 2) lies on the edge b_ring shares with a_right: a ray cast counts
    # it inside one of them, and ties go to the smaller id when both hold it
    assert got[4] in ("a_right", "b_ring")


def test_assignment_check_fails_on_a_moved_doc():
    from perfbench.workloads import check_assignment

    class Rows:
        def __init__(self, rows):
            self.rows = rows

        def select(self, *cols):
            return self

        def collect(self):
            return self.rows

    state = {"ids": np.array(["d0", "d1", "d2"], dtype=object), "batch": np.array([0, 0, 0]),
             "expected": {"d0": "A_1", "d1": "A_2"}}
    check_assignment(Rows([("d0", "A_1"), ("d1", "A_2")]), state, 0, 2)
    with pytest.raises(checks.CheckFailed, match="brute force"):
        check_assignment(Rows([("d0", "A_2"), ("d1", "A_2")]), state, 0, 2)
    with pytest.raises(checks.CheckFailed, match="more than once"):
        check_assignment(Rows([("d0", "A_1"), ("d0", "A_1"), ("d1", "A_2")]), state, 0, 3)


# -- event log ---------------------------------------------------------------

def test_event_log_per_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "extract#0"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 5},
         "Properties": {"spark.jobGroup.id": "extract#0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1500, "Getting Result Time": 0,
                       "Failed": False, "Killed": False,
                       "Accumulables": [{"Name": "time to start Python workers", "Update": "30"},
                                        {"Name": "data sent to Python workers", "Update": "2000000"}]},
         "Task Metrics": {"Executor Run Time": 300, "Executor Deserialize Time": 50,
                          "Result Serialization Time": 0, "Executor CPU Time": 250_000_000,
                          "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    groups = trace.parse_event_log(str(log))
    g = groups["extract#0"]
    assert (g.tasks, g.jobs) == (1, [(1.0, 1.6)])
    assert g.cpu_s == pytest.approx(0.25) and g.sched_delay_s == pytest.approx(0.05)
    assert g.python_init_s == pytest.approx(0.03) and g.arrow_bytes == 2_000_000
    span = trace.Span("extract", 0.5, 2.0, None, "extract#0", "timed")
    m = trace.span_metrics([span], groups)
    assert m["extract.wall_s"] == pytest.approx(1.5)
    assert m["extract.driver_s"] == pytest.approx(0.9)  # 1.5 s span, job ran 0.6 s
    assert m["extract.shuffle_mb"] == pytest.approx(3.0)
