"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q``.

The unit tests run in milliseconds. The smoke tests run each workload
end to end and check every named metric is printed with its unit and no
op failed: the read workloads at sf0.001 (about a minute each), and
``warehouse_load`` at its own input scale, the smallest at which the
engine's auto policy picks the parquet zone (about two minutes).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from checks import Checker, rows_fingerprint  # noqa: E402
from spans import attribute, innermost_span, parse_event_log, self_times, tail, union_length  # noqa: E402


def _span(i, name, start, end, parent=None, op_id=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op_id": op_id}


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert tail([1.0] * 39) == {"omitted": "39 samples; p75 needs at least 40", "samples": 39}
    t = tail([float(i) for i in range(1, 41)])
    assert (t["percentile"], t["value"], t["samples"]) == (75.0, 30.0, 40)
    t = tail([float(i) for i in range(1, 1001)])
    assert (t["percentile"], t["value"]) == (99.0, 990.0)
    t = tail([float(i) for i in range(1, 10001)])
    assert (t["percentile"], t["value"]) == (99.9, 9990.0)


def test_self_time_is_duration_minus_children_union():
    assert union_length([(1, 3), (2, 5), (8, 10)]) == 6
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, parent=0),
        _span(2, "b", 2.0, 5.0, parent=0),
        _span(3, "c", 8.0, 12.0, parent=0),  # clipped to the parent's end
        _span(4, "d", 2.5, 2.75, parent=2),  # grandchild: not the op's child
    ]
    s = self_times(spans)
    assert s[0] == pytest.approx(4.0)
    assert s[2] == pytest.approx(2.75)
    assert s[4] == pytest.approx(0.25)


def test_jobs_attributed_to_innermost_span_by_submit_time(tmp_path):
    spans = [
        _span(0, "op", 100.0, 110.0, op_id=0),
        _span(1, "exec.action", 102.0, 108.0, parent=0, op_id=0),
        _span(2, "op", 111.0, 120.0, op_id=1),
    ]
    assert innermost_span(spans, 101.0)["id"] == 0
    assert innermost_span(spans, 105.0)["id"] == 1
    assert innermost_span(spans, 110.5) is None
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 105000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 105100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": 105600},
         "Task Metrics": {"Executor Run Time": 250, "Executor CPU Time": 2e8, "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 115000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": 115000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Launch Time": 115000},
         "Task Metrics": {"Executor Run Time": 100, "Output Metrics": {"Bytes Written": 7}}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 110500, "Stage IDs": []},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = attribute(spans, parse_event_log(str(path)))
    assert got[1]["jobs"] == 1 and got[1]["stages"] == 1 and got[1]["tasks"] == 1
    assert got[1]["task_wait_s"] == pytest.approx(0.5)
    assert got[1]["run_s"] == pytest.approx(0.25) and got[1]["cpu_s"] == pytest.approx(0.2)
    assert got[1]["shuffle_write_b"] == 1024
    assert got[2]["tasks"] == 1 and got[2]["output_b"] == 7
    assert got[None]["jobs"] == 1


def test_rows_fingerprint_ignores_order_and_last_float_bits():
    a = rows_fingerprint(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = rows_fingerprint(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b and a[0] == 2
    assert rows_fingerprint(["x"], [(1.0,)]) != rows_fingerprint(["x"], [(1.001,)])


def test_corrupted_fingerprint_counts_as_failed_op():
    good = rows_fingerprint(["n"], [(1,), (2,)])
    corrupted = (good[0], good[1][:-1] + ("0" if good[1][-1] != "0" else "1"))
    c = Checker()
    assert c.observe(0, "q", good)
    assert c.observe(1, "q", good)
    assert not c.observe(2, "q", corrupted)
    assert c.failed == {2}
    # a reference that disagrees with the oracle fails every op of its type
    assert not c.expect("q", corrupted, "duckdb")
    assert c.failed == {0, 1, 2}


def test_benchmark_json_lists_what_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == run.LISTED
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(run.LISTED)


def _run(*args, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["star_queries", "text_dedup", "warehouse_load"])
def test_smoke(workload):
    sf = [] if workload == "warehouse_load" else ["--sf", "0.001"]
    proc = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0", *sf)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report, result = (json.loads(x) for x in proc.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["perfbench"]["failed_frac"]["value"] == 0
    assert report["perfbench"]["op_p50_s"]["value"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    policy = report["perfbench"]["header"]["inputs"]["policy"]
    assert policy == {"warehouse_load": "parquet"}.get(workload, "cache")


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = _run("--workload", "star_queries", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
