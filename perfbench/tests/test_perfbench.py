"""The benchmark's own tests: metric definitions against BENCHMARK.json,
failure counting, span arithmetic, and a smallest-input smoke run of every
workload in both modes (about three minutes on 4 cores).

    python -m pytest perfbench/tests -q
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import measure, report, tracing  # noqa: E402
from perfbench.run import result_line  # noqa: E402
from perfbench.workloads import WORKLOADS, KGColdBuild  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_benchmark_json_matches_the_metric_definitions():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    for w in BENCH["workloads"]:
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == report.END_TO_END
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == report.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_dropped_triple_is_counted_as_failed():
    golden = [("S:%d" % i, "p", "O", "src", "", 0, "", "", "", "", "", "{}") for i in range(5)]
    wl = KGColdBuild(None, {"fixture_dir": "", "golden_rows": golden}, "")
    good = wl.check_rows(list(reversed(golden)))
    bad = wl.check_rows(golden[1:])
    assert good.ok and good.rows == 5
    assert not bad.ok and bad.rows == 0 and "differ" in bad.error
    line = result_line([good, bad], {})
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 2, 1)
    e2e = report.end_to_end({"ops": [(False, good), (False, bad)], "setup_s": 1.0})
    assert e2e["ok_frac"][0] == 0.5


def test_tail_keeps_ten_samples_beyond():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    value, level, beyond = measure.tail([float(i) for i in range(1, 41)])
    assert (value, level, beyond) == (30.0, 75.0, 10)


def test_self_times_cover_the_root_exactly():
    spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "pipeline", "start": 1.0, "end": 9.0, "parent": 0},
        {"name": "extract.run", "start": 2.0, "end": 5.0, "parent": 1},
        {"name": "checkpoint.read", "start": 4.0, "end": 4.5, "parent": 2},
    ]
    selfs = tracing.self_times(spans)
    assert selfs == [2.0, 5.0, 2.5, 0.5]
    assert sum(selfs) == spans[0]["end"] - spans[0]["start"]


def _run(args, cwd, env=None):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )


def test_reap_children_stops_orphaned_grandchildren():
    """A grandchild orphaned by its parent (as the pyspark worker daemon is
    when the JVM exits) is adopted, stopped and waited for."""
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {ROOT!r})
from perfbench import measure
assert measure.become_subreaper()
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True, check=True).stdout
orphan = int(out)
measure.reap_children(timeout_s=5)
print(orphan, os.path.exists(f"/proc/{{orphan}}"))
"""
    p = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60
    )
    assert p.returncode == 0, p.stderr
    assert p.stdout.split()[1] == "False"


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(["--workload", "kg_cold_build", "--seed", "1", "--seconds", "1"], tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    env = dict(os.environ, PERFBENCH_SMOKE="1")
    p = _run(
        ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        ROOT,
        env,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = report.PER_LAYER if trace else report.END_TO_END
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == names
    prefix = "layer" if trace else "metric"
    text = "\n".join(lines[:-1])
    for name, unit in names:
        pattern = rf"^{prefix} {re.escape(name)} = \S+ {re.escape(unit)} \(.*n=\d+"
        assert re.search(pattern, text, re.M), f"{name} missing from the report"
    assert re.search(r"^metric failed_frac = 0 1 \(0 of n=\d+ failed\)", text, re.M)
