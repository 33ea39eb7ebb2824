import json
import os

from perfbench import spec
from perfbench.run import WORKLOAD_NAMES
from perfbench.workloads import WORKLOADS, result_digest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_lists_what_the_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(spec.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(spec.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOAD_NAMES)
    assert set(WORKLOAD_NAMES) == set(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_result_digest_ignores_row_and_column_order():
    a = result_digest(["x", "y"], [(1, "a"), (2, None)])
    assert a == result_digest(["y", "x"], [(None, 2), ("a", 1)])
    assert a != result_digest(["x", "y"], [(1, "a"), (2, "b")])
    assert result_digest(["v"], [(0.1 + 0.2,)]) != result_digest(["v"], [(0.3,)])


def test_run_refuses_without_the_engine(tmp_path):
    import shutil
    import subprocess
    import sys

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_trickle",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
