"""Tests of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/tests -q

They start Spark sessions, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [os.path.join(ROOT, "perfbench")]

import run  # noqa: E402
import workloads  # noqa: E402

TINY = "0.05"


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    # the command must find the package in its own checkout only
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "0", "--scale", TINY, *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload,trace,kind", [
    ("geo_tiles", "0", "end_to_end"),
    ("neardup", "1", "per_layer"),
    ("sar_tiles", "1", "per_layer"),
    ("ann_topk", "0", "end_to_end"),
])
def test_printed_metrics_match_benchmark_json(workload, trace, kind):
    rc, out = bench("--workload", workload, "--seed", "5", "--trace", trace)
    res = json.loads(out[-1])
    assert rc == 0 and res["correct"] and res["failed"] == 0, out[-30:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    spec = {m["name"]: m["unit"] for m in declared()[kind]}
    assert {n: m["unit"] for n, m in res["metrics"].items()} == spec
    if kind == "end_to_end":
        assert all(m["value"] > 0 for m in res["metrics"].values())
    else:
        touched = {"neardup": ("session", "dedup", "cluster"),
                   "sar_tiles": ("tiles", "coreg", "geocode")}[workload]
        for layer in touched:
            assert res["metrics"][f"{layer}.wall_s"]["value"] > 0
            assert res["metrics"][f"{layer}.rows_out"]["value"] > 0


def test_declared_workloads_and_names_are_known():
    spec = declared()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()


def test_wrong_answer_is_counted_and_fails_the_run(monkeypatch, capsys):
    real = workloads.GeoTiles.run_pass

    def drop_a_row(self, spark, st, tr, p):
        real(self, spark, st, tr, p)
        p.out["pip"] = p.out["pip"][1:]

    monkeypatch.setattr(workloads.GeoTiles, "run_pass", drop_a_row)
    rc = run.main(["--workload", "geo_tiles", "--seed", "5", "--seconds", "0",
                   "--scale", TINY])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc != 0
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0


def test_no_result_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = bench("--workload", "geo_tiles", "--seed", "1", "--trace", "0",
                    cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in out)
