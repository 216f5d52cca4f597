"""Smoke test of the benchmark on a tiny corpus.

    python -m pytest perfbench -q

Each workload runs once untraced (every end-to-end metric printed with
its declared unit, every answer check passing) and once traced with one
answer deliberately corrupted (every per-layer metric printed, and the
corrupted answer counted as failed). A copy holding only BENCHMARK.json
and the benchmark's files must refuse to run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run as bench

TINY_DOCS = 60


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _corrupt_first(kind: str):
    """Corrupt the first engine answer of ``kind`` by appending a doc id
    no index holds; leave every other answer alone."""
    state = {"done": False}

    def corrupt(k, answer):
        if k != kind or state["done"]:
            return answer
        state["done"] = True
        return list(answer) + [(-1, 0.0) if kind == "search" else -1]

    return corrupt


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["interactive", "ingest"])
def test_end_to_end_metrics_and_checks(workload):
    out = bench.run(workload, seed=7, seconds=1, trace=False, n_docs=TINY_DOCS)
    res = out["result"]
    assert res["correct"] and res["failed"] == 0, out["errors"]
    assert res["attempted"] >= 1
    want = _declared("end_to_end")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    json.dumps(res)  # the printed line is plain JSON


@pytest.mark.slow
@pytest.mark.parametrize("workload, kind", [("interactive", "search"),
                                            ("ingest", "marker")])
def test_traced_layers_and_corrupted_answer_counted(workload, kind):
    out = bench.run(workload, seed=7, seconds=1, trace=True, n_docs=TINY_DOCS,
                    corrupt=_corrupt_first(kind))
    res = out["result"]
    assert res["failed"] == 1 and not res["correct"], out["errors"]
    assert out["errors"][0].startswith("wrong answer")
    want = _declared("per_layer")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(bench.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(bench.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
