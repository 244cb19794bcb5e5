"""Self-tests of the benchmark: python3 -m pytest perfbench -q

The smoke tests run the benchmark end to end at a small input scale, one
subprocess per workload and mode (about a minute each on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import workloads  # noqa: E402
from sentometrics_spark.storage import gorilla  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BENCHMARKED = sorted(w["name"] for w in SPEC["workloads"])
HELD = "tier_refresh"  # fails its tier check on the current engine (see workloads.py)


def files_digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in path.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(path)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_identical_inputs(tmp_path, name):
    def inputs(seed, sub):
        w = workloads.WORKLOADS[name](None, str(tmp_path / sub), seed, scale=0.2)
        w.generate()
        return files_digest(tmp_path / sub)

    assert inputs(7, "a") == inputs(7, "b")
    assert inputs(7, "a") != inputs(8, "c")


def test_workloads_match_benchmark_json():
    assert BENCHMARKED == sorted(set(workloads.WORKLOADS) - {HELD})


def _blob_rows(panel: pd.DataFrame):
    rows = []
    for (lx, ft, tw), g in panel.groupby(["lexicon", "feature", "timeweight"]):
        g = g.sort_values("bucket_ts")
        ts = g["bucket_ts"].astype("datetime64[s]").astype("int64").to_numpy()
        rows.append({"lexicon": lx, "feature": ft, "timeweight": tw, "n_points": len(g),
                     "blob": gorilla.encode(ts, g["value"].to_numpy())})
    return rows


def test_flipped_gorilla_byte_is_a_failure():
    rng = np.random.default_rng(3)
    hours = pd.date_range("2024-01-01", periods=50, freq="h")
    panel = pd.concat(
        pd.DataFrame({"bucket_ts": hours, "lexicon": lx, "feature": "f", "timeweight": "t",
                      "value": rng.normal(size=len(hours))})
        for lx in ("LEXA", "LEXB")
    )
    rows = _blob_rows(panel)
    assert workloads.gorilla_roundtrip(rows, panel) == []
    blob = bytearray(rows[1]["blob"])
    blob[len(blob) // 2] ^= 0x10
    rows[1]["blob"] = bytes(blob)
    assert len(workloads.gorilla_roundtrip(rows, panel)) == 1


def test_expected_spans_reference():
    texts = ["a b c d x", "a b c d y", "q r s t u"]
    pick = {0: texts[0], 2: texts[2]}
    assert workloads.expected_spans(texts, pick, 3) == [(0, 0, 4)]


def run_bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600,
    )


def smoke(name: str, trace: int) -> dict:
    p = run_bench(ROOT, "--workload", name, "--seed", "5", "--seconds", "1",
                  "--trace", str(trace), "--scale", "0.1")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    return result


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", BENCHMARKED)
def test_smoke_run_passes_checks_and_emits_every_metric(name, trace):
    result = smoke(name, trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


@pytest.mark.xfail(strict=True, reason="a late day older than the hour retention "
                   "horizon loses its earlier documents from the day tier")
def test_held_tier_refresh_passes_checks():
    result = smoke(HELD, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(tmp_path, "--workload", BENCHMARKED[0], "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
