"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

Run from the repository root. Each workload runs one short pass on the
sf0.001 corpus (a 1× replica for ``curation_x10``), untraced and
traced. Asserts that every metric ``BENCHMARK.json`` names prints with
its unit, that a deliberately corrupted expected fingerprint is counted
as a failed operation instead of passing, and that the benchmark exits
non-zero without a result when the engine is not in the directory.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _bench(*args: str, bench_dir: str = HERE) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(bench_dir, "run.py"), "--seed", "7", "--seconds", "0", *args]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)


def _copy_of_bench(parent: str) -> str:
    """A copy of the benchmark's files (without its work directory)."""
    dst = os.path.join(parent, "perfbench")
    shutil.copytree(HERE, dst, ignore=shutil.ignore_patterns(".work", "__pycache__"))
    return dst


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, specs: list[dict], workload: str) -> None:
    got = result["metrics"]
    assert set(got) == {s["name"] for s in specs}, (workload, sorted(set(got) ^ {s["name"] for s in specs}))
    for s in specs:
        assert got[s["name"]]["unit"] == s["unit"], (workload, s["name"])
        assert isinstance(got[s["name"]]["value"], float), (workload, s["name"])


def test_every_metric_prints_with_its_unit() -> None:
    with open(SPEC) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            res = _result(_bench("--smoke", "--workload", w["name"], "--trace", trace))
            _assert_metrics(res, spec[key], w["name"])
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res


def test_corrupted_fingerprint_is_a_failed_operation() -> None:
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as tmp:
        bench = _copy_of_bench(tmp)
        path = os.path.join(bench, "expected.json")
        with open(path) as fh:
            expected = json.load(fh)
        expected["curation_x10@smoke"]["jaccard_pairs"]["hash"] = "0.0"
        with open(path, "w") as fh:
            json.dump(expected, fh)
        res = _result(_bench("--smoke", "--workload", "curation_x10", "--trace", "0", bench_dir=bench))
    assert not res["correct"] and res["failed"] == 1, res


def test_without_the_engine_exits_nonzero_without_result() -> None:
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as bare:
        shutil.copy(SPEC, bare)
        _copy_of_bench(bare)
        cmd = [sys.executable, "perfbench/run.py", "--workload", "curation_x10", "--seed", "1",
               "--seconds", "1", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0 and proc.stdout.strip() == "", proc


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name, flush=True)
