"""Smoke test of the benchmark at a tiny size (about six minutes).

    python3 graftbench/smoke_test.py

Checks, from the repository root:
1. each workload prints every end-to-end metric of BENCHMARK.json with
   its unit, reads ``correct: true`` and exits 0;
2. the traced run prints every per-layer metric with its unit;
3. the oracle fails a run whose first lookup answer is falsified
   (``correct: false``, exit code 1);
4. in a directory holding only BENCHMARK.json and graftbench/, the run
   exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, "graftbench/run.py", "--seed", "7", "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode not in (0, 1):
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def _expect_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in spec:
        assert m["name"] in got, f"{what}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: unit of {m['name']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), what
    assert set(got) == {m["name"] for m in spec}, f"{what}: extra metrics"


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        rc, res = _run(ROOT, "--workload", name, "--trace", "0", "--size", "tiny")
        assert rc == 0 and res and res["correct"], f"{name}: rc={rc} result={res}"
        assert res["attempted"] >= 1 and res["failed"] == 0, name
        _expect_metrics(res, bench["end_to_end"], name)
        print(f"ok: {name} end-to-end metrics")
        rc, res = _run(ROOT, "--workload", name, "--trace", "1", "--size", "tiny")
        assert rc == 0 and res and res["correct"], f"{name} traced: rc={rc}"
        _expect_metrics(res, bench["per_layer"], f"{name} traced")
        print(f"ok: {name} per-layer metrics")

    name = bench["workloads"][0]["name"]
    rc, res = _run(
        ROOT, "--workload", name, "--trace", "0", "--size", "tiny", "--corrupt-lookup"
    )
    assert rc == 1 and res and res["correct"] is False, f"corrupted: rc={rc} {res}"
    print("ok: a corrupted lookup answer fails the run")

    bare = os.path.join(ROOT, ".graftbench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, res = _run(bare, "--workload", name, "--trace", "0")
        assert rc != 0 and res is None, f"bare checkout: rc={rc} {res}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # another run is using it
    print("ok: without the engine the run fails and prints no result")


if __name__ == "__main__":
    main()
