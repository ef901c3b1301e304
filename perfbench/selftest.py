"""Self-test of the benchmark at tiny, seeded input sizes.

Runs ``run.py`` on every workload of ``BENCHMARK.json``, untraced and
traced, and checks that each declared metric is printed with its declared
unit, that the oracle passed, and that a directory holding only the
benchmark (no package) fails without a result. Run from the repository
root::

    python3 perfbench/selftest.py

or collect it with ``python3 -m pytest perfbench/selftest.py``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _run(cwd: str, workload: str, trace: int):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def check(workload: str, trace: int) -> None:
    with open(SPEC) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (set(got) ^ set(want), {k for k in got if got[k] != want.get(k)})
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)
        printed = [ln for ln in lines if ln.split(" ")[0] == name]
        assert printed and printed[0].endswith(" " + m["unit"]), (name, printed)


def check_needs_package() -> None:
    """In a directory with only BENCHMARK.json and the benchmark, the run
    must fail and print no result."""
    scratch = os.path.join(HERE, "_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        shutil.copy(SPEC, d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "__pycache__"))
        out = _run(d, "group_build", 0)
        assert out.returncode != 0, out.stdout
        assert not any(ln.startswith("{") for ln in out.stdout.splitlines()), out.stdout


def test_needs_package():
    check_needs_package()


def test_group_build():
    check("group_build", 0)


def test_join_skip():
    check("join_skip", 0)


def test_group_build_traced():
    check("group_build", 1)


def test_join_skip_traced():
    check("join_skip", 1)


if __name__ == "__main__":
    check_needs_package()
    print("ok needs_package", flush=True)
    for w in ("group_build", "join_skip"):
        for tr in (0, 1):
            check(w, tr)
            print(f"ok {w} trace={tr}", flush=True)
