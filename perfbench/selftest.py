"""Tiny-size self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs every workload at the "tiny" size, untraced and traced, and asserts
that each end-to-end and per-layer metric named in BENCHMARK.json is
present with its unit, that every op passed its output check, and that the
benchmark refuses to run (non-zero exit, no result line) from a directory
holding only BENCHMARK.json and perfbench/. After every run it asserts
that no Java or Python process the run started is still there.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pids() -> set:
    return {int(n) for n in os.listdir("/proc") if n.isdigit()}


def run(args: list, cwd: str = ROOT) -> tuple[int, list]:
    """Run the benchmark; assert that no process it started outlives it."""
    before = _pids()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300,
    )
    left = []
    for pid in _pids() - before:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue   # ended meanwhile
        if "java" in cmd or "python" in cmd:
            left.append((pid, cmd[:120]))
    assert not left, f"processes outlived the run: {left}"
    return p.returncode, p.stdout.strip().splitlines()


def check_result(lines: list, want: dict) -> None:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    meta = json.loads(lines[-2][len("perfbench meta "):])
    assert res["correct"] is True and res["failed"] == 0, meta["failed_ops"] or meta["error"]
    assert res["attempted"] >= 1
    assert set(res["metrics"]) == set(want), set(want) ^ set(res["metrics"])
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name], (name, m["unit"], want[name])
        assert isinstance(m["value"], (int, float)), (name, m)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in (w["name"] for w in bench["workloads"]):
        for trace, want in ((0, e2e), (1, layers)):
            code, lines = run(["--workload", w, "--seed", "3", "--seconds", "1",
                               "--trace", str(trace), "--size", "tiny"])
            assert code == 0, (w, trace, lines[-3:])
            check_result(lines, want)
            print(f"ok {w} trace={trace}")

    bare = os.path.join(ROOT, ".bench_tmp", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = run(["--workload", "crawl_rank", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(os.path.join(ROOT, ".bench_tmp"), ignore_errors=True)
    assert code != 0 and not lines, (code, lines)
    print("ok bare directory refused")
    return 0


if __name__ == "__main__":
    sys.exit(main())
