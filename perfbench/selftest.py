"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For every workload: one untraced and one traced pass must each print a
result line with exactly the keys the contract names, every metric of
BENCHMARK.json's ``end_to_end`` (untraced) or ``per_layer`` (traced) set
with its unit, and no failed operation; a run with a planted wrong
expected result must report a failed operation. Finally the benchmark
must refuse to run, without a result line, in a directory holding only
BENCHMARK.json and perfbench/. Exits non-zero on the first violation.
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
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, list[str]]:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--sf", "0.001", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check(cond: bool, msg: str) -> None:
    if not cond:
        print("FAIL:", msg, flush=True)
        raise SystemExit(1)
    print("ok:", msg, flush=True)


def main() -> None:
    for w in (w["name"] for w in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = bench(ROOT, w, trace)
            check(code == 0 and lines, f"{w} trace={trace} exits 0 with output")
            res = json.loads(lines[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} result keys")
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace} emits every {key} metric with its unit")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace} all {res['attempted']} operations correct")
        code, lines = bench(ROOT, w, 0, "--plant-wrong")
        res = json.loads(lines[-1])
        check(code == 0 and res["failed"] >= 1 and not res["correct"],
              f"{w} planted wrong result is counted as failed ({res['failed']}/{res['attempted']})")
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench(bare, SPEC["workloads"][0]["name"], 0)
        check(code != 0 and not lines, "refuses to run without the engine package")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    sys.exit(main())
