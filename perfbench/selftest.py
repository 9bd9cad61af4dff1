#!/usr/bin/env python3
"""Self-test of the benchmark harness (not of the program).

    python3 perfbench/selftest.py

Checks, from the root of a checkout:
1. A run in which one operation throws (--fault-at) exits nonzero, names
   the operation on stderr, and reports it as failed in the result line.
2. The result line carries exactly the end-to-end metrics BENCHMARK.json
   declares (untraced) and exactly its per-layer metrics (traced).
3. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits nonzero without printing a result.
Takes about two minutes once the harness is built.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            failures.append(what)

    base = ["--workload", "blq_agent", "--seed", "1", "--seconds", "1"]
    code, res, err = run(base + ["--trace", "0", "--fault-at", "1"])
    expect(code != 0, "a throwing operation makes the run exit nonzero")
    expect(res is not None and res["failed"] >= 1 and res["correct"] is False,
           "the result line counts the failed operation")
    expect("FAILED import#" in err and "injected fault" in err,
           "stderr names the failed operation")
    expect(res is not None and list(res["metrics"]) == [m["name"] for m in spec["end_to_end"]],
           "untraced run prints exactly the declared end-to-end metrics")
    expect(res is not None and all(res["metrics"][m["name"]]["unit"] == m["unit"]
                                   for m in spec["end_to_end"]), "end-to-end units match")

    code, res, err = run(base + ["--trace", "1"])
    expect(code == 0 and res is not None and res["failed"] == 0, "traced run succeeds")
    expect(res is not None and list(res["metrics"]) == [m["name"] for m in spec["per_layer"]],
           "traced run prints exactly the declared per-layer metrics")

    bare = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    code, res, err = run(base + ["--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "without the program sources: nonzero exit, no result")

    print(f"{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
