"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

From the root of a checkout, for every workload at the smallest scale:

1. the end-to-end run exits 0, reports ``correct: true`` and prints every
   end-to-end metric BENCHMARK.json names, with its unit;
2. the traced run does the same for every per-layer metric;
3. a run whose oracle is deliberately wrong reports ``correct: false``
   with failures, instead of passing (for graph_query a traced run, so
   the paper pass's checks are covered too).

Finally the benchmark is run in a directory holding only BENCHMARK.json
and the benchmark's own files; it must exit non-zero without a result.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def _run(args, cwd=ROOT):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = subprocess.run(spec["command"] + args, cwd=cwd, capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in spec["workloads"]:
        name = w["name"]
        base = ["--workload", name, "--seed", "1", "--seconds", "1", "--smoke"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = _run(base + ["--trace", str(trace)])
            expect(rc == 0 and res is not None, f"{name} trace={trace}: exit 0 with a result")
            if res is None:
                print(err[-3000:])
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace={trace}: correct, {res['attempted']} attempted")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{name} trace={trace}: every {key} metric with its unit")
            if trace == 0:
                expect(all(res["metrics"][k]["value"] > 0 for k in want),
                       f"{name}: every end-to-end metric is non-zero")
        # graph_query's traced run also checks the paper pass; its own
        # checks must catch the wrong values too
        trace = "1" if name == "graph_query" else "0"
        rc, res, err = _run(base + ["--trace", trace, "--corrupt-oracle"])
        expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{name}: a wrong oracle value is reported as a failure")
        if name == "graph_query":
            expect("CHECK FAILED: paper pass" in err,
                   f"{name}: the paper pass reports a wrong oracle value")

    bare = os.path.join(ROOT, ".perfbench_tmp", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, res, _ = _run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare)
        expect(rc != 0 and res is None, "without the package: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        parent = os.path.dirname(bare)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
