"""Self-test of the benchmark, about five minutes on four cores:

    python3 perfbench/selftest.py

1. every workload at the ``tiny`` size, untraced and traced, through the
   same code as a full run: exit 0, a correct result, and exactly the
   metrics BENCHMARK.json declares for that mode;
2. each workload with one output value corrupted before it is checked
   (one flipped ``keep`` for the clips workloads, one pair's Jaccard for
   docs_dedup): exit 1 and ``"correct": false``;
3. a directory holding only BENCHMARK.json and perfbench/: a non-zero exit
   and no result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("clips_fresh", "clips_incremental", "docs_dedup")


def bench(root: str, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {t: {m["name"] for m in spec[k]} for t, k in ((0, "end_to_end"), (1, "per_layer"))}
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace in (0, 1):
            code, res = bench(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--size", "tiny")
            expect(
                code == 0 and res is not None and res["correct"] and res["failed"] == 0
                and set(res["metrics"]) == declared[trace],
                f"{w} trace={trace}: exit {code}, correct result with the declared metrics",
            )
        code, res = bench(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                          "--trace", "0", "--size", "tiny", "--corrupt")
        expect(code == 1 and res is not None and res["correct"] is False and res["failed"] >= 1,
               f"{w} corrupted output: exit {code}, check fails")

    bare = os.path.join(ROOT, ".perfbench_cache", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, res = bench(bare, "--workload", "clips_fresh", "--seed", "1", "--seconds", "10",
                          "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, f"benchmark files alone: exit {code}, no result")

    print("selftest " + ("passed" if not failures else f"failed: {len(failures)}"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
