#!/usr/bin/env python3
"""Self-check of the benchmark on sf0.001 inputs.

    python3 perfbench/selfcheck.py

For every workload in BENCHMARK.json it runs the benchmark for two seconds
untraced and traced, and asserts that each run is correct and prints every
end-to-end (untraced) or per-layer (traced) metric with the unit
BENCHMARK.json gives it. It then damages one output of each workload and
asserts that the checks catch it: the run must exit non-zero and report
``"correct": false``. Exits 1 if any assertion fails.
"""

import json
import subprocess
import sys


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny", *extra],
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(w, trace)
            if rc != 0 or not res or not res["correct"]:
                problems.append(f"{w} trace={trace}: exit {rc}, result {res}\n{err[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                f"missing or extra, or units differ")
        rc, res, _ = run(w, 0, "--corrupt")
        if rc == 0 or not res or res["correct"]:
            problems.append(f"{w}: a corrupted output was not caught (exit {rc}, result {res})")
        print(f"{w}: checked", flush=True)
    for p in problems:
        print("FAIL " + p)
    print("selfcheck " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
