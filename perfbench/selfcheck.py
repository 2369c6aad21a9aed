"""Self-check of the benchmark at a tiny input size.

Usage: python3 perfbench/selfcheck.py

For every workload of BENCHMARK.json it runs perfbench/run.py with
--size tiny and checks that
  1. every end-to-end and every per-layer metric of BENCHMARK.json is
     printed by name with its unit, and is in the result object;
  2. the outputs are correct at the default seed, and a corrupted reference
     answer is reported as a failure, not as a pass;
  3. another seed changes the inputs (their printed digest) but not the
     metric names.
Exits with 1 when any check fails.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
METRIC = re.compile(r"^metric (\S+) = (\S+) (\S+)$")
DIGEST = re.compile(r"^inputs \S+ seed=\S+ digest=(\S+)")


def run(workload, seed, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny",
           "--corrupt-reference", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited with {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    printed = {m.group(1): m.group(3) for m in map(METRIC.match, lines) if m}
    digest = next((m.group(1) for m in map(DIGEST.match, lines) if m), None)
    return json.loads(lines[-1]), printed, digest


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def check(ok, what):
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        names = {}
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res, printed, digest = run(w, 1, trace)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            check(all(printed.get(n) == u for n, u in want.items()),
                  f"{w}: every {kind} metric printed with its unit")
            check({n: v["unit"] for n, v in res["metrics"].items()} == want,
                  f"{w}: result object holds exactly the {kind} metrics")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w}: correct at seed 1 (trace {trace})")
            names[trace] = (sorted(res["metrics"]), digest)
        res, _, _ = run(w, 1, 0, corrupt=1)
        check(not res["correct"] and res["failed"] > 0,
              f"{w}: a corrupted reference answer is reported as a failure")
        res, _, digest2 = run(w, 2, 0)
        check(digest2 is not None and digest2 != names[0][1],
              f"{w}: another seed changes the inputs ({names[0][1]} -> {digest2})")
        check(sorted(res["metrics"]) == names[0][0] and res["correct"],
              f"{w}: another seed keeps the metric names")
    print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
