"""Benchmark entry point: one workload, one seed, one run.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness when the sources changed (perfbench/build.py),
then runs one JVM on local[<cores of this process>]. The JVM generates the
workload's inputs from the seed under .bench_build/perfbench/runs/, computes
the reference answers, warms up, and runs passes of the workload as a closed
loop for --seconds. With --trace 0 it reports the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics (and writes the spans to
.bench_build/perfbench/traces/). The last line of stdout is the result object.

Options for the self-check (perfbench/selfcheck.py): --size tiny runs at a
tiny input size; --corrupt-reference 1 alters one reference answer.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 165


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt-reference", choices=["0", "1"], default="0")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    expected = spec["per_layer" if a.trace == "1" else "end_to_end"]

    try:
        classpath, archive = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = build.java_command(classpath, build.main_args(
        a.workload, a.seed, a.seconds, a.trace, a.size, a.corrupt_reference, work, result, spans),
        archive=archive, work=work)
    t0 = time.time()
    # own process group, so that the JVM and the oracle it starts are
    # stopped together whatever happens
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    try:
        if rc != 0:
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'} "
                 f"after {time.time() - t0:.1f} s")
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    for m in expected:
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
            fail(f"metric {m['name']} ({m['unit']}) missing from the result")
    res["metrics"] = {m["name"]: got[m["name"]] for m in expected}
    sys.stdout.flush()
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
