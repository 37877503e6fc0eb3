#!/usr/bin/env python3
"""Self-test of the benchmark: its failure paths must be loud.

    python3 perfbench/selftest.py

Runs the harness three times on the tpch workload and checks that
  - a clean run exits 0 and reports correct=true;
  - a deliberately throwing query (--inject throw) makes the run exit
    non-zero, counts as failed, and is left out of the timings;
  - a query made to return one extra row (--inject wrong) makes the run
    exit non-zero with match_frac < 1.
It also checks the pure helpers of run.py (result canonicalisation and
the repeatability flags). Exits non-zero on the first broken expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

def bench(*extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "tpch",
           "--seed", "1", "--seconds", "1", "--trace", "0", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


def expect(cond, what, detail=""):
    if not cond:
        print(f"FAIL {what}\n{detail[-3000:]}")
        sys.exit(1)
    print(f"ok   {what}")


def test_helpers():
    import pandas as pd
    a = pd.DataFrame({"b": [2.0, 1.0], "a": ["x", None]})
    b = pd.DataFrame({"a": [None, "x"], "b": [1.0, 2.0]})
    expect(run.canon(a).equals(run.canon(b)),
           "canon ignores column and row order")
    c = pd.DataFrame({"a": ["x", None], "b": [2.0, 1.5]})
    expect(not run.canon(a).equals(run.canon(c)), "canon sees a changed cell")
    rec = {"passes": [
        {"pass": i, "traced": True, "pass_ms": 1000.0,
         "heap_live_mb": 100.0 + 20 * i,
         "layers": {k: (10.0 + i if k == "sched.jobs" else 1.0) for k in
                    ["sched.jobs", "sched.tasks", "exec.input_bytes",
                     "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
                     "exec.spill_bytes", "exec.output_bytes"]}}
        for i in range(3)]}
    flags = run.repeatability(rec)["flags"]
    expect(any(f.startswith("sched.jobs drifts") for f in flags),
           "repeatability flags job-count drift", str(flags))
    expect(any(f.startswith("driver.heap_live_mb grows") for f in flags),
           "repeatability flags live-heap growth", str(flags))
    rec = {"passes": [{"pass": i, "traced": False, "pass_ms": ms,
                       "heap_live_mb": 100.0} for i, ms in
                      enumerate([3000.0, 2800.0, 2500.0])]}
    flags = run.repeatability(rec)["flags"]
    expect(any(f.startswith("untraced pass_s falls") for f in flags),
           "repeatability flags a falling pass time", str(flags))


def main():
    test_helpers()
    code, res, err = bench()
    expect(code == 0 and res and res["correct"] and res["failed"] == 0,
           "clean run exits 0 and is correct", err)
    m = res["metrics"]
    expect(set(m) == set(run.E2E_UNITS), "clean run reports every metric")

    code, res, err = bench("--inject", "throw")
    expect(code != 0, "throwing query makes the run exit non-zero", err)
    expect(res and not res["correct"] and res["failed"] >= 1
           and res["metrics"]["ok_frac"]["value"] < 1.0,
           "throwing query counts as failed", json.dumps(res))
    expect("deliberately throwing query" in err,
           "the error is reported", err)

    code, res, err = bench("--inject", "wrong")
    expect(code != 0, "wrong row makes the run exit non-zero", err)
    expect(res and not res["correct"]
           and res["metrics"]["match_frac"]["value"] < 1.0,
           "wrong row counts against match_frac", json.dumps(res))
    print("selftest passed")


if __name__ == "__main__":
    main()
