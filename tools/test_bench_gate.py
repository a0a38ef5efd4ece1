#!/usr/bin/env python3
"""Self-test for tools/bench_gate.py -- in particular the
intentional-regression case the round-10 verdict asked for: a query
that regresses past the tolerances MUST fail the gate. Pure-stdlib,
runs in a tempdir, exercises every verdict path:

    python3 tools/test_bench_gate.py
"""
import json
import os
import subprocess
import sys
import tempfile

GATE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "bench_gate.py")


def artifact(queries, split=None, failed=0):
    good = [v for v in queries.values() if v >= 0.0]
    doc = {"metric": "total", "value": sum(good), "unit": "sec",
           "failed": failed, "n": len(queries), "queries": queries,
           "sf": "sf-test"}
    if split is not None:
        doc["split"] = split
    return doc


def run_gate(tmp, out_doc, base_doc=None, extra=()):
    out = os.path.join(tmp, "BENCH_OUT.json")
    with open(out, "w") as f:
        json.dump(out_doc, f)
    args = [sys.executable, GATE, out]
    if base_doc is not None:
        base = os.path.join(tmp, "BENCH_BASELINE.json")
        with open(base, "w") as f:
            json.dump(base_doc, f)
        args += ["--baseline", base]
    args += list(extra)
    p = subprocess.run(args, capture_output=True, text=True)
    return p.returncode, p.stdout + p.stderr


def main():
    failures = []

    def check(name, cond, detail=""):
        print(("ok  " if cond else "FAIL") + f" {name}")
        if not cond:
            failures.append(f"{name}: {detail}")

    with tempfile.TemporaryDirectory() as tmp:
        base = artifact({"q1": 1.0, "q2": 0.05})

        # clean pass: identical run
        rc, out = run_gate(tmp, artifact({"q1": 1.0, "q2": 0.05}), base)
        check("identical run passes", rc == 0, out)

        # THE intentional regression: q1 2x slower -> gate must fail
        rc, out = run_gate(tmp, artifact({"q1": 2.0, "q2": 0.05}), base)
        check("2x regression fails", rc == 1 and "q1" in out, out)

        # tiny-query noise: 0.05 -> 0.12 is >2x but under ABS_TOL
        rc, out = run_gate(tmp, artifact({"q1": 1.0, "q2": 0.12}), base)
        check("sub-ABS_TOL noise passes", rc == 0, out)

        # deleted query hides its regression -> fail
        rc, out = run_gate(tmp, artifact({"q1": 1.0}), base)
        check("missing query fails", rc == 1 and "MISSING" in out, out)

        # new query without baseline -> pass with a note
        rc, out = run_gate(
            tmp, artifact({"q1": 1.0, "q2": 0.05, "q3": 9.0}), base)
        check("new query passes with note", rc == 0 and "q3" in out, out)

        # serve_s regression must not hide inside a shrunken build:
        # totals EQUAL, serving 4x slower
        base_split = artifact(
            {"r1": 2.0},
            split={"r1": {"build_s": 1.5, "serve_s": 0.5}})
        rc, out = run_gate(
            tmp,
            artifact({"r1": 2.0},
                     split={"r1": {"build_s": 0.0, "serve_s": 2.0}}),
            base_split)
        check("serve regression caught under equal total",
              rc == 1 and "serve" in out, out)

        # build blowup (loose tolerance): serve flat, build 3x
        rc, out = run_gate(
            tmp,
            artifact({"r1": 5.0},
                     split={"r1": {"build_s": 4.5, "serve_s": 0.5}}),
            base_split)
        check("build blowup caught", rc == 1 and "build" in out, out)

        # internal inconsistency: split does not sum to the total
        bad = artifact({"r1": 2.0},
                       split={"r1": {"build_s": 9.0, "serve_s": 9.0}})
        rc, out = run_gate(tmp, bad, base_split)
        check("split/total mismatch fails shape", rc == 1, out)

        # a crashed query must FAIL the gate (it hides its regression at
        # least as well as a deleted one)
        rc, out = run_gate(
            tmp, artifact({"q1": -1.0, "q2": 0.05}, failed=1), base)
        check("crashed query fails", rc == 1 and "FAILED in this run" in out,
              out)

        # split on one side only: totals compared like-for-like, never
        # a serve_s against a build+serve total
        rc, out = run_gate(
            tmp, artifact({"r1": 2.0}), base_split)  # run lacks split
        check("one-sided split passes on equal totals", rc == 0, out)
        rc, out = run_gate(
            tmp, artifact({"r1": 4.0}), base_split)
        check("one-sided split still catches total regression",
              rc == 1 and "totals compared" in out, out)

        # --- isolation rerun (round 15) ---

        def echo_cmd(*lines):
            return "; ".join(f"echo '{ln}'" for ln in lines)

        # a flagged total regression CLEARED by the isolated number
        rc, out = run_gate(
            tmp, artifact({"q1": 2.0, "q2": 0.05}), base,
            extra=["--isolate-cmd",
                   echo_cmd("[profile] q1 rep 1 build 0.000 serve 1.100",
                            "[profile] q1 rep 2 build 0.000 serve 0.900")])
        check("isolation clears a noisy flag (best-of-reps)",
              rc == 0 and "CLEARED" in out, out)

        # a flag the isolated rerun CONFIRMS must fail louder
        rc, out = run_gate(
            tmp, artifact({"q1": 2.0, "q2": 0.05}), base,
            extra=["--isolate-cmd",
                   echo_cmd("[profile] q1 rep 1 build 0.000 serve 5.000")])
        check("isolation confirms a real regression",
              rc == 1 and "CONFIRMED" in out, out)

        # isolation producing no timing for the flagged query: fail on
        # the suite number (never silently pass)
        rc, out = run_gate(
            tmp, artifact({"q1": 2.0, "q2": 0.05}), base,
            extra=["--isolate-cmd", echo_cmd("no timings here")])
        check("missing isolated timing keeps the fail",
              rc == 1 and "no timing" in out, out)

        # --no-isolate gates on raw suite numbers
        rc, out = run_gate(
            tmp, artifact({"q1": 2.0, "q2": 0.05}), base,
            extra=["--no-isolate", "--isolate-cmd",
                   echo_cmd("[profile] q1 rep 1 build 0.000 serve 0.900")])
        check("--no-isolate skips the rerun",
              rc == 1 and "CLEARED" not in out, out)

        # split-phase flags judge the matching ISOLATED phase: serve
        # flagged, isolated serve still slow -> confirmed even though
        # the isolated total is small
        rc, out = run_gate(
            tmp,
            artifact({"r1": 2.0},
                     split={"r1": {"build_s": 0.0, "serve_s": 2.0}}),
            base_split,
            extra=["--isolate-cmd",
                   echo_cmd("[profile] r1 rep 1 build 0.000 serve 1.900")])
        check("isolated serve phase judged like-for-like",
              rc == 1 and "CONFIRMED" in out and "serve" in out, out)

        # crashed/missing queries are hard fails -- never isolated away
        rc, out = run_gate(
            tmp, artifact({"q1": -1.0, "q2": 0.05}, failed=1), base,
            extra=["--isolate-cmd",
                   echo_cmd("[profile] q1 rep 1 build 0.000 serve 0.100")])
        check("crash is a hard fail despite isolation",
              rc == 1 and "FAILED in this run" in out, out)

        # trailing flag without a value: usage FAIL, not a traceback
        p = subprocess.run(
            [sys.executable, GATE, "--rebaseline", "--reason"],
            capture_output=True, text=True)
        check("trailing --reason refused cleanly",
              p.returncode == 1 and "requires a value" in p.stdout, p.stdout)

        # rebaseline requires a reason
        out_p = os.path.join(tmp, "BENCH_OUT.json")
        with open(out_p, "w") as f:
            json.dump(artifact({"q1": 1.0}), f)
        p = subprocess.run([sys.executable, GATE, out_p, "--rebaseline"],
                           capture_output=True, text=True)
        check("rebaseline without reason refused", p.returncode == 1,
              p.stdout)
        p = subprocess.run(
            [sys.executable, GATE, out_p, "--rebaseline",
             "--reason", "test freeze",
             "--baseline", os.path.join(tmp, "B2.json")],
            capture_output=True, text=True)
        check("rebaseline with reason works", p.returncode == 0, p.stdout)

    if failures:
        print(f"\n{len(failures)} self-test failure(s)")
        return 1
    print("\nall bench_gate self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
