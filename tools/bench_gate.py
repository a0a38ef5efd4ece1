#!/usr/bin/env python3
"""Round gate for the bench artifact.

Two layers, both required for a round to pass:

1. SHAPE (since round 8): rounds 5 and 7 shipped BENCH_r{N}.json with
   parsed:null because the runner's bounded stdout-tail capture clipped
   a growing metric line. The structural fix moves the per-query map
   into a committed sidecar, BENCH_OUT.json, and shrinks stdout to a
   fixed-size total line. The gate fails if the sidecar is missing,
   unparseable, or internally inconsistent.

2. PER-QUERY REGRESSION (since round 10): the v09/v10 episode (round 8)
   and the count()-pruning discovery (round 9) both went unnoticed
   until a cross-round diff by hand. The gate now compares every query
   against the committed BENCH_BASELINE.json and fails when one
   regresses more than REL_TOL x its baseline AND by more than ABS_TOL
   seconds (the absolute slack keeps sub-100 ms queries from failing on
   scheduler noise). Lifecycle queries (r03/r05/r06, v07-v17, c09/c10,
   z01 ...) charge index builds to build_s and the serving plan to
   serve_s; the regression check uses serve_s when both sides carry the
   split, so a serving regression cannot hide inside build noise -- and
   build_s is checked too, at a looser LOOSE_REL_TOL, so a build-path
   blowup still fails the round. A query present in the baseline but
   missing from the run FAILS (a deleted query hides its regression); a
   new query without a baseline passes with a note until re-baselined.

3. ISOLATION RERUN (since round 15): a per-query flag from the full
   suite carries the ~12% bench-window environment term plus scheduler
   contention -- rounds 12-14 each settled such flags as noise BY HAND
   with an isolated rerun. The gate now automates that: flagged
   queries re-run in one quiet JVM (`sbt "runMain graft.JobProfile
   <names> <sfdir> 2"`) and the verdict uses the ISOLATED number --
   surviving flags fail as CONFIRMED, cleared flags demote to notes.
   `--no-isolate` gates on raw suite numbers; `--isolate-cmd CMD`
   overrides the rerun command ({names}/{sfdir} substituted);
   `--sfdir PATH` picks the rerun scale (default /root/testdata/sf0.1).
   Missing/crashed/deleted queries stay hard fails -- nothing to
   re-time.

Intentional changes (new queries, methodology shifts, accepted
trade-offs) re-freeze the baseline EXPLICITLY:

    python3 tools/bench_gate.py --rebaseline --reason "why" [BENCH_OUT.json]

which rewrites BENCH_BASELINE.json from the current artifact, recording
the reason and source; commit the result. The gate itself never writes.

Usage:  python3 tools/bench_gate.py [BENCH_OUT.json] [--baseline PATH]
"""
import json
import math
import os
import subprocess
import sys

REL_TOL = 1.5        # serve_s (or total) regression factor that fails
LOOSE_REL_TOL = 2.0  # build_s factor (builds are IO-noisier)
ABS_TOL = 0.25       # seconds; both checks also need this absolute growth

# Window-noise guard (round 14): the environment term between bench
# windows is ~12%; when the shared-query totals of the run and the
# committed baseline diverge past this, per-query ratios carry a large
# environment component and NEW queries must be baselined from the run
# that freezes the round, not an earlier window (SCALE.md round-14).
WINDOW_DRIFT_WARN = 0.15

# ANN-family sources whose behavior RECALL_r*.json certifies. Any
# commit (or working-tree edit) to these that is newer than the newest
# RECALL artifact fails the gate: recall must be re-measured at every
# ANN-family diff, not remembered (round-13 verdict item 8).
RECALL_FILES = [
    "src/main/scala/graft/operators/Ann.scala",
    "src/main/scala/graft/operators/Pq.scala",
    "src/main/scala/graft/operators/Sq.scala",
    "src/main/scala/graft/operators/Opq.scala",
    "src/main/scala/graft/operators/Pca.scala",
]


def load(path):
    with open(path) as f:
        return json.loads(f.read())


def shape_check(path, doc):
    for key in ("metric", "value", "unit", "failed", "n", "queries", "sf"):
        if key not in doc:
            return f"{path} missing key {key!r} (stale shape?)"
    queries = doc["queries"]
    if not isinstance(queries, dict) or len(queries) == 0:
        return f"{path} has no per-query map"
    if len(queries) != doc["n"]:
        return f"{path} n={doc['n']} but {len(queries)} per-query entries"
    good = [v for v in queries.values() if v >= 0.0]
    if len(queries) - len(good) != doc["failed"]:
        return (f"{path} failed={doc['failed']} but "
                f"{len(queries) - len(good)} negative per-query entries")
    if not math.isclose(sum(good), doc["value"], rel_tol=1e-9, abs_tol=1e-6):
        return (f"{path} value={doc['value']} != sum of good "
                f"per-query times {sum(good)}")
    split = doc.get("split")
    if split is not None:
        for name, parts in split.items():
            if name not in queries:
                return f"{path} split entry {name!r} not in queries"
            if not math.isclose(parts["build_s"] + parts["serve_s"],
                                queries[name], rel_tol=1e-9, abs_tol=1e-6):
                return (f"{path} split for {name!r} "
                        f"({parts['build_s']}+{parts['serve_s']}) != "
                        f"total {queries[name]}")
    return None


def phase_times(doc, name):
    """(build_s, serve_s) when the artifact carries the split for this
    query, else (None, None). Totals are read separately -- the phase
    comparison only runs when BOTH sides carry the split (comparing one
    side's serve_s against the other's build+serve total would hide
    real serving regressions behind the build share, or invent them)."""
    split = doc.get("split") or {}
    if name in split:
        return split[name]["build_s"], split[name]["serve_s"]
    return None, None


def regression_check(doc, base):
    """(hard_fails, notes, flagged). `flagged` holds the PER-QUERY time
    regressions as dicts {name, phase, msg} -- candidates for the
    isolation rerun (three consecutive rounds settled such
    flags as suite-window noise by hand; the rerun automates exactly
    that methodology). Missing/crashed queries are hard fails: there is
    nothing to re-time."""
    fails, notes, flagged = [], [], []
    base_q = base["queries"]
    for name in sorted(base_q):
        if name not in doc["queries"]:
            fails.append(f"{name}: in baseline but MISSING from the run "
                         "(a deleted query hides its regression; "
                         "--rebaseline if intentional)")
            continue
        if doc["queries"][name] < 0.0:
            # a crashed query hides its regression at least as well as
            # a deleted one -- the gate's rationale applies verbatim
            fails.append(f"{name}: FAILED in this run "
                         f"(baseline {base_q[name]:.3f}s; a crash must "
                         "not pass the gate a slowdown would fail)")
            continue
        nb, ns = phase_times(doc, name)
        bb, bs = phase_times(base, name)
        if ns is not None and bs is not None:
            # like-for-like phase comparison (both sides carry the split)
            if ns > bs * REL_TOL and ns - bs > ABS_TOL:
                flagged.append({"name": name, "phase": "serve",
                                "msg": f"{name}: serve {ns:.3f}s vs baseline "
                                       f"{bs:.3f}s (> {REL_TOL}x + {ABS_TOL}s)"})
            if nb > bb * LOOSE_REL_TOL and nb - bb > ABS_TOL:
                flagged.append({"name": name, "phase": "build",
                                "msg": f"{name}: build {nb:.3f}s vs baseline "
                                       f"{bb:.3f}s (> {LOOSE_REL_TOL}x + {ABS_TOL}s)"})
        else:
            # one or both sides lack the split: compare totals (always
            # present on both), at the serve tolerance
            nt, bt = doc["queries"][name], base_q[name]
            if nt > bt * REL_TOL and nt - bt > ABS_TOL:
                flagged.append({"name": name, "phase": "total",
                                "msg": f"{name}: total {nt:.3f}s vs baseline "
                                       f"{bt:.3f}s (> {REL_TOL}x + {ABS_TOL}s; "
                                       "no split on one side -- totals compared)"})
    for name in sorted(doc["queries"]):
        if name not in base_q:
            notes.append(f"note: {name} has no baseline entry yet "
                         "(new query) -- re-baseline to cover it")
    return fails, notes, flagged


# ---------------------------------------------------------------- #
# Isolation rerun (round 15): a per-query flag from the full-suite #
# window carries a ~12% environment term plus scheduler            #
# contention; rounds 12-14 each cleared such flags BY HAND with an #
# isolated rerun. The gate now does that itself through            #
# graft.JobProfile: the flagged queries re-run in ONE quiet JVM    #
# and the gate verdict uses the isolated number -- flags that      #
# survive isolation fail louder (CONFIRMED), flags that clear      #
# become notes.                                                    #
# ---------------------------------------------------------------- #

ISOLATE_REPS = 2
ISOLATE_TIMEOUT_S = 1800


def parse_profile(text):
    """{name: (min_build_s, min_serve_s)} from JobProfile's
    '[profile] <name> rep <r> build <b> serve <s> jobs <n>' lines
    (best-of-reps per phase -- the 'time the second run' methodology,
    minimized)."""
    out = {}
    for line in text.splitlines():
        parts = line.split()
        if len(parts) >= 8 and parts[0] == "[profile]":
            try:
                b, s = float(parts[5]), float(parts[7])
            except ValueError:
                continue
            name = parts[1]
            pb, ps = out.get(name, (b, s))
            out[name] = (min(pb, b), min(ps, s))
    return out


def isolate_rerun(names, isolate_cmd, repo_dir, sfdir):
    """Run the flagged queries isolated; returns ({name: (build,
    serve)}, err). One command for ALL names -- JobProfile takes a
    comma-separated list so JVM startup is paid once."""
    joined = ",".join(names)
    cmd = isolate_cmd or (
        f'sbt -batch "runMain graft.JobProfile {joined} {sfdir} {ISOLATE_REPS}"')
    cmd = cmd.replace("{names}", joined).replace("{sfdir}", sfdir)
    try:
        r = subprocess.run(cmd, shell=True, capture_output=True, text=True,
                           cwd=repo_dir, timeout=ISOLATE_TIMEOUT_S)
    except (OSError, subprocess.SubprocessError) as e:
        return None, f"isolation rerun failed to run ({e})"
    return parse_profile(r.stdout + r.stderr), None


def apply_isolation(flagged, base, iso):
    """Re-judge each flagged query on its isolated timing with the SAME
    tolerances; returns (fails, notes)."""
    fails, notes = [], []
    for f in flagged:
        name = f["name"]
        if name not in iso:
            fails.append(f["msg"] + " [isolation rerun produced no timing "
                         "for this query -- gating on the suite number]")
            continue
        ib, iserve = iso[name]
        bb, bs = phase_times(base, name)
        confirm = None
        if f["phase"] == "serve" and bs is not None:
            if iserve > bs * REL_TOL and iserve - bs > ABS_TOL:
                confirm = f"isolated serve {iserve:.3f}s vs baseline {bs:.3f}s"
        elif f["phase"] == "build" and bb is not None:
            if ib > bb * LOOSE_REL_TOL and ib - bb > ABS_TOL:
                confirm = f"isolated build {ib:.3f}s vs baseline {bb:.3f}s"
        else:
            it, bt = ib + iserve, base["queries"][name]
            if it > bt * REL_TOL and it - bt > ABS_TOL:
                confirm = f"isolated total {it:.3f}s vs baseline {bt:.3f}s"
        if confirm:
            fails.append(f["msg"] + f"; CONFIRMED by isolated rerun ({confirm})")
        else:
            notes.append(f"note: {f['msg']} -- CLEARED by isolated rerun "
                         f"(build {ib:.3f}s serve {iserve:.3f}s): "
                         "suite-window noise, not a regression")
    return fails, notes


def _git(args, cwd):
    try:
        r = subprocess.run(["git"] + args, capture_output=True, text=True,
                           cwd=cwd)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def recall_check(repo_dir):
    """Fail when ANN-family sources are newer than the newest RECALL
    artifact (committed or uncommitted) -- a changed index path with a
    stale recall number is exactly the silent-regression shape this
    gate exists to catch. Anchored to the artifact's directory (so a
    synthetic artifact in a tempdir -- the self-tests -- skips with a
    note instead of reading an unrelated repo's state).
    """
    fails, notes = [], []
    if _git(["rev-parse", "--is-inside-work-tree"], repo_dir) != "true":
        notes.append("note: artifact dir is not a git work tree -- "
                     "recall staleness check skipped")
        return fails, notes
    dirty = _git(["status", "--porcelain", "--"] + RECALL_FILES, repo_dir)
    if dirty:
        fails.append("ANN-family sources carry uncommitted changes -- "
                     "re-run RecallBoard and commit RECALL with them:\n    "
                     + dirty.replace("\n", "\n    "))
    t_ann = _git(["log", "-1", "--format=%ct", "--"] + RECALL_FILES, repo_dir)
    t_rec = _git(["log", "-1", "--format=%ct", "--", "RECALL_r*.json"],
                 repo_dir)
    if t_rec is None or not t_rec:
        fails.append("no committed RECALL_r*.json artifact -- run "
                     "RecallBoard and commit the result")
    elif t_ann and int(t_ann) > int(t_rec):
        fails.append("ANN-family sources were committed AFTER the newest "
                     "RECALL artifact -- re-run RecallBoard (recall is "
                     "re-measured at every ANN diff, not remembered)")
    return fails, notes


def window_drift_note(doc, base):
    """Warn when the run and the baseline disagree on their SHARED
    queries by more than the documented window noise -- per-query
    ratios then carry a large environment term, and any new queries
    frozen this round must be baselined from the round-freeze run
    itself (SCALE.md round-14 freeze policy)."""
    shared = [n for n in base["queries"]
              if n in doc["queries"] and doc["queries"][n] >= 0.0
              and base["queries"][n] >= 0.0]
    if not shared:
        return None
    bt = sum(base["queries"][n] for n in shared)
    rt = sum(doc["queries"][n] for n in shared)
    if bt <= 0:
        return None
    drift = abs(rt - bt) / bt
    if drift > WINDOW_DRIFT_WARN:
        return (f"warning: shared-query totals differ by {drift:.0%} "
                f"(run {rt:.1f}s vs baseline {bt:.1f}s, > "
                f"{WINDOW_DRIFT_WARN:.0%} window-noise bound) -- if "
                "freezing new queries this round, rebaseline from THE "
                "SAME run that freezes the round so per-query ratios "
                "stay interpretable")
    return None


def rebaseline(out_path, base_path, reason):
    doc = load(out_path)
    err = shape_check(out_path, doc)
    if err:
        print(f"FAIL: refusing to rebaseline from a bad artifact: {err}")
        return 1
    if doc["failed"]:
        print(f"FAIL: refusing to rebaseline with {doc['failed']} failed "
              "queries in the artifact")
        return 1
    base = {
        "source": out_path,
        "sf": doc["sf"],
        "reason": reason,
        "queries": doc["queries"],
    }
    if doc.get("split") is not None:
        base["split"] = doc["split"]
    with open(base_path, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"rebaselined {base_path} from {out_path} "
          f"({len(doc['queries'])} queries) -- commit it")
    return 0


def main() -> int:
    args = sys.argv[1:]
    reason, base_path, do_rebase = None, "BENCH_BASELINE.json", False
    no_isolate, isolate_cmd, sfdir = False, None, "/root/testdata/sf0.1"
    rest = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--rebaseline":
            do_rebase = True
        elif a == "--no-isolate":
            no_isolate = True
        elif a in ("--reason", "--baseline", "--isolate-cmd", "--sfdir"):
            if i + 1 >= len(args):
                print(f"FAIL: {a} requires a value")
                return 1
            i += 1
            if a == "--reason":
                reason = args[i]
            elif a == "--baseline":
                base_path = args[i]
            elif a == "--isolate-cmd":
                isolate_cmd = args[i]
            else:
                sfdir = args[i]
        else:
            rest.append(a)
        i += 1
    path = rest[0] if rest else "BENCH_OUT.json"

    if do_rebase:
        if not reason:
            print("FAIL: --rebaseline requires --reason \"why\" (the freeze "
                  "is an auditable decision, not a side effect)")
            return 1
        return rebaseline(path, base_path, reason)

    try:
        doc = load(path)
    except FileNotFoundError:
        print(f"FAIL: {path} missing -- run `sbt \"runMain graft.Bench\"` "
              "from the repo root and commit the sidecar")
        return 1
    except json.JSONDecodeError as e:
        print(f"FAIL: {path} is not valid JSON: {e}")
        return 1
    err = shape_check(path, doc)
    if err:
        print(f"FAIL: {err}")
        return 1

    try:
        base = load(base_path)
    except FileNotFoundError:
        print(f"FAIL: {base_path} missing -- freeze one with "
              f"`python3 tools/bench_gate.py --rebaseline --reason ...` "
              "and commit it")
        return 1
    except json.JSONDecodeError as e:
        print(f"FAIL: {base_path} is not valid JSON: {e}")
        return 1

    fails, notes, flagged = regression_check(doc, base)
    if flagged:
        repo_dir = os.path.dirname(os.path.abspath(path)) or "."
        if no_isolate:
            fails += [f["msg"] for f in flagged]
        elif isolate_cmd is None and not os.path.exists(
                os.path.join(repo_dir, "build.sbt")):
            # synthetic artifacts (the self-tests) live outside the
            # repo: nothing to rerun against -- gate on suite numbers
            notes.append("note: flagged queries not isolation-rerun "
                         "(no build.sbt next to the artifact)")
            fails += [f["msg"] for f in flagged]
        else:
            names = sorted({f["name"] for f in flagged})
            print(f"isolating {len(names)} flagged quer"
                  f"{'y' if len(names) == 1 else 'ies'}: {', '.join(names)}")
            iso, err = isolate_rerun(names, isolate_cmd, repo_dir, sfdir)
            if iso is None:
                notes.append(f"note: {err} -- gating on the suite numbers")
                fails += [f["msg"] for f in flagged]
            else:
                i_fails, i_notes = apply_isolation(flagged, base, iso)
                fails += i_fails
                notes += i_notes
    r_fails, r_notes = recall_check(os.path.dirname(os.path.abspath(path)))
    fails += r_fails
    notes += r_notes
    drift = window_drift_note(doc, base)
    if drift:
        notes.append(drift)
    for n in notes:
        print(n)
    if fails:
        print(f"FAIL: {len(fails)} per-query regression(s) vs {base_path} "
              f"(reason of last freeze: {base.get('reason', '?')}):")
        for f_ in fails:
            print(f"  {f_}")
        return 1
    print(f"ok: {path} -- {doc['n']} queries, {doc['failed']} failed, "
          f"total {doc['value']:.3f}s at {doc['sf']}; no regression vs "
          f"{base_path} ({len(base['queries'])} baselined)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
