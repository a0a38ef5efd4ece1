#!/usr/bin/env python3
"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It builds the program and the harness
into `.bench_build/` (only when their sources changed), generates the
workload's inputs from the seed, runs the workload in one JVM, checks
the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced run gives the per-layer ones.  The full record (run
stamp, every op, spans) goes to `.bench_build/results/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "graft-perfbench.jar")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("search_serve", "maintain_batch")
DEADLINE_S = 170  # the whole run must end within 180 s
JVM_HEAP = "2g"

# Input sizes.  search_serve: documents and embeddings at sf_serve,
# `pass_size` requests per pass from `clients` closed-loop clients.
# maintain_batch: a tree of `tree_files` files, an IVF index over the
# embeddings at sf_batch with `rounds` append/remove rounds, and the
# query list over tables at sf_batch after a warm-up at sf_warm.
SIZES = {"sf_serve": 0.01, "clients": 2, "pass_size": 16,
         "tree_files": 400, "rounds": 1, "sf_batch": 0.01, "sf_warm": 0.001}
# set-ups per run; setup_s is their median
SETUPS = 3

ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """sha256 over the program's and the harness's sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile and package with sbt unless the jar matches the sources."""
    stamp = os.path.join(BUILD, "build.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building (sbt package)")
    os.makedirs(BUILD, exist_ok=True)
    for f in glob.glob(os.path.join(BUILD, "*.jsa")) + [stamp]:
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, BENCH_BUILD_DIR=BUILD)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)


def loadavg1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def git_state():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def make_inputs(workload, seed, work):
    """Generate the workload's inputs under `work`; nothing here is timed."""
    tables = os.path.join(work, "tables")
    z = SIZES
    if workload == "search_serve":
        gen.write_tables(tables, seed, z["sf_serve"], ("documents", "embeddings"))
        vecs, _ = gen.embeddings(seed, gen.table_sizes(z["sf_serve"])["embeddings"])
        reqs = gen.search_requests(seed, z["pass_size"] * 40, vecs)
        # a batch runs the lexical plan, which the lexical request warms
        warm = [next(r for r in gen.search_requests(seed + 1, 64, vecs) if r["kind"] == k)
                for k in ("lexical", "ann", "hybrid")]
        gen.dump({"k": 10, "clients": z["clients"], "pass_size": z["pass_size"],
                  "warm": warm, "requests": reqs}, os.path.join(work, "requests.json"))
    else:
        gen.write_tables(tables, seed, z["sf_batch"])
        gen.write_tables(os.path.join(work, "warm"), seed, z["sf_warm"])
        plan = gen.file_tree(os.path.join(work, "tree"), seed, z["tree_files"])
        gen.dump(plan, os.path.join(work, "tree", "plan.json"))
        n = gen.table_sizes(z["sf_batch"])["embeddings"]
        vecs, _ = gen.embeddings(seed, n)
        gen.dump({
            "k": 10,
            "emb": gen.lifecycle_splits(seed, n, z["rounds"]),
            "ann_queries": [r["vec"] for r in gen.search_requests(seed, 32, vecs) if "vec" in r][:4],
            "queries": gen.query_order(seed, list(metrics.BATCH_QUERIES)),
        }, os.path.join(work, "batch.json"))


def run_jvm(workload, seconds, trace, work, cores, deadline):
    """Run the harness for one workload in a fresh JVM; return its record.

    Spark loads some 20k classes.  The first run of a workload after a
    build records them in a class-data archive as the JVM exits; later
    runs map them from it instead of parsing and verifying them again,
    which halves JVM and session start-up."""
    spark_home = os.environ["SPARK_HOME"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(BUILD, f"{workload}.jsa")
    cmd = ["java", f"-Xmx{JVM_HEAP}",
           f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "graftbench.Main", "--workload", workload, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace),
        "--cores", str(cores), "--setups", str(SETUPS), "--out", os.path.join(work, "record.json")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{workload} did not finish in time")
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"{workload} JVM exited with {code}")
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def oracle_check(work):
    """Check the written query results with the repo's oracle checker,
    `tools/oracle_check.py` (DuckDB running each query's oracle SQL over
    the same tables); return {query: reason} for each query it does not
    pass.  A query without oracle SQL is not checked, so it is wrong."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                        os.path.join(work, "tables"), os.path.join(work, "out")],
                       capture_output=True, text=True, timeout=120)
    status = {}
    for line in r.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        name, _, why = rest.strip().partition(": ")
        if tag in ("PASS", "FAIL", "INFO"):
            status[name] = (tag, why)
    wrong = {}
    for q in metrics.BATCH_QUERIES:
        tag, why = status.get(q, (None, f"no verdict (exit {r.returncode}): {r.stderr[-200:]}"))
        if tag != "PASS":
            wrong[q] = why if tag != "INFO" else f"no oracle SQL: {why}"
    return wrong


def untraced_wall(out_dir, workload, digest):
    """Median wall_s of this build's earlier untraced runs of `workload`,
    or None when there are none."""
    walls = []
    for p in glob.glob(os.path.join(out_dir, f"*-{workload}-s*-t0.json")):
        with open(p) as f:
            r = json.load(f)
        wall = r.get("detail", {}).get("ungated", {}).get("wall_s")
        if r["stamp"]["source_sha256"] == digest and wall is not None:
            walls.append(wall)
    return statistics.median(walls) if walls else None


def main():
    # turn SIGTERM into SystemExit, so the JVM is stopped and the work
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
    if not os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py")):
        raise SystemExit(f"no {ROOT}/tools/oracle_check.py to check query results with")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME is not set; the build and the JVM take Spark's jars from it")

    digest = source_digest()
    build(digest)
    # the build may take most of a first run; the workload gets its own budget
    deadline = time.monotonic() + DEADLINE_S - min(time.monotonic() - started, 10)
    cores = len(os.sched_getaffinity(0))
    sha, dirty = git_state()
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "git_sha": sha, "git_dirty": dirty,
        "source_sha256": digest, "nproc": os.cpu_count(), "spark_cores": cores,
        "load1_start": loadavg1(),
        "timestamp": datetime.now(timezone.utc).isoformat(timespec="seconds"),
    }
    steal0 = cpu_ticks()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        make_inputs(args.workload, args.seed, work)
        record = run_jvm(args.workload, args.seconds, args.trace, work, cores, deadline)
        if args.workload == "maintain_batch":
            wrong = oracle_check(work)
            for op in record["ops"]:
                if op["kind"].startswith("queries.") and op["kind"][8:] in wrong:
                    op["ok"], op["err"] = False, wrong[op["kind"][8:]]
            record["oracle_wrong"] = wrong
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: a run with a high
    # share was measured on a contended host
    stamp.update(load1_end=loadavg1(), jvm_version=record["jvm_version"],
                 spark_version=record["spark_version"],
                 steal_share=round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4))
    out_dir = os.path.join(BUILD, "results")
    os.makedirs(out_dir, exist_ok=True)
    result = metrics.reduce(args.workload, record, bool(args.trace), cores,
                            untraced_wall(out_dir, args.workload, digest) if args.trace else None)
    detail = result.pop("detail")
    name = f"{stamp['timestamp'].replace(':', '')}-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"stamp": stamp, "result": result, "detail": detail, "record": record}, f)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
