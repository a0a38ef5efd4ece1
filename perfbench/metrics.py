"""Reduce a workload's raw record to the benchmark's metrics.

The JVM harness records every timed operation, each pass's interval
and, in a traced run, spans plus the Spark jobs and SQL executions a
listener saw.  This module turns that into the end-to-end metrics
(untraced run) or the per-layer metrics (traced run), and holds the
rules those depend on: percentiles, self time and failure counting.
"""
import math
import os
import statistics

# maintain_batch's analytics step: a relational join with an aggregate,
# and near-duplicate detection
BATCH_QUERIES = ("q02_revenue_by_nation", "d03_minhash_lsh")

SERVE_VERBS = ("lexical", "ann", "hybrid", "batch")
SERVE_OPERATOR = {"lexical": "queryLexIndex", "ann": "queryIvfIndex",
                  "hybrid": "hybridTopK", "batch": "queryLexIndex.batch"}
READ_OPERATORS = ("queryLexIndex", "queryIvfIndex", "hybridTopK")
WRITE_VERBS = ("build", "add", "remove", "compact")
BATCH_SIZE = 16

# Gated: CPU time, scaled to a reference host speed. Wall times and
# memory (UNGATED) swing 20-40 % from run to run on a shared host, so
# they are reported, not gated.
END_TO_END = (("setup_s", "s"), ("cpu_s", "s"))
UNGATED = (("wall_s", "s"), ("setup_wall_s", "s"), ("op_p50_ms", "ms"),
           ("peak_rss_mb", "MiB"), ("live_heap_mb", "MiB"))


def per_layer_names():
    """(name, unit) of every per-layer metric, in a fixed order."""
    out = list(UNGATED) + [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
        ("spark.shuffle_read_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
        ("spark.spill_bytes", "B"), ("spark.input_bytes", "B"),
        ("spark.core_util", "ratio"), ("spark.driver_s", "s"),
        ("plan.exchanges", "count"), ("plan.broadcast_exchanges", "count"),
        ("plan.wscg_spans", "count")]
    for v in SERVE_VERBS:
        out.append((f"serve.overhead_ms.{v}", "ms"))
    out += [("serve.lexical_p50_ms", "ms"), ("serve.ann_p50_ms", "ms"),
            ("serve.hybrid_p50_ms", "ms"), ("serve.batch_ms_per_q", "ms"),
            ("serve.jobs_per_req", "count"), ("serve.tasks_per_req", "count"),
            ("serve.files_read_per_req", "count"), ("serve.bytes_read_per_req", "B"),
            ("serve.repeat_share", "ratio")]
    for o in READ_OPERATORS:
        out.append((f"operators.{o}.self_ms", "ms"))
    for v in WRITE_VERBS:
        out += [(f"operators.ivf.{v}.self_s", "s"), (f"operators.ivf.{v}.jobs", "count")]
    out += [("operators.ivf.write_amp", "ratio"), ("index_files.ivf", "count"),
            ("maintain.write_s", "s"), ("maintain.read_after_write_p50_ms", "ms"),
            ("index.indexWithHash_s", "s"), ("index.upsert_s", "s"),
            ("index.duplicateGroups_s", "s"), ("index.hash_mb_per_s", "MB/s"),
            ("index.read_bytes_per_tree_byte", "ratio")]
    for q in BATCH_QUERIES:
        out += [(f"queries.{q}.build_s", "s"), (f"queries.{q}.serve_s", "s")]
    out += [("queries.geomean_s", "s"), ("failed_frac", "ratio"), ("trace.overhead_s", "s")]
    return out


# ------------------------------------------------------------ rules

def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 1]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    i = p * (len(s) - 1)
    lo = math.floor(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def tail(xs, cap=0.99):
    """The highest percentile, up to `cap`, that has at least ten samples
    beyond it, as {"p", "value", "n"}; `p` and `value` are None when the
    sample is too small for any percentile above the median."""
    n = len(xs)
    p = min(cap, 1.0 - 10.0 / n) if n else 0.0
    if p <= 0.5:
        return {"p": None, "value": None, "n": n}
    return {"p": round(p, 4), "value": percentile(xs, p), "n": n}


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                                for c in kids.get(s["id"], []) if c["end_ns"] > a and c["start_ns"] < b])
        out[s["id"]] = (b - a) - covered
    return out


def failures(ops):
    """(attempted, failed): every op counts, a wrong answer is a failure."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


# ------------------------------------------------------------ reduce

def _ms(o):
    return (o["end_ns"] - o["start_ns"]) / 1e6


# CPU time a fixed JDK hashing task takes per thread (Main.hostRefNs) on
# the host the benchmark was written on, a 4-core shared virtual machine
REF_S = 0.18


def host_scale(record):
    """REF_S over the median of the run's host-speed readings.  The
    harness takes one before each set-up and pass and one at the end;
    scaling by it takes out much of the host's own drift, which moves
    every CPU time of a run together."""
    return REF_S / (_median(record["host_ref_ns"]) / 1e9)


def pass_walls(workload, record):
    """Per-pass wall time in seconds.  Concurrent clients (search_serve):
    the pass's elapsed time.  One client: the sum of its operations, so
    the benchmark's own checks between operations do not count."""
    walls = []
    for i, p in enumerate(record["passes"]):
        if workload == "search_serve":
            walls.append((p["end_ns"] - p["start_ns"]) / 1e9)
        else:
            walls.append(sum(_ms(o) for o in record["ops"]
                             if o["pass"] == i and o["cls"] != "check") / 1e3)
    return walls


def end_to_end(workload, record):
    scale = host_scale(record)
    return {
        "setup_s": _median([s["cpu_ns"] / 1e9 for s in record["setups"]]) * scale,
        "cpu_s": _median([p["cpu_ns"] / 1e9 for p in record["passes"]]) * scale,
    }


def ungated(workload, record):
    """Wall times and memory: reported, not gated (see END_TO_END)."""
    timed = [_ms(o) for o in record["ops"] if o["cls"] != "check"]
    return {
        "wall_s": _median(pass_walls(workload, record)),
        "setup_wall_s": _median([s["wall_ns"] / 1e9 for s in record["setups"]]),
        "op_p50_ms": _median(timed),
        "peak_rss_mb": record["peak_rss_mb"],
        "live_heap_mb": record["live_heap_mb"],
    }


def _attribute(trace):
    """Give each job and execution the span it belongs to."""
    spans = {s["id"]: s for s in trace["spans"]}
    windows = sorted((s["start_ns"], s["end_ns"], s["id"]) for s in trace["spans"] if s["window"])
    off = trace["epoch_offset_ns"]
    for j in trace["jobs"]:
        j["start_ns"] = j["start_ms"] * 1e6 - off
        j["end_ns"] = (j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]) * 1e6 - off
        if j["group"].isdigit():
            j["span"] = int(j["group"])
        else:  # submitted by a thread the benchmark does not own
            j["span"] = next((w for s, e, w in windows if s <= j["start_ns"] <= e), None)
    by_exec = {}
    for j in trace["jobs"]:
        if j["exec"] >= 0 and j["span"] is not None:
            by_exec.setdefault(j["exec"], j["span"])
    for x in trace["executions"]:
        x["span"] = int(x["group"]) if x["group"].isdigit() else by_exec.get(x["id"])
    return spans


def per_layer(workload, record, cores, untraced_wall=None):
    m = {name: 0.0 for name, _ in per_layer_names()}
    m.update(ungated(workload, record))
    trace = record["trace"]
    spans = _attribute(trace)
    selfs = self_times(list(spans.values()))
    walls = pass_walls(workload, record)
    traced_pass = next(p for p in record["passes"] if p["traced"])
    t0, t1 = traced_pass["start_ns"], traced_pass["end_ns"]
    jobs = [j for j in trace["jobs"] if t0 <= j["start_ns"] <= t1]
    in_pass = {s["id"] for s in spans.values() if t0 <= s["start_ns"] <= t1}
    execs = [x for x in trace["executions"] if x["span"] in in_pass]

    def jsum(key, js=jobs):
        return float(sum(j.get(key, 0.0) for j in js))

    wall_s = (t1 - t0) / 1e9
    m.update({
        "spark.jobs": float(len(jobs)), "spark.stages": jsum("stages"), "spark.tasks": jsum("tasks"),
        "spark.task_cpu_s": jsum("cpu_ns") / 1e9, "spark.gc_s": jsum("gc_ms") / 1e3,
        "spark.shuffle_read_bytes": jsum("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": jsum("shuffle_write_bytes"),
        "spark.spill_bytes": jsum("spill_bytes"), "spark.input_bytes": jsum("input_bytes"),
        "spark.core_util": jsum("run_ms") / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.driver_s": wall_s - union_length(
            [(max(t0, j["start_ns"]), min(t1, j["end_ns"])) for j in jobs]) / 1e9,
        "plan.exchanges": float(sum(x["exchanges"] for x in execs)),
        "plan.broadcast_exchanges": float(sum(x["broadcast_exchanges"] for x in execs)),
        "plan.wscg_spans": float(sum(x["wscg_spans"] for x in execs)),
    })

    def named(name, pass_only=True):
        return [s for s in spans.values() if s["name"] == name and (not pass_only or s["id"] in in_pass)]

    def dur_ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    def jobs_of(span_ids):
        return [j for j in trace["jobs"] if j["span"] in span_ids]

    # serve: HTTP p50 per verb, the direct call's p50, per-request Spark work
    ops = [o for o in record["ops"] if o["pass"] == record["passes"].index(traced_pass)]
    http = {v: [_ms(o) for o in ops if o["kind"] == v] for v in SERVE_VERBS}
    for v in SERVE_VERBS:
        direct = [dur_ms(s) for s in named(f"operators.{SERVE_OPERATOR[v]}", pass_only=False)]
        if http[v] and direct:
            m[f"serve.overhead_ms.{v}"] = _median(http[v]) - _median(direct)
    for v, key in (("lexical", "serve.lexical_p50_ms"), ("ann", "serve.ann_p50_ms"),
                   ("hybrid", "serve.hybrid_p50_ms")):
        if http[v]:
            m[key] = _median(http[v])
    if http["batch"]:
        m["serve.batch_ms_per_q"] = _median(http["batch"]) / BATCH_SIZE
    reqs = [s for s in spans.values() if s["window"] and s["id"] in in_pass]
    if reqs:
        ids = {s["id"] for s in reqs}
        rj = jobs_of(ids)
        m["serve.jobs_per_req"] = len(rj) / len(reqs)
        m["serve.tasks_per_req"] = jsum("tasks", rj) / len(reqs)
        m["serve.files_read_per_req"] = sum(x["files_read"] for x in trace["executions"]
                                            if x["span"] in ids) / len(reqs)
        m["serve.bytes_read_per_req"] = jsum("input_bytes", rj) / len(reqs)
    m["serve.repeat_share"] = record["extra"].get("repeat_share", 0.0)

    for o in READ_OPERATORS:
        xs = [selfs[s["id"]] / 1e6 for s in named(f"operators.{o}", pass_only=False)]
        if xs:
            m[f"operators.{o}.self_ms"] = statistics.fmean(xs)

    # IVF write verbs, and the reads after them
    io_key = "write_bytes" if any(s["io"].get("write_bytes", 0) > 0 for s in spans.values()) else "wchar"
    written = user = 0.0
    for v in WRITE_VERBS:
        ss = named(f"operators.ivf.{v}")
        if ss:
            m[f"operators.ivf.{v}.self_s"] = statistics.fmean(selfs[s["id"]] for s in ss) / 1e9
            m[f"operators.ivf.{v}.jobs"] = len(jobs_of({s["id"] for s in ss})) / len(ss)
        written += sum(s["io"].get(io_key, 0) for s in ss)
        user += sum(s["attrs"].get("input_bytes", 0.0) for s in ss)
    if user > 0:
        m["operators.ivf.write_amp"] = written / user
    m["index_files.ivf"] = record["extra"].get("index_files.ivf", 0.0)
    writes = [_ms(o) for o in ops if o["kind"].startswith("ivf.") and o["cls"] == "write"]
    reads = [_ms(o) for o in ops if o["kind"] == "ivf.read"]
    if writes:
        m["maintain.write_s"] = sum(writes) / 1e3
    if reads:
        m["maintain.read_after_write_p50_ms"] = _median(reads)

    # file index
    for name, key in (("index.indexWithHash", "index.indexWithHash_s"), ("index.upsert", "index.upsert_s"),
                      ("index.duplicateGroups", "index.duplicateGroups_s")):
        ss = named(name)
        if ss:
            m[key] = statistics.fmean(dur_ms(s) for s in ss) / 1e3
    for s in named("index.indexWithHash"):
        tree = s["attrs"].get("tree_bytes", 0.0)
        if tree > 0:
            m["index.hash_mb_per_s"] = tree / 1e6 / (dur_ms(s) / 1e3)
            m["index.read_bytes_per_tree_byte"] = s["io"].get("rchar", 0) / tree

    # the batch's queries
    per_query = []
    for q in BATCH_QUERIES:
        b, sv = named(f"queries.{q}.build"), named(f"queries.{q}.serve")
        if b and sv:
            m[f"queries.{q}.build_s"] = dur_ms(b[0]) / 1e3
            m[f"queries.{q}.serve_s"] = dur_ms(sv[0]) / 1e3
            per_query.append(m[f"queries.{q}.build_s"] + m[f"queries.{q}.serve_s"])
    if per_query:
        m["queries.geomean_s"] = geomean(per_query)

    attempted, failed = failures(record["ops"])
    m["failed_frac"] = failed / attempted if attempted else 0.0
    if untraced_wall is not None:
        m["trace.overhead_s"] = walls[0] - untraced_wall
    return m


def reduce(workload, record, traced, cores, untraced_wall=None):
    """The result line's fields, plus `detail` for the record file.
    `untraced_wall` is the median wall_s of untraced runs of the same
    build, which a traced run's wall is compared with."""
    attempted, failed = failures(record["ops"])
    units = dict(per_layer_names()) if traced else dict(END_TO_END)
    values = (per_layer(workload, record, cores, untraced_wall) if traced
              else end_to_end(workload, record))
    timed = [_ms(o) for o in record["ops"] if o["cls"] != "check"]
    detail = {
        "ungated": ungated(workload, record),
        "op_tail_ms": tail(timed),
        "op_n": len(timed),
        "failed_frac": failed / attempted if attempted else 0.0,
        "failed_ops": [(o["kind"], o["err"]) for o in record["ops"] if not o["ok"]],
        "pass_walls_s": pass_walls(workload, record),
        "setups_cpu_s": [s["cpu_ns"] / 1e9 for s in record["setups"]],
        "passes_cpu_s": [p["cpu_ns"] / 1e9 for p in record["passes"]],
        "harness_cpu_s": [p["harness_cpu_ns"] / 1e9 for p in record["passes"]],
        "host_ref_s": [x / 1e9 for x in record["host_ref_ns"]],
        "host_scale": host_scale(record),
        "session_s": record["session_s"],
        "extra": record["extra"],
    }
    # a number for every metric, even when nothing of a kind ran
    values = {k: 0.0 if v is None or math.isnan(v) else v for k, v in values.items()}
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        "detail": detail,
    }
