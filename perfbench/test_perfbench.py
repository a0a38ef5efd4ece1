"""Tests of the benchmark's own code: seeded generators, the metric
rules and the metric list.  Run from the repo root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def inputs_digest(seed):
    """Digest of every generator's output for `seed`, at a small size."""
    with tempfile.TemporaryDirectory() as d:
        gen.write_tables(os.path.join(d, "tables"), seed, 0.0005)
        plan = gen.file_tree(os.path.join(d, "tree"), seed, 30)
        gen.dump(plan, os.path.join(d, "plan.json"))
        vecs, _ = gen.embeddings(seed, 50)
        gen.dump(gen.search_requests(seed, 40, vecs), os.path.join(d, "requests.json"))
        gen.dump(gen.lifecycle_splits(seed, 200, 2), os.path.join(d, "splits.json"))
        gen.dump(gen.query_order(seed, list(metrics.BATCH_QUERIES)), os.path.join(d, "order.json"))
        return tree_digest(d)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(inputs_digest(7), inputs_digest(7))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(inputs_digest(7), inputs_digest(8))

    def test_each_generator_depends_on_the_seed(self):
        vecs, _ = gen.embeddings(1, 50)
        self.assertNotEqual(gen.search_requests(1, 40, vecs), gen.search_requests(2, 40, vecs))
        self.assertNotEqual(gen.lifecycle_splits(1, 200, 2), gen.lifecycle_splits(2, 200, 2))
        self.assertNotEqual(gen.documents(1, 50), gen.documents(2, 50))
        names = list(metrics.BATCH_QUERIES)
        self.assertNotEqual(gen.query_order(1, names), gen.query_order(2, names))

    def test_planted_duplicates_match_the_written_tree(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.file_tree(d, 3, 60)
            by_content = {}
            base = os.path.join(d, "base")
            for root, _, fs in os.walk(base):
                for f in fs:
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        by_content.setdefault(fh.read(), []).append(os.path.relpath(p, base))
            found = sorted(sorted(g) for g in by_content.values() if len(g) > 1)
            self.assertEqual(found, plan["dups_before"])
            self.assertTrue(plan["dups_before"])

    def test_lifecycle_victims_are_live(self):
        s = gen.lifecycle_splits(5, 300, 3)
        live = set(s["base"])
        for r in s["rounds"]:
            live |= set(r["append"])
            self.assertTrue(set(r["remove"]) <= live)
            live -= set(r["remove"])
            self.assertEqual(len(live), r["live_after"])
        self.assertEqual(sorted(live), s["live"])


class PercentileRuleTest(unittest.TestCase):
    def test_no_tail_percentile_below_twenty_samples(self):
        for n in (1, 5, 19, 20):
            t = metrics.tail(list(range(n)))
            self.assertIsNone(t["p"])
            self.assertEqual(t["n"], n)

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 41))
        t = metrics.tail(xs)
        self.assertEqual(t["p"], 0.75)
        self.assertEqual(t["n"], 40)
        self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)

    def test_capped_at_p99(self):
        t = metrics.tail(list(range(5000)))
        self.assertEqual(t["p"], 0.99)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([5], 0.9), 5)


def span(i, parent, a, b, name="s", window=False):
    return {"id": i, "parent": parent, "start_ns": a, "end_ns": b, "name": name,
            "window": window, "io": {}, "attrs": {}}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_child_coverage_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 2, 12, 18), span(5, 0, 120, 130)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 40)  # children cover [10, 50]
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[4], 6)
        self.assertEqual(st[5], 10)

    def test_child_overhanging_the_parent_is_clipped(self):
        st = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(metrics.union_length([]), 0)


def op(kind, ms, ok=True, cls="read", p=0, start=0):
    return {"kind": kind, "cls": cls, "pass": p, "start_ns": start, "end_ns": start + ms * 1e6,
            "ok": ok, "err": "" if ok else "wrong"}


class FailureCountingTest(unittest.TestCase):
    def record(self, ops):
        return {"ops": ops, "passes": [{"start_ns": 0, "end_ns": 5e9, "cpu_ns": 9e9,
                                        "harness_cpu_ns": 1e8, "traced": False}],
                "host_ref_ns": [metrics.REF_S * 1e9] * 4,
                "setups": [{"wall_ns": 9e9, "cpu_ns": 20e9}, {"wall_ns": 1.5e9, "cpu_ns": 3e9},
                           {"wall_ns": 1e9, "cpu_ns": 2.5e9}],
                "session_s": 2.0, "live_heap_mb": 80.0, "peak_rss_mb": 900.0, "extra": {}}

    def test_wrong_answers_and_errors_both_count(self):
        ops = [op("a", 10), op("b", 20, ok=False), op("c", 30), op("direct.a", 5, ok=False, cls="check")]
        r = metrics.reduce("maintain_batch", self.record(ops), False, 4)
        self.assertEqual((r["attempted"], r["failed"]), (4, 2))
        self.assertFalse(r["correct"])
        self.assertEqual(r["detail"]["failed_frac"], 0.5)

    def test_failed_ops_stay_in_the_latency_sample(self):
        ops = [op("a", 10), op("b", 1000, ok=False), op("c", 30)]
        w = metrics.ungated("maintain_batch", self.record(ops))
        self.assertEqual(w["op_p50_ms"], 30)
        self.assertAlmostEqual(w["wall_s"], 1.04)

    def test_serving_wall_is_the_pass_interval(self):
        ops = [op("lexical", 10), op("ann", 20)]
        self.assertEqual(metrics.ungated("search_serve", self.record(ops))["wall_s"], 5.0)

    def test_end_to_end_metrics_are_cpu_time(self):
        m = metrics.reduce("search_serve", self.record([op("lexical", 10)]), False, 4)["metrics"]
        self.assertEqual({k: v["value"] for k, v in m.items()}, {"setup_s": 3.0, "cpu_s": 9.0})

    def test_cpu_times_scale_with_host_speed(self):
        rec = self.record([op("lexical", 10)])
        rec["host_ref_ns"] = [metrics.REF_S * 1e9 * f for f in (1.0, 1.25, 1.25, 1.25, 3.0)]
        m = metrics.reduce("search_serve", rec, False, 4)["metrics"]
        self.assertAlmostEqual(m["cpu_s"]["value"], 9.0 / 1.25)
        self.assertAlmostEqual(m["setup_s"]["value"], 3.0 / 1.25)

    def test_setup_is_the_median_set_up(self):
        w = metrics.ungated("search_serve", self.record([op("lexical", 10)]))
        self.assertEqual(w["setup_wall_s"], 1.5)


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_names_every_metric_the_code_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, dict(metrics.END_TO_END))
        self.assertEqual(layer, dict(metrics.per_layer_names()))
        self.assertEqual({w["name"] for w in spec["workloads"]}, {"search_serve", "maintain_batch"})


if __name__ == "__main__":
    unittest.main()
