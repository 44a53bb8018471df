"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import workloads  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_with_a_hundred_samples(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90, 90, 100))

    def test_percentile_keeps_ten_samples_beyond_it(self):
        for n in range(20, 400):
            xs = list(range(n))
            value, p, count = metrics.tail_percentile(xs)
            self.assertEqual(count, n)
            self.assertLessEqual(p, 90)
            beyond = sum(1 for x in xs if x > value)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 90:
                # One percentile higher would leave fewer than ten beyond.
                self.assertLess(n - metrics.math.ceil((p + 1) * n / 100), 10, n)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile([5, 1, 3]), (3, 50, 3))
        self.assertEqual(metrics.tail_percentile(range(19))[1], 50)
        self.assertEqual(metrics.tail_percentile([46.0] * 46)[1], 78)


def span(t, start, end, **kw):
    return dict(t=t, start=start, end=end, **kw)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span("op", 0, 100, op=1), span("sql", 0, 100, exec=1),
                 span("job", 10, 40, exec=1), span("job", 30, 60, exec=1),
                 span("job", 90, 120, exec=1)]
        # The jobs cover [10, 60] and [90, 100] of the execution: 60 of 100.
        self.assertEqual(metrics.layer_self_times(spans), {"sql": 40, "exec": 60})

    def test_nested_children_and_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(metrics.union_length([(0, 10)], 5, 8), 3)

    def test_layer_self_times_partition_the_operation(self):
        spans = [span("op", 0, 100, op=1),
                 span("entry", 0, 20, op=1, name="entry.build"),
                 span("entry", 20, 100, op=1, name="entry.action"),
                 span("sql", 25, 90, exec=7),
                 span("job", 30, 60, exec=7, job=1),
                 span("job", 50, 80, exec=7, job=2),
                 span("lake", 2, 12, op=1, name="read")]
        selfs = metrics.layer_self_times(spans)
        self.assertAlmostEqual(sum(selfs.values()), 100)
        self.assertEqual(selfs["exec"], 50)       # two overlapping jobs cover [30, 80]
        self.assertEqual(selfs["sql"], 65 - 50)   # execution minus the union of its jobs
        self.assertEqual(selfs["lake"], 10)
        self.assertEqual(selfs["entry"], (20 - 10) + (80 - 65))
        self.assertNotIn("op", selfs)            # the phases cover the whole operation


class TracingOverhead(unittest.TestCase):
    def test_paired_by_name(self):
        def op(name, ms, traced):
            return {"op": {"name": name, "start": 0, "end": ms, "traced": traced}}
        # A cheap key traced and an expensive one untraced would pose as a
        # big negative overhead if the halves were compared directly.
        ops = [op("a", 100, True), op("a", 90, False), op("b", 1100, True), op("b", 1000, False)]
        self.assertAlmostEqual(metrics.tracing_overhead(ops), (100 / 90 + 1.1) / 2 - 1)


class TraceCompleteness(unittest.TestCase):
    def test_traced_gate_without_catalyst_record(self):
        def op(i, start, kind, traced):
            return {"t": "op", "op": i, "start": start, "end": start + 100, "kind": kind,
                    "name": f"{kind}{i}", "traced": traced}
        records = [op(1, 0, "gate", True), op(2, 200, "gate", True), op(3, 400, "gate", False),
                   op(4, 600, "lake", True),
                   {"t": "catalyst", "start": 210, "end": 250, "analysis_ms": 5}]
        # Op 1 lost its record; op 3 is untraced and op 4 a lake call,
        # which need none.
        self.assertEqual(metrics.untraced_gates(records), ["gate1"])


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_order_and_keys(self):
        for w in workloads.NAMES:
            self.assertEqual(workloads.passes(w, 7, 3), workloads.passes(w, 7, 3), w)

    def test_other_seed_other_order_same_work(self):
        a, b = workloads.passes("lake_dml", 1, 1)[0], workloads.passes("lake_dml", 2, 1)[0]
        self.assertNotEqual(a, b)
        shape = lambda ops: sorted((o["call"], o.get("size", "-"), len(o.get("keys", []))) for o in ops)
        self.assertEqual(shape(a), shape(b))
        key_sets = lambda ops: [o["keys"] for o in ops if "keys" in o and o["call"] == "merge"]
        self.assertNotEqual(key_sets(a), key_sets(b))

    def test_rank_names_the_same_operation_in_every_pass(self):
        # A traced run traces ranks of one parity per pass, so a rank must
        # be the same operation in every pass and for every seed.
        ident = lambda o: (o.get("key"), o.get("call"), o.get("table"), o.get("size"))
        for w in workloads.NAMES:
            first = None
            for seed in (1, 2):
                for ops in workloads.passes(w, seed, 2):
                    by_rank = {o["rank"]: ident(o) for o in ops}
                    self.assertEqual(sorted(by_rank), list(range(len(ops))), w)
                    first = first or by_rank
                    self.assertEqual(by_rank, first, w)

    def test_each_table_keeps_its_order(self):
        for seed in (1, 2):
            ops = workloads.passes("lake_dml", seed, 1)[0]
            for table, calls in workloads.LAKE_SEQUENCES.items():
                seen = [o["call"] for o in ops if o["table"] == table]
                want = [c for c in calls for _ in range(2 if c in workloads.LAKE_WRITES else 1)]
                self.assertEqual(seen, want, (seed, table))

    def test_delta_sizes(self):
        ops = workloads.passes("lake_dml", 3, 1)[0]
        n = len(workloads.lake_universe())
        for o in ops:
            if o.get("size") == "point":
                self.assertEqual(len(o["keys"]), workloads.POINT_KEYS)
            elif o.get("size") == "bulk":
                self.assertEqual(len(o["keys"]), n // 4)
        writes = {(o["call"], o["size"]) for o in ops if o.get("size") in ("point", "bulk")}
        self.assertEqual(len(writes), 2 * len(workloads.LAKE_WRITES))


class BenchmarkJson(unittest.TestCase):
    def test_reported_metrics_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(workloads.__file__), "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], metrics.E2E_REPORTED)
        summary = {"lake": {}, "jvm_gc_s": 0, "jvm_cpu_s": 0, "timed_wall_s": 1,
                   "jvm_heap_peak_mb": 0}
        layer = metrics.per_layer([], summary, 4, (1.0, 1.0))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         [(k, u) for k, (_, u) in layer.items()])
        self.assertTrue(set(w["name"] for w in bench["workloads"]) <= set(workloads.NAMES))


if __name__ == "__main__":
    unittest.main()
