"""Self-tests of the benchmark's reductions and of BENCHMARK.json's metric
lists. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import run
import stats


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile(xs, 0), 1)

    def test_unsorted_and_odd_count(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2)

    def test_empty_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class IntervalTest(unittest.TestCase):

    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_clips(self):
        self.assertEqual(stats.union_ms([(0, 10), (20, 30)], 5, 25), 10)

    def test_driver_only(self):
        # op window 100 ms; jobs cover 10..40 and 30..60 -> 50 ms busy
        self.assertEqual(stats.driver_only_ms(0, 100, [(10, 40), (30, 60)]), 50)
        self.assertEqual(stats.driver_only_ms(0, 100, []), 100)


class SelfTimeTest(unittest.TestCase):

    @staticmethod
    def span(op, sid, parent, start, end, name="x"):
        return {"op": op, "id": sid, "parent": parent, "name": name,
                "start_ns": start, "end_ns": end}

    def test_children_subtracted(self):
        spans = [self.span(0, 0, -1, 0, 100), self.span(0, 1, 0, 10, 30),
                 self.span(0, 2, 0, 50, 60), self.span(0, 3, 1, 15, 20)]
        st = stats.self_times_ns(spans)
        self.assertEqual(st[(0, 0)], 70)
        self.assertEqual(st[(0, 1)], 15)
        self.assertEqual(st[(0, 2)], 10)
        self.assertEqual(st[(0, 3)], 5)

    def test_ops_kept_apart(self):
        spans = [self.span(0, 0, -1, 0, 100), self.span(1, 0, -1, 0, 40),
                 self.span(1, 1, 0, 0, 40)]
        st = stats.self_times_ns(spans)
        self.assertEqual(st[(0, 0)], 100)
        self.assertEqual(st[(1, 0)], 0)


class TraceOverheadTest(unittest.TestCase):

    def test_extra_spans_left_out(self):
        ops = [{"id": 0, "ns": 100, "traced_ns": 150},
               {"id": 1, "ns": 100, "traced_ns": 90}]
        spans = [
            {"op": 0, "id": 0, "parent": -1, "name": "extra",
             "start_ns": 0, "end_ns": 40},
            {"op": 0, "id": 1, "parent": -1, "name": "other",
             "start_ns": 40, "end_ns": 150},
            # an op not among `ops` (a chain op) does not count
            {"op": 2, "id": 0, "parent": -1, "name": "extra",
             "start_ns": 0, "end_ns": 1000},
        ]
        self.assertAlmostEqual(
            stats.trace_overhead(ops, spans, "extra"), (240 - 40) / 200 - 1)


class DigestTest(unittest.TestCase):

    def test_mismatch_positions(self):
        self.assertEqual(stats.digest_mismatches(["a", "b", "c"], ["a", "b", "c"]), [])
        self.assertEqual(stats.digest_mismatches(["a", "x", "c"], ["a", "b", "c"]), [1])
        # a traced run checks fewer ops than the stored list holds
        self.assertEqual(stats.digest_mismatches(["a"], ["a", "b"]), [])
        # a check op with no stored digest
        self.assertEqual(stats.digest_mismatches(["a", "b", "c"], ["a", "b"]), [2])

    def test_stored_digests_are_well_formed(self):
        digests = run.load_digests()
        self.assertEqual(set(digests), set(run.WORKLOADS))
        for workload, seeds in digests.items():
            self.assertTrue(seeds)
            for d in seeds.values():
                self.assertEqual(set(d), {"setup", "ops"})
                self.assertEqual(len(d["ops"]), run.CHECK_OPS[workload])
                self.assertTrue(all(len(x) == 64 for x in [d["setup"]] + d["ops"]))


class BenchmarkFileTest(unittest.TestCase):

    def test_metric_lists_match_the_runner(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        def triples(ms):
            return [(m["name"], m["unit"], m["better"]) for m in ms]
        self.assertEqual(triples(spec["end_to_end"]), run.END_TO_END)
        self.assertEqual(triples(spec["per_layer"]), run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
