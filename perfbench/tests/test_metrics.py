"""Tests for the benchmark's own arithmetic (perfbench/metrics.py).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


def span(i, parent, layer, name, s, e):
    return {"id": i, "parent": parent, "layer": layer, "name": name,
            "start_ns": s, "end_ns": e}


def job(i, s, e, desc="", stages=()):
    return {"id": i, "start_ns": s, "end_ns": e, "description": desc,
            "stage_ids": list(stages)}


class TailTest(unittest.TestCase):
    def test_too_few_samples_gives_none(self):
        self.assertIsNone(metrics.tail([1.0] * 19))

    def test_twenty_samples_give_the_median(self):
        xs = list(range(1, 21))
        # p50 is the 10th value; exactly 10 samples lie beyond it
        self.assertEqual(metrics.tail(xs), (50.0, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        # p90 leaves 10 beyond; p95 would leave only 5
        self.assertEqual(metrics.tail(xs), (90.0, 90))

    def test_order_does_not_matter(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(list(reversed(xs))), (99.0, 990))


class DriverGapTest(unittest.TestCase):
    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.driver_gap_frac([span(0, -1, "ops", "b", 0, 100)], []), 1.0)

    def test_overlapping_jobs_count_once(self):
        sp = [span(0, -1, "ops", "b", 0, 100)]
        jobs = [job(1, 10, 50), job(2, 30, 70), job(3, 80, 90)]
        # union [10,70) + [80,90) = 70 covered, 30 gap
        self.assertAlmostEqual(metrics.driver_gap_frac(sp, jobs), 0.30)

    def test_jobs_are_clipped_to_the_span(self):
        sp = [span(0, -1, "ops", "b", 100, 200)]
        jobs = [job(1, 50, 150), job(2, 190, 400)]
        self.assertAlmostEqual(metrics.driver_gap_frac(sp, jobs), 0.40)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 10), (20, 25), (3, 4)]), 15)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, "jobs", "run", 10, 60), span(2, 0, "jobs", "merge", 60, 90),
                 span(3, 1, "jobs", "inner", 20, 30), span(0, -1, "jobs", "op", 0, 100)]
        own = metrics.self_times(spans)
        self.assertEqual(own[0], 100 - 50 - 30)
        self.assertEqual(own[1], 50 - 10)
        self.assertEqual(own[2], 30)
        self.assertEqual(own[3], 10)

    def test_top_spans(self):
        spans = [span(0, -1, "jobs", "op", 0, 100), span(1, 0, "jobs", "run", 0, 50),
                 span(2, -1, "entry", "cqf", 100, 200)]
        self.assertEqual([s["id"] for s in metrics.top_spans(spans, "jobs")], [0])


class StageGroupingTest(unittest.TestCase):
    def test_stage_of_descriptions(self):
        self.assertEqual(metrics.stage_of("incdedup[batch_0] control: signature stats"),
                         "control")
        self.assertEqual(metrics.stage_of("incdedup[b1] sign: fingerprint+materialize"),
                         "sign")
        self.assertEqual(metrics.stage_of("incdedup[x] commit marker"), "commit")
        self.assertIsNone(metrics.stage_of("Listing leaf files and directories"))
        self.assertIsNone(metrics.stage_of(None))

    def test_stage_seconds_sums_by_stage(self):
        jobs = [job(1, 0, 1_000_000_000, "incdedup[b] buckets: counts"),
                job(2, 0, 500_000_000, "incdedup[b] buckets: append"),
                job(3, 0, 250_000_000, "incdedup[b] verify: touched batches"),
                job(4, 0, 9_000_000_000, "")]
        out = metrics.stage_seconds(jobs)
        self.assertAlmostEqual(out["buckets"], 1.5)
        self.assertAlmostEqual(out["verify"], 0.25)
        self.assertEqual(out["sign"], 0.0)
        self.assertEqual(set(out), set(metrics.OPS_STAGES))

    def test_stage_owner_is_first_job(self):
        jobs = [job(5, 0, 1, stages=[7, 8]), job(4, 0, 1, stages=[8])]
        self.assertEqual(metrics.stage_owner(jobs), {8: 4, 7: 5})


class EndToEndTest(unittest.TestCase):
    def rec(self):
        def op(s, ok=True):
            return {"s": s, "net_s": s / 2, "ok": ok}
        rounds = [{"wall_s": 2.0, "steal_frac": 0.5, "units": 100.0,
                   "stored_bytes": 2_000_000, "ops": [op(1.0), op(1.0, False)], "layer": {}},
                  {"wall_s": 4.0, "steal_frac": 0.0, "units": 100.0,
                   "stored_bytes": 4_000_000, "ops": [op(3.0)], "layer": {}}]
        return {"workload": "incremental_dedup", "rounds": rounds,
                "setup": [{"wall_s": w, "steal_frac": 0.5} for w in (6.0, 2.0, 4.0)]}

    def test_figures(self):
        m, full, attempted, failed = metrics.end_to_end(self.rec())
        # net of steal: rounds take 1 s and 4 s net, ops 0.5 s, 0.5 s, 1.5 s
        self.assertEqual(m, {"setup_s": 2.0, "op_p50_s": 0.5, "items_per_s": 62.5})
        self.assertEqual(full["setup_s"]["wall"], 4.0)
        self.assertEqual(full["op_p50_s"]["wall"], 1.0)
        self.assertEqual(full["dedup_docs_per_s"]["wall"], 37.5)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(full["fail_frac"]["value"], 1 / 3)
        self.assertEqual(full["stored_mb"]["value"], 3.0)
        self.assertEqual(full["dedup_docs_per_s"]["unit"], "docs/s")
        self.assertNotIn("op_tail_s", full)


class PerLayerTest(unittest.TestCase):
    def test_probe_rounds_feed_their_layers(self):
        op = {"s": 1.0, "net_s": 1.0, "ok": True}
        probe = {"wall_s": 6.0, "steal_frac": 0.0, "units": 3.0, "stored_bytes": 0,
                 "ops": [op] * 3,
                 "layer": {"batch_s": [1.0, 2.0, 3.0], "state_mb": [1.0, 2.0, 3.0],
                           "state_files": [4, 5, 6], "pairs": 7}}
        rec = {"workload": "corpus_build_hll", "cores": 4, "kernels": {}, "families": {},
               "rounds": [{"ops": [op]}], "traced_rounds": [{"ops": [op], "layer": {},
                                                             "stored_bytes": 0}],
               "probes": [{"workload": "incremental_dedup", "round": probe}],
               "trace": {"spans": [], "jobs": [], "stages": [], "progress": []}}
        out = metrics.per_layer(rec)
        self.assertEqual((out["ops.batch_first_s"], out["ops.batch_last_s"]), (1.0, 3.0))
        self.assertEqual((out["ops.pairs"], out["util.state_mb"], out["util.state_files"]),
                         (7, 3.0, 6))
        kernel = {k for k in metrics.PER_LAYER_UNITS
                  if k.startswith(("sketch.", "agg.", "functions."))}
        self.assertEqual(set(out), set(metrics.PER_LAYER_UNITS) - kernel)


class BenchmarkJsonTest(unittest.TestCase):
    def test_declared_metrics_match_the_code(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
