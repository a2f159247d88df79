"""Unit tests of the benchmark's summary arithmetic.

    python3 -m unittest discover -s erbench -p 'test_*.py'
"""

import json
import os
import unittest

import summary

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


def span(i, name, parent, start, end, jobs=0, cpu=0.0, attrs=None):
    return {"id": i, "name": name, "parent": parent, "run_id": "r", "start_s": start,
            "end_s": end, "jobs": jobs, "task_cpu_s": cpu, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "attrs": attrs or {}}


def raw(workload, spans, ops, checks=(), setup=(1.0, 2.0, 9.0), facts=None, error=""):
    return {"workload": workload, "threads": 4, "error": error, "setup_s": list(setup),
            "input_bytes": 100.0, "run_dir_bytes": 250.0, "spans": spans,
            "ops": [{"name": n, "span": s, "ok": ok, "error": ""} for n, s, ok in ops],
            "checks": [{"name": n, "value": v, "limit": "", "ok": ok} for n, v, ok in checks],
            "facts": facts or {},
            "host": {"calib_ms": 80.0, "loadavg_1m": 0.5, "nproc": 4, "threads": 4,
                     "heap_max_mb": 2048, "heap_peak_mb": 900.0}}


def batch_raw():
    spans = [span(0, "batch.run", -1, 0.0, 10.0, jobs=90, cpu=4.0),
             span(1, "batch.run", -1, 10.0, 17.0, jobs=90, cpu=3.0),
             span(2, "batch.run", -1, 17.0, 25.0, jobs=90, cpu=3.5)]
    return raw("batch", spans, [("batch.run", i, True) for i in range(3)],
               checks=[("f1", 0.995, True), ("span_invariant_violations", 0, True)])


def churn_raw():
    spans = [span(0, "churn.cycle", -1, 0.0, 30.0),
             span(1, "ingest.batch", 0, 0.0, 8.0, jobs=150, cpu=2.0, attrs={"docs": 6, "pairs_fresh": 12}),
             span(2, "ingest.batch", 0, 8.0, 18.0, jobs=210, cpu=3.0, attrs={"docs": 6, "pairs_fresh": 6}),
             span(3, "untimed", 0, 18.0, 20.0, jobs=5, cpu=1.0),
             span(4, "remove", 0, 20.0, 30.0, jobs=100, cpu=1.5)]
    ops = [("ingest.batch", 1, True), ("ingest.batch", 2, True), ("remove", 4, True), ("churn.cycle", 0, True)]
    return raw("churn", spans, ops, checks=[("roundtrip_diff", 0, True), ("f1", 1.0, True)],
               facts={"setup.base_run_s": 12.0, "remove.roundtrip_diff": 0.0})


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, "run", -1, 0.0, 10.0),
                 span(1, "a", 0, 1.0, 4.0),
                 span(2, "b", 0, 3.0, 5.0),      # overlaps a: 1..5 covered once
                 span(3, "c", 1, 1.5, 2.0),      # grandchild: inside a, not the parent's child
                 span(4, "d", 0, 9.0, 12.0)]     # runs past the parent: clipped to 9..10
        self.assertAlmostEqual(summary.self_time(spans[0], spans), 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(summary.self_time(spans[1], spans), 3.0 - 0.5)
        self.assertAlmostEqual(summary.self_time(spans[2], spans), 2.0)

    def test_inclusive_cost_sums_descendants(self):
        spans = [span(0, "run", -1, 0, 10, jobs=1), span(1, "a", 0, 0, 5, jobs=2),
                 span(2, "b", 1, 0, 1, jobs=4), span(3, "x", -1, 10, 11, jobs=8)]
        self.assertEqual(summary.inclusive(spans[0], spans, "jobs"), 7)


class MedianTest(unittest.TestCase):
    def test_median_and_sample_count(self):
        r = batch_raw()
        e2e = summary.end_to_end(r)
        self.assertEqual(e2e["cycle_s"], (8.0, 3))
        self.assertEqual(e2e["task_cpu_s"], (3.5, 3))
        self.assertEqual(e2e["setup_s"], (2.0, 3))
        self.assertEqual(summary.samples(r)["cycle_s"], 3)
        self.assertEqual(summary.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(summary.median([]), 0.0)

    def test_failed_passes_are_not_samples(self):
        r = batch_raw()
        r["ops"][0]["ok"] = False
        self.assertEqual(summary.end_to_end(r)["cycle_s"], (7.5, 2))

    def test_churn_cycle_excludes_untimed_checks(self):
        r = churn_raw()
        e2e = summary.end_to_end(r)
        self.assertEqual(e2e["cycle_s"], (28.0, 1))
        self.assertEqual(e2e["task_cpu_s"], (6.5, 1))
        self.assertEqual(e2e["setup_s"], (14.0, 3))  # median setup + the one base run
        layers = summary.per_layer(r)
        self.assertEqual(layers["ingest.plain_batch_s_p50"], 9.0)
        self.assertEqual(layers["ingest.jobs_per_batch"], 180.0)
        self.assertEqual(layers["ingest.pairs_fresh_per_doc"], 1.5)


class FailedCountTest(unittest.TestCase):
    def test_clean_run(self):
        self.assertEqual(summary.counts(batch_raw()), (5, 0))

    def test_failed_op_and_failed_check_each_count(self):
        r = batch_raw()
        r["ops"][1]["ok"] = False
        r["checks"][0]["ok"] = False
        self.assertEqual(summary.counts(r), (5, 2))
        self.assertFalse(summary.result(r, load_spec(), False)["correct"])

    def test_aborted_run_counts_a_failure(self):
        r = raw("batch", [], [], error="boom")
        self.assertEqual(summary.counts(r), (1, 1))


class SpecNamesTest(unittest.TestCase):
    def setUp(self):
        self.spec = load_spec()

    def test_untraced_output_names_every_end_to_end_metric(self):
        for r in (batch_raw(), churn_raw()):
            out = summary.result(r, self.spec, trace=False)
            names = [m["name"] for m in self.spec["end_to_end"]]
            self.assertEqual(sorted(out["metrics"]), sorted(names))
            for m in self.spec["end_to_end"]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})

    def test_traced_output_names_every_per_layer_metric(self):
        for r in (batch_raw(), churn_raw()):
            out = summary.result(r, self.spec, trace=True)
            self.assertEqual(sorted(out["metrics"]), sorted(m["name"] for m in self.spec["per_layer"]))

    def test_summary_computes_nothing_the_spec_does_not_name(self):
        self.assertEqual(set(summary.end_to_end(batch_raw())),
                         {m["name"] for m in self.spec["end_to_end"]})
        self.assertEqual(set(summary.per_layer(churn_raw())),
                         {m["name"] for m in self.spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
