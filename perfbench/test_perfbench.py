"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(run.p90(list(range(99))))
        values = list(range(100, 0, -1))
        got = run.p90(values)
        self.assertEqual(got, 90)
        self.assertEqual(sum(1 for v in values if v > got), 10)

    def test_p90_larger_panel(self):
        got = run.p90([float(i) for i in range(1, 201)])
        self.assertEqual(got, 180.0)
        self.assertGreaterEqual(sum(1 for i in range(1, 201) if i > got), 10)

    def test_p50_is_the_median(self):
        self.assertEqual(run.p50([5, 1, 3]), 3)
        self.assertEqual(run.p50([4, 1, 3, 2]), 2.5)


class SpanSelfTime(unittest.TestCase):
    def span(self, op, sid, parent, name, start_ms, end_ms):
        return {"op": op, "id": sid, "parent": parent, "name": name,
                "start_ns": int(start_ms * 1e6), "end_ns": int(end_ms * 1e6)}

    def test_children_are_subtracted_once(self):
        spans = [
            self.span(0, 1, -1, "cdc.apply", 0, 100),
            self.span(0, 2, 1, "inner", 10, 40),
            self.span(0, 3, 2, "leaf", 15, 25),
            self.span(0, 4, -1, "cdc.serve", 100, 120),
            # same span ids in another op never mix with op 0's
            self.span(1, 1, -1, "cdc.apply", 0, 50),
        ]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["cdc.apply"], (100 - 30) + 50)
        self.assertAlmostEqual(st["inner"], 30 - 10)
        self.assertAlmostEqual(st["leaf"], 10)
        self.assertAlmostEqual(st["cdc.serve"], 20)

    def test_self_times_sum_to_top_level_wall(self):
        spans = [self.span(0, 1, -1, "a", 0, 80), self.span(0, 2, 1, "b", 5, 60),
                 self.span(0, 3, 1, "c", 60, 70)]
        self.assertAlmostEqual(sum(run.self_times(spans).values()), 80)


def capture(workload, trace, e2e=None, layers=None, seed=0):
    return {"workload": workload, "trace": trace, "seed": seed,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in (e2e or {}).items()},
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in (layers or {}).items()}}


def seeds(workload, vals, first=0):
    return [capture(workload, 0, {"op_p50_ms": (v, "ms")}, seed=first + i)
            for i, v in enumerate(vals)]


class ComparatorVerdicts(unittest.TestCase):
    spec = {"end_to_end": [
        {"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.2},
        {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.2}]}

    def test_verdict_against_bound(self):
        self.assertEqual(compare.verdict(100.0, 119.0, "lower", 0.2), "same")
        self.assertEqual(compare.verdict(100.0, 121.0, "lower", 0.2), "WORSE")
        self.assertEqual(compare.verdict(100.0, 79.0, "lower", 0.2), "BETTER")
        self.assertEqual(compare.verdict(10.0, 7.9, "higher", 0.2), "WORSE")
        self.assertEqual(compare.verdict(10.0, 12.1, "higher", 0.2), "BETTER")

    def test_wide_or_unknown_spread_is_unresolved(self):
        self.assertEqual(compare.verdict(100.0, 100.0, "lower", 0.2, (0.21, 0.05)), "UNRESOLVED")
        self.assertEqual(compare.verdict(100.0, 150.0, "lower", 0.2, (0.05, 0.3)), "UNRESOLVED")
        self.assertEqual(compare.verdict(100.0, 150.0, "lower", 0.2, (None, 0.05)), "UNRESOLVED")
        self.assertEqual(compare.verdict(100.0, 150.0, "lower", 0.2, (0.1, 0.1)), "WORSE")

    def test_spread_is_iqr_over_median(self):
        vals = [90.0, 95.0, 100.0, 105.0, 110.0]
        q = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(compare.spread(vals), (q[2] - q[0]) / 100.0)
        self.assertIsNone(compare.spread([1.0, 2.0, 3.0]))

    def test_medians_over_seeds_and_exact_counts(self):
        base = seeds("dashboard", [100.0 + i for i in range(9)] + [300.0])
        change = seeds("dashboard", [130.0 + i for i in range(10)])
        base.append(capture("dashboard", 1, layers={"operators.jobs": (4.0, "count"),
                                                    "operators.task_run_ms": (10.0, "ms")}))
        change.append(capture("dashboard", 1, layers={"operators.jobs": (5.0, "count"),
                                                      "operators.task_run_ms": (99.0, "ms")}))
        got = compare.compare(base, change, self.spec)
        # median 104.5 -> 134.5 is +29%, beyond the 20% bound; the 300
        # outlier moves neither the base median nor its spread
        self.assertEqual(got, {("dashboard", "op_p50_ms"): "WORSE"})
        self.assertTrue(compare.is_count("operators.jobs", "count"))
        self.assertFalse(compare.is_count("operators.task_run_ms", "ms"))

    def test_no_regression_within_bounds(self):
        got = compare.compare(seeds("stream_ingest", (1000.0, 1010.0, 990.0, 1005.0)),
                              seeds("stream_ingest", (1100.0, 1090.0, 1110.0, 1100.0)), self.spec)
        self.assertEqual(got, {("stream_ingest", "op_p50_ms"): "same"})

    def test_pairs_by_seed(self):
        # seeds 0-4 on both sides agree; the change's extra seeds 10-14 are
        # slow and must not enter its median
        base = seeds("dashboard", (100.0,) * 5)
        change = seeds("dashboard", (101.0,) * 5) + seeds("dashboard", (500.0,) * 5, first=10)
        self.assertEqual(compare.compare(base, change, self.spec),
                         {("dashboard", "op_p50_ms"): "same"})
        b, c = compare.paired(base, change)
        self.assertEqual(len(b), 5)
        self.assertEqual(len(c), 5)


class MetricSelection(unittest.TestCase):
    def record(self, panel_ms, lookup_ms):
        ops = [{"kind": "panel", "ms": v, "ok": True, "rows_in": 0} for v in panel_ms]
        ops += [{"kind": "lookup", "ms": v, "ok": True, "rows_in": 0} for v in lookup_ms]
        rec = {"workload": "dashboard", "setup_s": 30.0, "timed_s": 10.0, "cache_peak_b": 0}
        return run.end_to_end(rec, ops)

    def test_panel_only_slowdown_moves_op_p50(self):
        # many more lookups than panel queries: the op median must still be
        # a panel latency, and lookups must have their own median
        base = self.record([500.0, 900.0, 1300.0], [150.0] * 30)
        slow = self.record([650.0, 1170.0, 1690.0], [150.0] * 30)
        self.assertEqual(base["op_p50_ms"][0], 900.0)
        self.assertAlmostEqual(slow["op_p50_ms"][0] / base["op_p50_ms"][0], 1.3)
        self.assertEqual(base["lookup_p50_ms"][0], slow["lookup_p50_ms"][0])

    def test_lookup_only_slowdown_moves_lookup_p50(self):
        base = self.record([500.0, 900.0], [100.0, 150.0, 200.0])
        slow = self.record([500.0, 900.0], [200.0, 300.0, 400.0])
        self.assertEqual(base["op_p50_ms"][0], slow["op_p50_ms"][0])
        self.assertEqual(slow["lookup_p50_ms"][0], 300.0)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_plan(self):
        self.assertEqual(gen.plan(11), gen.plan(11))

    def test_other_seed_other_split_same_totals(self):
        a, b = gen.plan(11), gen.plan(12)
        self.assertNotEqual(a["panel_order"], b["panel_order"])
        self.assertEqual(sorted(a["panel_order"]), sorted(b["panel_order"]))
        for k in ("cdc_cuts", "edge_cuts"):
            self.assertNotEqual(a[k], b[k])
            self.assertEqual(a[k][:2], b[k][:2])  # the bootstrap batch
            self.assertEqual(a[k][-1], b[k][-1])
            self.assertEqual(len(a[k]), len(b[k]))
            self.assertTrue(all(x < y for x, y in zip(a[k], a[k][1:])))
        self.assertNotEqual(a["dim_lookups"], b["dim_lookups"])
        self.assertNotEqual(a["curation_doc_ids"], b["curation_doc_ids"])
        self.assertEqual(len(a["curation_doc_ids"]), len(b["curation_doc_ids"]))

    def test_dim_lookups_hit_bootstrapped_keys(self):
        p = gen.plan(11)
        ids, kinds = gen.cdc_changes(11)[:2]
        boot = gen.STREAM["cdc_boot"]
        present = {f"o{i:06d}" for i, k in zip(ids[:boot], kinds[:boot]) if k == "update"}
        self.assertEqual(len(p["dim_lookups"]), gen.STREAM["batches"] + 1)
        self.assertTrue(all(key in present for row in p["dim_lookups"] for key in row))

    def test_inputs_same_seed_same_rows_other_seed_other_rows(self):
        s1, s1b, s2 = gen.stream_inputs(3), gen.stream_inputs(3), gen.stream_inputs(4)
        for log in ("cdc", "edges"):
            self.assertTrue(s1[log].equals(s1b[log]))
            self.assertEqual(s1[log].num_rows, s2[log].num_rows)
            self.assertFalse(s1[log].equals(s2[log]))
        w1, w2 = gen.warehouse(3), gen.warehouse(4)
        for t in w1:
            self.assertEqual(w1[t].num_rows, w2[t].num_rows)
            self.assertEqual(w1[t].schema, w2[t].schema)
        self.assertFalse(w1["lineitem"].equals(w2["lineitem"]))

    def test_contiguous_split_covers_every_row_once(self):
        import numpy as np
        cuts = gen.contiguous_split(400, 40, np.random.default_rng(5))
        self.assertEqual(cuts[0], 0)
        self.assertEqual(cuts[-1], 400)
        sizes = [y - x for x, y in zip(cuts, cuts[1:])]
        self.assertTrue(all(s > 0 for s in sizes))
        self.assertEqual(sum(sizes), 400)


if __name__ == "__main__":
    unittest.main()
