"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import promref  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class SeedTest(unittest.TestCase):

    def test_same_seed_same_ops_and_bytes(self):
        a_ops, a_pay, a_str = workloads.etl_plan(7, 12)
        b_ops, b_pay, b_str = workloads.etl_plan(7, 12)
        self.assertEqual(json.dumps(a_ops), json.dumps(b_ops))
        self.assertEqual({q: p[0] for q, p in a_pay.items()},
                         {q: p[0] for q, p in b_pay.items()})
        self.assertEqual(json.dumps(workloads.promql_plan(7)),
                         json.dumps(workloads.promql_plan(7)))
        with tempfile.TemporaryDirectory() as d:
            for name in ("a", "b"):
                workloads.write_events(workloads.make_events(7),
                                       os.path.join(d, name))
                workloads.write_etl_inputs(os.path.join(d, name + "_etl"),
                                           a_pay, a_str)
            with open(os.path.join(d, "a"), "rb") as fa, \
                    open(os.path.join(d, "b"), "rb") as fb:
                self.assertEqual(fa.read(), fb.read())
            q = next(o["query_id"] for o in a_ops if o["type"] == "prom_matrix")
            with open(os.path.join(d, "a_etl", "payloads", q + ".json")) as fa, \
                    open(os.path.join(d, "b_etl", "payloads", q + ".json")) as fb:
                self.assertEqual(fa.read(), fb.read())

    def test_other_seed_other_ops(self):
        self.assertNotEqual(json.dumps(workloads.etl_plan(7, 12)[0]),
                            json.dumps(workloads.etl_plan(8, 12)[0]))
        self.assertNotEqual(json.dumps(workloads.promql_plan(7)["ops"]),
                            json.dumps(workloads.promql_plan(8)["ops"]))

    def test_no_panel_refresh_repeats(self):
        ops = workloads.promql_plan(3)["ops"]
        keys = {(o["text"], o.get("t", o.get("g1"))) for o in ops}
        self.assertEqual(len(keys), len(ops))

    def test_payload_counts_its_valid_samples(self):
        ops, pay, _ = workloads.etl_plan(5, 6)
        matrix = next(o for o in ops if o["type"] == "prom_matrix")
        body, ts, vals = pay[matrix["query_id"]]
        doc = json.loads(body)
        cells = [c for s in doc["data"]["result"] for c in s["values"]]
        valid = [c for c in cells if len(c) == 2 and isinstance(c[0], float)
                 and c[1] != "bad"]
        self.assertEqual(len(valid), len(ts))
        self.assertLess(len(valid), len(cells))


class TailTest(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90.0, 10))
        self.assertEqual(stats.tail(list(reversed(range(1, 21)))), (10, 50.0, 10))

    def test_few_ops_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 0))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):

    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, None, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),  # overlaps span 1 by 10
                 self.span(3, 1, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 50)
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_union(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)]), 10)


class OutputCheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.events = workloads.make_events(11)
        cls.store = promref.Store(cls.events)
        cls.plan = workloads.promql_plan(11)

    def rows_for(self, op):
        panel = self.plan["panels"][op["panel"]]
        times = ([op["t"]] if op["kind"] == "instant"
                 else range(op["g0"], op["g1"] + 1, op["step"]))
        rows = []
        for t in times:
            ref = promref.evaluate(self.store, panel["family"], panel["params"], t)
            if panel["params"].get("fn") == "topk":
                ref = dict(sorted(ref.items(), key=lambda kv: -kv[1])
                           [:panel["params"]["n"]])
            rows += [(lab, None if op["kind"] == "instant" else t, v)
                     for lab, v in ref.items()]
        return panel, rows

    def nonempty_op(self, family, kind):
        for op in self.plan["ops"][:400]:
            if op["family"] == family and op["kind"] == kind:
                panel, rows = self.rows_for(op)
                if rows:
                    return op, panel, rows
        self.fail(f"no {family} op with output")

    def test_reference_rows_pass(self):
        for fam in workloads.PROMQL_FAMILIES:
            op, panel, rows = self.nonempty_op(fam, "instant")
            self.assertIsNone(promref.check_panel(self.store, panel, op, rows), fam)

    def test_perturbed_row_fails(self):
        for fam in ("sel", "ot", "binop"):
            op, panel, rows = self.nonempty_op(fam, "range")
            lab, g, v = rows[len(rows) // 2]
            bumped = rows[:]
            bumped[len(rows) // 2] = (lab, g, v + 1e-6 * max(1.0, abs(v)))
            self.assertIsNotNone(promref.check_panel(self.store, panel, op, bumped))
            self.assertIsNotNone(promref.check_panel(self.store, panel, op, rows[1:]))
            extra = rows + [((("user", "nobody"),), g, 1.0)]
            self.assertIsNotNone(promref.check_panel(self.store, panel, op, extra))

    def test_perturbed_sink_fails(self):
        expected = {("op_0", "2024-01-21"): (3, 10.5), ("op_1", "2024-01-22"): (2, 4.0)}
        owner = {"op_0": 0, "op_1": 1}
        self.assertEqual(run.compare_sink(expected, dict(expected), owner), {})
        bad = dict(expected)
        bad[("op_1", "2024-01-22")] = (2, 4.01)
        self.assertEqual(set(run.compare_sink(expected, bad, owner)), {1})
        bad = dict(expected)
        bad[("op_0", "2024-01-21")] = (4, 10.5)
        self.assertEqual(set(run.compare_sink(expected, bad, owner)), {0})
        bad = {k: v for k, v in expected.items() if k[0] != "op_1"}
        self.assertEqual(set(run.compare_sink(expected, bad, owner)), {1})


class ContractTest(unittest.TestCase):

    def test_metric_names_match_benchmark_json(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
