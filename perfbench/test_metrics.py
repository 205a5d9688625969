"""Tests of the benchmark's own arithmetic and contract.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import decimal
import json
import math
import os
import unittest

import duckdb

import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


def raw_run(workload, traced_ops=4):
    """A synthetic raw measurement file as the JVM side writes it."""
    ops = [{"id": i, "kind": k, "ms": 100.0 + i, "ok": True, "jobs": 3.0,
            "task_ms": 200.0, "analysis_ms": 5.0}
           for i, k in enumerate(["raceResults", "layers", "curate", "q_sql_tpch_q1"]
                                 * traced_ops)]
    return {"workload": workload, "cores": 4, "session_s": 8.0,
            "derive_s": 2.0, "warmup_s": 10.0, "timed_s": 5.0,
            "traced_from": 4, "traced_to": 12, "gc_ms": 40.0, "heap_peak_bytes": 2e8,
            "store_bytes": 1e6, "ops": ops,
            "spans": [{"id": 0, "name": "op.raceResults", "parent": -1, "op": 4,
                       "start_ms": 0.0, "end_ms": 10.0},
                      {"id": 1, "name": "sinks.upsert", "parent": 0, "op": 4,
                       "start_ms": 2.0, "end_ms": 9.0}],
            "batches": [{"op": 4, "ms": 30, "jobs": 3, "addBatch": 20, "walCommit": 2,
                         "commitOffsets": 3, "queryPlanning": 1},
                        {"op": 4, "ms": 50, "jobs": 5, "addBatch": 40, "walCommit": 2,
                         "commitOffsets": 3, "queryPlanning": 1}],
            "counters": {"dedup.candidates": 10.0, "dedup.verified": 5.0},
            "outputs": []}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_a_hundred_samples(self):
        self.assertIsNone(metrics.tail_ms(list(range(99))))
        self.assertEqual(metrics.tail_ms(list(range(1, 101))), 90)

    def test_ten_samples_really_lie_beyond(self):
        for n in range(100, 400):
            xs = list(range(n))
            v = metrics.tail_ms(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.nearest_rank(xs, 50), 3)
        self.assertEqual(metrics.nearest_rank(xs, 90), 5)
        self.assertEqual(metrics.nearest_rank(xs, 100), 5)
        self.assertEqual(metrics.nearest_rank([7], 90), 7)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 3.0),
                 self.span(2, 0, 2.0, 5.0), self.span(3, 0, 8.0, 12.0),
                 self.span(4, 2, 2.5, 4.0)]
        st = metrics.self_times(spans)
        # children cover [1, 5] and [8, 10] of the parent: 6 of its 10 ms
        self.assertAlmostEqual(st[0], 4.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 1.5)  # 3 ms minus its own child's 1.5
        self.assertAlmostEqual(st[3], 4.0)
        self.assertAlmostEqual(st[4], 1.5)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([self.span(7, -1, 3.0, 4.5)]), {7: 1.5})


class OracleComparison(unittest.TestCase):
    def test_values_compare_exactly_across_numeric_types(self):
        self.assertEqual(oracle.cell(5), oracle.cell(5.0))
        self.assertEqual(oracle.cell(5), oracle.cell(decimal.Decimal("5")))
        self.assertNotEqual(oracle.cell(0.1), oracle.cell(math.nextafter(0.1, 1.0)))
        self.assertEqual(oracle.cell(None), oracle.cell(float("nan")))
        self.assertNotEqual(oracle.cell("5"), oracle.cell(5))

    def test_rows_are_a_multiset_with_columns_by_name(self):
        con = duckdb.connect()
        a = oracle.rows(con.execute("SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (2, 'y')) t(k, v)"))
        b = oracle.rows(con.execute(
            "SELECT v, k FROM (VALUES (2, 'y'), (1, 'x'), (2, 'y')) t(k, v)"))
        c = oracle.rows(con.execute("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_are_well_formed(self):
        names = [m["name"] for k in ["end_to_end", "per_layer"] for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        for n in names:
            self.assertRegex(n, metrics.NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_every_declared_metric_is_emitted_with_its_unit(self):
        for w in self.bench["workloads"]:
            raw = raw_run(w["name"])
            e2e, _ = metrics.end_to_end(raw, gen_s=1.0)
            layer = metrics.per_layer(raw)
            for kind, got in [("end_to_end", e2e), ("per_layer", layer)]:
                declared = {m["name"]: m["unit"] for m in self.bench[kind]}
                self.assertEqual(set(got), set(declared), (w["name"], kind))
                for name, (value, unit) in got.items():
                    self.assertEqual(unit, declared[name], name)
                    self.assertIsInstance(value, float, name)

    def test_setup_adds_its_parts(self):
        e2e, _ = metrics.end_to_end(raw_run("etl_sql"), gen_s=1.0)
        self.assertAlmostEqual(e2e["setup_s"][0], 1.0 + 8.0 + 2.0 + 10.0)

    def test_stream_batches_take_medians(self):
        layer = metrics.per_layer(raw_run("curate_stream"))
        self.assertAlmostEqual(layer["streaming.batch_ms"][0], 40.0)
        self.assertAlmostEqual(layer["streaming.add_batch_ms"][0], 30.0)
        self.assertAlmostEqual(layer["streaming.jobs_per_batch"][0], 4.0)

    def test_span_layers_use_self_time(self):
        layer = metrics.per_layer(raw_run("etl_sql"))
        self.assertAlmostEqual(layer["bench.self_ms"][0], 3.0)
        self.assertAlmostEqual(layer["sinks.upsert_ms"][0], 7.0)


if __name__ == "__main__":
    unittest.main()
