"""The benchmark's own tests: seeded generators, statistics, the
pairing rule and the BENCHMARK.json contract.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
sys.path.insert(0, PERFBENCH)

import datagen  # noqa: E402
import lifecycle  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    SF = 0.01

    def test_tables_are_deterministic(self):
        a = datagen.make_tables(7, self.SF)
        b = datagen.make_tables(7, self.SF)
        c = datagen.make_tables(8, self.SF)
        for name in datagen.ALL_TABLES:
            if name == "embeddings":
                continue
            self.assertEqual(datagen.frame_digest([a[name]]), datagen.frame_digest([b[name]]))
        self.assertNotEqual(datagen.frame_digest([a["orders"]]),
                            datagen.frame_digest([c["orders"]]))

    def test_landing_order_is_deterministic(self):
        ev = datagen.make_tables(3, self.SF, ("events",))["events"]
        f1 = datagen.event_files(3, ev, 20)
        f2 = datagen.event_files(3, ev, 20)
        self.assertEqual(datagen.frame_digest(f1), datagen.frame_digest(f2))
        self.assertNotEqual(datagen.frame_digest(f1),
                            datagen.frame_digest(datagen.event_files(4, ev, 20)))

    def test_landing_files_hold_every_event_plus_duplicates(self):
        ev = datagen.make_tables(3, self.SF, ("events",))["events"]
        files = datagen.event_files(3, ev, 20)
        landed = [e for f in files for e in f["event_id"].tolist()]
        self.assertEqual(set(landed), set(ev["event_id"].tolist()))
        dup_share = (len(landed) - len(ev)) / len(ev)
        self.assertTrue(0.03 < dup_share < 0.07, dup_share)
        # Late arrivals: some file holds an event older than the newest
        # event of an earlier file, but never by more than two files.
        late = 0
        newest = files[0]["ts"].max()
        for f in files[1:]:
            late += int((f["ts"] < newest).sum())
            newest = max(newest, f["ts"].max())
        self.assertGreater(late, 0)

    def test_lifecycle_program_is_deterministic(self):
        orders = datagen.make_tables(5, 0.1, ("orders",))["orders"]
        p1 = lifecycle.program(5, orders, 2)
        p2 = lifecycle.program(5, orders, 2)
        self.assertEqual(lifecycle.program_digest(p1), lifecycle.program_digest(p2))
        other = datagen.make_tables(6, 0.1, ("orders",))["orders"]
        self.assertNotEqual(lifecycle.program_digest(p1),
                            lifecycle.program_digest(lifecycle.program(6, other, 2)))

    def test_lifecycle_program_covers_every_statement_type(self):
        orders = datagen.make_tables(5, 0.1, ("orders",))["orders"]
        # What a run at BENCHMARK.json's window executes: one round.
        prog = lifecycle.program(5, orders, lifecycle.rounds_for(5))
        self.assertEqual({s["phase"] for s in prog}, {"r1"})
        timed = [s for s in prog if s["type"] != "prep"]
        self.assertEqual(len(timed), 15)
        self.assertTrue(set(metrics.STATEMENT_TYPES) <= {s["type"] for s in timed})
        # Both update and delete hit scattered keys and a clustered range.
        for typ in ("UPDATE", "DELETE"):
            sql = [s["sql"] for s in timed if s["sql"].startswith(typ)]
            self.assertTrue(any(" % " in q for q in sql), sql)
            self.assertTrue(any("BETWEEN" in q for q in sql), sql)

    def test_rounds_fill_the_window(self):
        self.assertEqual(lifecycle.rounds_for(5), 1)
        self.assertEqual(lifecycle.rounds_for(lifecycle.ROUND_S + 1), 2)

    def test_lifecycle_model_tracks_dml(self):
        import pandas as pd
        orders = pd.DataFrame({"o_orderkey": [0, 1, 2, 3], "o_custkey": [5, 5, 6, 7],
                               "o_orderstatus": ["F", "O", "P", "F"],
                               "o_totalprice": [1.5, 2.5, 3.5, 4.5],
                               "o_orderpriority": ["1-URGENT"] * 4})
        m = lifecycle.Model(orders)
        m.apply({"id": 1, "op": ("delete", lifecycle.Pred("range", 0, 1)),
                 "save_ids": {1}})
        m.apply({"id": 2, "op": ("update", lifecycle.Pred("mod", 2, 0), 1.0, "U")})
        m.apply({"id": 3, "op": ("merge", [(3, 9, "M", 9.0, "2-HIGH"),
                                           (4, 9, "M", 8.0, "2-HIGH")])})
        self.assertEqual(m.rows, {2: (6, "U", 4.5, "1-URGENT"),
                                  3: (9, "M", 9.0, "2-HIGH"),
                                  4: (9, "M", 8.0, "2-HIGH")})
        feed = m.apply({"id": 4, "op": ("changes", 1, 3)})
        self.assertEqual(sorted(c[-2] for c in feed),
                         ["insert", "update_postimage", "update_postimage",
                          "update_preimage", "update_preimage"])
        asof = m.apply({"id": 5, "op": ("read", 1, lifecycle.Pred("range", 0, 9))})
        self.assertEqual([r[0] for r in asof], [2, 3])


class StatsTest(unittest.TestCase):
    def test_percentiles(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.median(xs), 3)
        self.assertEqual(stats.percentile(xs, 25), 2)
        self.assertEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile([7], 90), 7)
        s = stats.summary([1, 2, 3, 4])
        self.assertEqual((s["median"], s["q1"], s["q3"], s["n"]), (2.5, 1.75, 3.25, 4))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 10, 100]), 10.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_union_of_intervals(self):
        self.assertEqual(metrics._union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics._union_ms([]), 0)
        self.assertEqual(metrics._clip([(0, 10), (20, 30)], 5, 25), [(5, 10), (20, 25)])


class PairingRuleTest(unittest.TestCase):
    def test_clear_gain(self):
        parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]
        change = [90, 91, 89, 90, 92, 88, 90, 91, 89, 90]
        v = stats.pair_verdict(parent, change)
        self.assertEqual(v["verdict"], "better")
        self.assertEqual(v["wins"], 10)

    def test_eight_of_ten_is_unresolved(self):
        parent = [100] * 10
        change = [90] * 8 + [110] * 2
        self.assertEqual(stats.pair_verdict(parent, change)["verdict"], "unresolved")

    def test_gap_within_parent_spread_is_unresolved(self):
        parent = [80, 120, 85, 115, 90, 110, 95, 105, 100, 100]
        change = [p - 2 for p in parent]
        v = stats.pair_verdict(parent, change)
        self.assertEqual(v["wins"], 10)
        self.assertEqual(v["verdict"], "unresolved")

    def test_regression_and_direction(self):
        parent = [100] * 10
        change = [120] * 10
        self.assertEqual(stats.pair_verdict(parent, change)["verdict"], "worse")
        self.assertEqual(stats.pair_verdict(parent, change, better="higher")["verdict"],
                         "better")

    def test_bound_check(self):
        steady = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        self.assertEqual(stats.bound_check(steady, [110] * 10, "lower", 0.25), "ok")
        self.assertEqual(stats.bound_check(steady, [130] * 10, "lower", 0.25), "EXCEEDED")
        self.assertEqual(stats.bound_check(steady, [70] * 10, "higher", 0.25), "EXCEEDED")
        wide = [70, 130, 75, 125, 80, 120, 85, 115, 90, 110]
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), 2 / 3)
        self.assertEqual(stats.bound_check(wide, [150] * 10, "lower", 0.25), "unresolved")
        # Every change run better than every parent run resolves it.
        self.assertEqual(stats.bound_check(wide, [60] * 10, "lower", 0.25), "ok")

    def test_fewer_than_ten_pairs_is_unresolved(self):
        self.assertEqual(stats.pair_verdict([100] * 9, [50] * 9)["verdict"], "unresolved")

    def test_ties_count_for_neither(self):
        v = stats.pair_verdict([1] * 10, [1] * 10)
        self.assertEqual((v["wins"], v["losses"], v["verdict"]), (0, 0, "unresolved"))


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_names_match_the_code(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         metrics.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         metrics.per_layer_names(run.ENTRIES))

    def test_limits(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(len(n) <= 64 for n in names))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertTrue(all(len(w["why"]) <= 200 for w in b["workloads"]))


class EndToEndTest(unittest.TestCase):
    def test_wall_times_and_setup_from_jvm_start(self):
        ops = [{"type": "refresh", "cycle": 0, "start_ms": 11_000, "ms": 4000.0},
               {"type": "gold", "cycle": 0, "start_ms": 15_000, "ms": 1000.0},
               {"type": "gold", "cycle": 0, "start_ms": 16_000, "ms": 3000.0}]
        e = metrics.end_to_end({"ops": ops, "jvm_start_ms": 1_000})
        self.assertEqual(e["setup_s"], 10.0)
        self.assertEqual(e["cycle_s"], 8.0)
        self.assertAlmostEqual(e["kind_geomean_ms"], math.sqrt(4000.0 * 2000.0))


class ResultLineTest(unittest.TestCase):
    def test_untraced_line_has_every_e2e_metric(self):
        res = {"correct": True, "attempted": 3, "failed": 0, "entries": [],
               "e2e": {"setup_s": 1.5, "kind_geomean_ms": 3.0, "cycle_s": 4.0}}
        line = metrics.result_line(res, trace=0)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), {n for n, _ in metrics.E2E})
        self.assertTrue(math.isclose(line["metrics"]["cycle_s"]["value"], 4.0))


if __name__ == "__main__":
    unittest.main()
