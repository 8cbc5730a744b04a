"""The benchmark's own tests: seeding, output checking, metric printing.

    python3 -m unittest discover -s perfbench/tests

They exercise the Python side only (plans, grading, result assembly) on
synthetic harness reports, so they need neither a JVM nor a build.
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow as pa  # noqa: E402

import oracle  # noqa: E402
import plan as planner  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def fake_plan(workload, seed=1, trace=0):
    return planner.make(workload, seed, 10, trace, "/w", "/t", 4, 3)


def fake_op(name, value=-1, wall=0.5, error=None):
    return {"name": name, "wall_s": wall, "build_s": wall / 2, "action_s": wall / 2,
            "cpu_s": wall, "value": value, "error": error}


def fake_report(plan, traced=False):
    """A harness report in which every output is right: two passes, or
    five when traced (pass 0 untraced, then odd passes traced)."""
    if plan["workload"] == "nvd_etl":
        exp = plan["nvd"]["expected"]
        names = (["bootstrap"] + [f"load{i}" for i in range(len(plan["nvd"]["loads"]))]
                 + ["count", "linux"])
        ops = [fake_op(n, planner.nvd_step_expected(n, exp)) for n in names]
    else:
        ops = [fake_op(n) for n in plan["queries"]]

    def pass_(i):
        return {"index": i, "traced": traced and i % 2 == 1, "wall_s": 3.0 + i % 2,
                "cpu_s": 6.0, "gc_s": 0.1, "codegen_ms": 20.0, "release_s": 0.2,
                "residual_storage_bytes": 0, "steal_pct": 0.1, "foreign_pct": 1.0,
                "ops": [dict(o) for o in ops]}
    passes = [pass_(i) for i in range(5 if traced else 2)]
    layers = [{k: 1.0 for k in run.PASS_LAYER_KEYS} for p in passes if p["traced"]]
    sources = {}
    if plan["workload"] == "nvd_etl" and traced:
        sources = {"schema_parse_ms": 3.0, "ingest_s": 0.3, "antijoin_s": 0.4,
                   "antijoin_new": 0, "append_s": 0.5, "count_probe_s": 0.2,
                   "count_probe_value": plan["nvd"]["cves"], "warehouse_files": 40,
                   "warehouse_bytes": 10**6}
    probe = {"min": 1, "median": 2, "max": 3, "steal_pct": 0.0}
    return {"workload": plan["workload"], "cpus": 4, "window_s": 10.5,
            "setups": [{"build_s": 1.0, "gen_s": 0.2}] * 3,
            "warm": {"wall_s": 8.0, "release_s": 0.3, "codegen_ms": 900.0, "ops": ops},
            "inputs": {},
            "passes": passes, "layers": layers, "sources": sources,
            "heap_peak_bytes": 300 * 2**20, "probe_before": probe,
            "probe_after": probe}


def good_checks(plan):
    return {n: {"ok": True, "exact": True, "message": "1 rows"} for n in plan["queries"]}


class SeedTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in planner.WORKLOADS:
            self.assertEqual(fake_plan(w, 7), fake_plan(w, 7))

    def test_seed_changes_split_and_order_but_not_expected_counts(self):
        nvd = [fake_plan("nvd_etl", s)["nvd"] for s in range(1, 21)]
        self.assertGreater(len({json.dumps((n["bootstrap"], n["loads"])) for n in nvd}), 1)
        self.assertEqual(len({json.dumps(n["expected"]) for n in nvd}), 1)
        for n in nvd:
            held = [h for h, _ in n["loads"]]
            self.assertEqual(sorted(n["bootstrap"] + held), list(range(n["shards"])))
            # every incremental load re-reads one shard already bootstrapped
            self.assertTrue(all(o in n["bootstrap"] for _, o in n["loads"]))
        orders = [fake_plan("iterative", s)["queries"] for s in range(1, 21)]
        self.assertGreater(len({tuple(o) for o in orders}), 1)
        self.assertTrue(all(sorted(o) == sorted(planner.ITERATIVE) for o in orders))

    def test_expected_counts_follow_the_fixture_index_rules(self):
        # k % 3 == 0 plants a linux cpe; k % 11 == 0 empties the node list
        self.assertEqual(planner.linux_hits(120000), 36363)
        exp = planner.nvd_expected()
        per = planner.NVD_CVES // planner.NVD_SHARDS
        self.assertEqual(exp["bootstrap"], per * (planner.NVD_SHARDS - planner.NVD_HELD))
        self.assertEqual(exp["bootstrap"] + planner.NVD_HELD * exp["load"], exp["count"])

    def test_reference_tables_are_committed(self):
        self.assertEqual(run.table_rows(),
                         {"orders": 15000, "lineitem": 60000, "documents": 500})


class CheckTest(unittest.TestCase):
    def test_compare_rule(self):
        t = pa.table({"b": [1.0, 2.0], "a": ["x", "y"]})
        self.assertEqual(oracle.compare(t, t)[:2], (True, True))
        near = pa.table({"a": ["x", "y"], "b": [1.0, 2.0 + 1e-12]})
        self.assertEqual(oracle.compare(t, near)[:2], (True, False))
        self.assertFalse(oracle.compare(t, pa.table({"a": ["x", "y"], "b": [1.0, 2.5]}))[0])
        self.assertFalse(oracle.compare(t, pa.table({"a": ["x"], "b": [1.0]}))[0])
        self.assertFalse(oracle.compare(t, pa.table({"a": ["x", "y"], "c": [1.0, 2.0]}))[0])

    def test_wrong_query_result_is_counted_as_failed(self):
        plan = fake_plan("iterative")
        checks = good_checks(plan)
        wrong = plan["queries"][1]
        ok, _, msg = oracle.compare(pa.table({"n": [41]}), pa.table({"n": [42]}))
        checks[wrong] = {"ok": ok, "exact": False, "message": msg}
        out, sizes = run.result(plan, fake_report(plan), checks, 0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["attempted"], 2 * len(plan["queries"]))
        self.assertEqual(out["failed"], 2)  # both executions of the query
        self.assertTrue(any(wrong in f for f in sizes["failures"]))
        traced = fake_plan("iterative", trace=1)
        out, _ = run.result(traced, fake_report(traced, True), checks, 1)
        self.assertAlmostEqual(out["metrics"]["check.failed_frac"]["value"],
                               2 / (2 * len(plan["queries"])))

    def test_wrong_nvd_count_is_counted_as_failed(self):
        plan = fake_plan("nvd_etl")
        report = fake_report(plan)
        self.assertTrue(run.result(plan, report, {}, 0)[0]["correct"])
        report["passes"][1]["ops"][1]["value"] += 1  # one load appended too much
        out, _ = run.result(plan, report, {}, 0)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_wrong_sources_probe_is_counted_as_failed(self):
        plan = fake_plan("nvd_etl", trace=1)
        report = fake_report(plan, traced=True)
        self.assertTrue(run.result(plan, report, {}, 1)[0]["correct"])
        report["sources"]["antijoin_new"] = 3  # the anti-join let known CVEs through
        out, _ = run.result(plan, report, {}, 1)
        self.assertEqual((out["correct"], out["failed"]), (False, 1))

    def test_raised_operation_is_counted_as_failed(self):
        plan = fake_plan("iterative")
        report = fake_report(plan)
        report["passes"][0]["ops"][0]["error"] = "SparkException: boom"
        out, _ = run.result(plan, report, good_checks(plan), 0)
        self.assertEqual((out["correct"], out["failed"]), (False, 1))


class MetricsTest(unittest.TestCase):
    def test_every_metric_is_printed_with_its_unit(self):
        for w in planner.WORKLOADS:
            for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                plan = fake_plan(w, trace=trace)
                out, _ = run.result(plan, fake_report(plan, bool(trace)), good_checks(plan),
                                    trace)
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertEqual([(n, m["unit"]) for n, m in out["metrics"].items()], names)
                for m in out["metrics"].values():
                    self.assertIsInstance(m["value"], float)
                json.loads(json.dumps(out))

    def test_end_to_end_metrics_are_never_zero(self):
        for w in planner.WORKLOADS:
            plan = fake_plan(w)
            out, _ = run.result(plan, fake_report(plan), good_checks(plan), 0)
            self.assertTrue(all(m["value"] > 0 for m in out["metrics"].values()), w)

    def test_traced_run_ignores_the_warm_up_pass(self):
        plan = fake_plan("iterative", trace=1)
        report = fake_report(plan, traced=True)
        # traced passes take 4 s, untraced ones 3 s
        out, _ = run.result(plan, report, good_checks(plan), 1)
        self.assertAlmostEqual(out["metrics"]["trace.overhead_pct"]["value"], 100 / 3)
        report["passes"][0].update(wall_s=30.0, steal_pct=50.0, release_s=9.0)
        again, _ = run.result(plan, report, good_checks(plan), 1)
        self.assertEqual(again, out)

    def test_benchmark_json_lists_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(planner.WORKLOADS))
        self.assertEqual([m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]["bound"],
                         max(m["bound"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
