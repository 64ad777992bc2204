"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Set PERFBENCH_E2E=1 to also run two short workloads and check the metric
names they print against BENCHMARK.json.
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def op(name, module, build_s, exec_s, **kw):
    return dict(name=name, module=module, build_s=build_s, exec_s=exec_s, **kw)


# Two passes each.
REGISTRY = {
    "setup_s": 9.5, "pass_times_s": [4.0, 3.05], "pass_cpu_s": [3.5, 2.95], "peak_rss_mb": 900.0,
    "layers": {"scheduler.jobs": 4.0},
    "ops": [op("a", "operators", 0.5, 1.5, rows=3, **{"pass": 0}),
            op("b", "functions", 0.5, 0.5, rows=1, **{"pass": 0}),
            op("c", "llm", 0.5, 0.5, rows=7, **{"pass": 0}),
            op("a", "operators", 0.25, 0.75, rows=3, **{"pass": 1}),
            op("b", "functions", 0.5, 0.5, rows=1, **{"pass": 1}),
            op("c", "llm", 0.0, 1.0, rows=7, **{"pass": 1})],
}
UPSERT = {
    "setup_s": 9.5, "pass_times_s": [2.0, 2.2], "pass_cpu_s": [2.1, 2.3], "peak_rss_mb": 900.0,
    "layers": {"sources.stage_job_s": 1.5},
    "ops": [op("load:0", "sources", 0.0, 1.9, kind="load", rows=70.0, **{"pass": 0}),
            op("load:1", "sources", 0.0, 1.0, kind="load", rows=60.0, **{"pass": 1}),
            op("load:2", "sources", 0.0, 0.8, kind="load", rows=50.0, **{"pass": 1}),
            op("restate:1", "sources", 0.0, 0.3, kind="restate", retries=1.0, **{"pass": 1})],
}


class Arithmetic(unittest.TestCase):
    def test_percentile_is_nearest_rank_with_its_sample_count(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 9.0, 8.0, 7.0, 6.0]
        self.assertEqual(metrics.percentile(v, 50), {"value": 5.0, "n": 10})
        self.assertEqual(metrics.percentile(v, 90), {"value": 9.0, "n": 10})
        self.assertEqual(metrics.percentile(v, 100), {"value": 10.0, "n": 10})
        self.assertEqual(metrics.percentile([2.0], 90), {"value": 2.0, "n": 1})
        self.assertEqual(metrics.percentile([], 50), {"value": 0.0, "n": 0})

    def test_spread_is_the_quartile_distance_over_the_median(self):
        v = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(metrics.spread(v), (q3 - q1) / q2)

    def test_cpu_s_is_the_cpu_time_of_all_passes(self):
        self.assertAlmostEqual(metrics.end_to_end(REGISTRY)["cpu_s"], 6.45)
        self.assertAlmostEqual(metrics.end_to_end(UPSERT)["cpu_s"], 4.4)

    def test_passes_fit_the_seconds(self):
        self.assertEqual(run.passes_for("registry", 30), 7)
        self.assertEqual(run.passes_for("upsert_daily", 30), 7)
        self.assertEqual(run.passes_for("registry", 2), 3)

    def test_module_times_reconcile_with_the_passes(self):
        self.assertEqual(metrics.reconcile(REGISTRY)[0], True)
        self.assertAlmostEqual(metrics.reconcile(REGISTRY)[1], 7.0)
        self.assertTrue(metrics.reconcile(UPSERT)[0])
        self.assertFalse(metrics.reconcile(dict(REGISTRY, pass_times_s=[4.0, 2.5]))[0])   # ops exceed the passes
        self.assertFalse(metrics.reconcile(dict(REGISTRY, pass_times_s=[4.0, 4.0]))[0])   # 1 s unaccounted

    def test_per_layer_sums_cover_all_passes(self):
        layers = {k: v for k, (v, _) in metrics.per_layer(REGISTRY).items()}
        self.assertEqual((layers["operators.build_s"], layers["operators.exec_s"]), (0.75, 2.25))
        self.assertEqual(layers["llm.ops"], 2.0)
        self.assertEqual((layers["registry.op_p50_s"], layers["registry.op_samples"]), (1.0, 6.0))
        self.assertEqual(layers["registry.op_p90_s"], 2.0)
        self.assertEqual(layers["scheduler.jobs"], 4.0)
        layers = {k: v for k, (v, _) in metrics.per_layer(UPSERT).items()}
        self.assertAlmostEqual(layers["sources.load_s"], 3.7)
        self.assertEqual((layers["sources.load_p50_s"], layers["sources.load_p90_s"]), (1.0, 1.9))
        self.assertEqual((layers["sources.loads"], layers["sources.delta_rows"]), (3.0, 180.0))
        self.assertEqual((layers["sources.retries"], layers["sources.stage_job_s"]), (1.0, 1.5))


class NamesMatchBenchmarkJson(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for rec in (REGISTRY, UPSERT):
            self.assertEqual({k: metrics.E2E[k] for k in metrics.end_to_end(rec)}, want)

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for rec in (REGISTRY, UPSERT):
            self.assertEqual({k: u for k, (_, u) in metrics.per_layer(rec).items()}, want)

    def test_workloads(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.PASS_SECONDS))


class StatementPeer(unittest.TestCase):
    """The cross-mode statement check compares only with a passing run of
    the other mode built from the same sources."""

    def test_peer_is_the_newest_passing_run_of_the_same_build(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "runs"))

            def rec(name, correct, build_stamp, digest="d1"):
                with open(os.path.join(d, "runs", name + ".json"), "w") as f:
                    json.dump({"result": {"correct": correct}, "conditions": {"build": build_stamp},
                               "statement_digest": digest}, f)

            old, run.OUT = run.OUT, d
            try:
                self.assertIsNone(run.peer_record(0, "b1"))
                rec("20260101T000001-1-s1-upsert_daily-t0", True, "b1")
                rec("20260101T000002-2-s2-upsert_daily-t0", False, "b1", "bad")
                rec("20260101T000003-3-s3-upsert_daily-t0", True, "b0", "old")
                rec("20260101T000004-4-s4-upsert_daily-t1", True, "b1", "traced")
                self.assertEqual(run.peer_record(0, "b1"), ("20260101T000001-1-s1-upsert_daily-t0", "d1"))
                self.assertEqual(run.peer_record(1, "b1")[1], "traced")
                self.assertIsNone(run.peer_record(1, "b2"))
            finally:
                run.OUT = old


class ScalaSelfTest(unittest.TestCase):
    """Scheduler delay, codegen histogram delta and statement kinds."""

    def test_selftest(self):
        cp, _ = build.build()
        r = subprocess.run(["java", *build.java_opts(), "-cp", cp, "graftbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertIn("selftest ok", r.stdout)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class PrintedNames(unittest.TestCase):
    def run_bench(self, workload, seconds, trace):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", str(seconds), "--trace", str(trace)],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_printed_metrics(self):
        for workload, trace, key in (("registry", 0, "end_to_end"),
                                     ("upsert_daily", 1, "per_layer")):
            res = self.run_bench(workload, 2, trace)
            self.assertTrue(res["correct"])
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                             {m["name"]: m["unit"] for m in SPEC[key]})


if __name__ == "__main__":
    unittest.main()
