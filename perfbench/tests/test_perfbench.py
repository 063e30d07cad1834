"""Self-tests of the benchmark harness.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests -v
The smoke tests start Spark (about 30-45 s each, on the bundled sf0.001 data).
"""
import json
import math
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import metrics  # noqa: E402

SMOKE_DATA = str(HERE / "data" / "sf0.001")


def run_bench(*args, cwd=ROOT, script=HERE / "run.py"):
    proc = subprocess.run([sys.executable, str(script), *args], cwd=cwd,
                          capture_output=True, text=True, timeout=400)
    return proc.returncode, proc.stdout, proc.stderr


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.supported_percentile(10))
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(50), 80)
        self.assertEqual(metrics.supported_percentile(17), 41)
        for n in range(11, 400):
            p = metrics.supported_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p / 100 * n), 10, n)
            if p < 90:  # the next percentile up would leave fewer than ten
                self.assertLess(n - math.ceil((p + 1) / 100 * n), 10, n)

    def test_interpolated_percentile(self):
        self.assertAlmostEqual(metrics.percentile(list(range(1, 102)), 90), 91)
        self.assertAlmostEqual(metrics.percentile(list(range(11)), 90), 9)
        self.assertAlmostEqual(metrics.percentile([0.0, 10.0], 90), 9)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)


class OutputChecks(unittest.TestCase):
    def test_pipeline_mismatches_are_listed(self):
        dim = {"rows": 4, "open_rows": 2, "keys_not_one_open": 0, "open_matching_day2": 2}
        want = {"dims": {"customers": dim}, "fact_rows": 10}
        self.assertEqual(checks.check_pipeline({"dims": {"customers": dict(dim)},
                                                "fact_rows": 10}, want), [])
        two_open = dict(dim, keys_not_one_open=1)
        self.assertEqual(len(checks.check_pipeline(
            {"dims": {"customers": two_open}, "fact_rows": 9}, want)), 2)
        self.assertTrue(checks.check_pipeline({"dims": {}, "fact_rows": 10}, want))

    def test_query_outputs_go_through_the_oracle_checker(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        out = ROOT / ".bench_work" / "selftest-oracle"
        shutil.rmtree(out, ignore_errors=True)
        try:
            for name, x in (("q_right", 1), ("q_wrong", 2), ("q_unchecked", 1)):
                (out / name).mkdir(parents=True)
                pq.write_table(pa.table({"x": pa.array([x], pa.int32())}),
                               out / name / "part-0.parquet")
            sql = {"q_right": "SELECT 1 AS x", "q_wrong": "SELECT 1 AS x"}
            bad = checks.check_queries(str(ROOT), SMOKE_DATA, str(out),
                                       ["q_right", "q_wrong", "q_unchecked"], sql, [])
            self.assertEqual(set(bad), {"q_wrong", "q_unchecked"})
        finally:
            shutil.rmtree(out, ignore_errors=True)


class LayerMapping(unittest.TestCase):
    def test_frames(self):
        site = ("org.apache.spark.sql.Dataset.head(Dataset.scala:2683)\n"
                "graft.ops.Validator$.validate(Validator.scala:110)\n"
                "graft.run.PipelineRunner.run(PipelineRunner.scala:53)")
        self.assertEqual(metrics.layer_of(site), "ops.Validator")
        self.assertEqual(metrics.layer_of(
            "x.y(Z.scala:1)\ngraft.catalog.Catalog.writeVersion(Catalog.scala:363)"), "catalog")
        self.assertEqual(metrics.layer_of(
            "graft.operators.GraphRank$.$anonfun$pageRank$3(GraphRank.scala:90)"),
            "operators.GraphRank")
        self.assertEqual(metrics.layer_of(
            "app//graft.queries.ParityQueries$.$anonfun$all$5(ParityQueries.scala:10)"), "queries")
        self.assertEqual(metrics.layer_of("graft.SparkEntry$.entry(SparkEntry.scala:27)"), "graft")
        self.assertIsNone(metrics.layer_of(
            "perfbench.Harness.run(Harness.scala:1)\njava.lang.Thread.run(Thread.java:840)"))

    def test_self_time(self):
        span = {"start": 0, "end": 10_000}
        kids = [{"start": 1000, "end": 4000}, {"start": 3000, "end": 5000},
                {"start": 9000, "end": 12_000}]
        self.assertAlmostEqual(metrics.self_seconds(span, kids), 10 - 4 - 1)

    def test_known_job(self):
        """A traced one-table pipeline: its validation jobs map to
        ops.Validator, its writes to catalog, and no job is unattributed."""
        out = ROOT / ".bench_work" / "selftest-trace.json"
        out.parent.mkdir(exist_ok=True)
        code, stdout, stderr = run_bench(
            "--workload", "pipeline", "--seed", "1", "--seconds", "0", "--trace", "1",
            "--data", SMOKE_DATA, "--limit", "1", "--keep-result", str(out))
        self.assertEqual(code, 0, stderr[-2000:])
        result = json.loads(out.read_text())
        out.unlink()
        layers = {metrics.layer_of(j["callsite"]) for j in result["jobs"]}
        self.assertIn("ops.Validator", layers)
        self.assertIn("catalog", layers)
        self.assertNotIn(None, layers)
        m = json.loads(stdout.splitlines()[-1])["metrics"]
        self.assertGreater(m["ops.Validator.jobs"]["value"], 0)
        self.assertGreaterEqual(m["run.self_frac"]["value"], 0.9)


class Smoke(unittest.TestCase):
    """One table or one query of each workload, at sf0.001."""

    def smoke(self, workload):
        code, stdout, stderr = run_bench(
            "--workload", workload, "--seed", "7", "--seconds", "0", "--trace", "0",
            "--data", SMOKE_DATA, "--limit", "1")
        self.assertEqual(code, 0, stderr[-2000:])
        last = json.loads(stdout.splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], stdout[-2000:])
        self.assertEqual(last["failed"], 0)
        self.assertEqual({n for n, _, _ in metrics.END_TO_END}, set(last["metrics"]))
        for name in ("setup_s", "wall_s", "query_p50_s", "retained_heap_mb"):
            self.assertGreater(last["metrics"][name]["value"], 0, name)
        return last

    def test_pipeline(self):
        self.assertEqual(self.smoke("pipeline")["attempted"], 2)  # one table, two days

    def test_operator_suite(self):
        self.assertEqual(self.smoke("operator_suite")["attempted"], 1)

    def test_star_queries(self):
        self.assertEqual(self.smoke("star_queries")["attempted"], 1)


class Contract(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)

    def test_fails_without_the_program(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        benchmark exits non-zero without printing a result."""
        bare = ROOT / ".bench_work" / "selftest-bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(HERE, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, stdout, _ = run_bench("--workload", "pipeline", "--seed", "1",
                                        "--seconds", "1", "--trace", "0", cwd=bare,
                                        script=bare / "perfbench" / "run.py")
            self.assertNotEqual(code, 0)
            self.assertNotIn('"correct"', stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
