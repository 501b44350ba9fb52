"""Self-tests of the benchmark's own code: statistics, metric names and the
output schema. Run from the repository root:

    python3 -m unittest discover -s lakebench -p 'test_*.py'
"""

import json
import os
import re
import statistics
import tempfile
import unittest
import zipfile
from unittest import mock

import run

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def record(workload="daily_pipeline"):
    """A small run record in the shape graft.bench.Main writes."""
    per_op = []
    for wall in (100.0, 200.0, 300.0, 50.0):
        per_op.append({
            "wall_ms": wall, "covered_ms": 0.95 * wall,
            "sql.analysis_ms": 1.0, "sql.optimization_ms": 2.0, "sql.planning_ms": 3.0,
            "sql.exec_ms": wall / 2, "sql.input_records": 40.0, "sql.output_rows": 10.0,
            "spark.jobs": 2.0, "spark.stages": 3.0, "spark.tasks": 8.0,
            "spark.in_jobs_ms": wall / 2, "spark.driver_gap_ms": wall / 2,
            "spark.task_ms": wall, "spark.gc_ms": 1.0, "spark.input_bytes": 1e3,
            "spark.shuffle_read_bytes": 5.0, "spark.shuffle_write_bytes": 5.0,
            "spark.spill_bytes": 0.0,
        })
    return {
        "workload": workload, "seed": 7,
        "setup_s": 3.0,
        "op_kind": ["batch", "batch", "batch", "maint"],
        "op_ms": [100.0, 200.0, 300.0, 50.0],
        "op_rows": [10, 10, 10, 0],
        "attempted": 4, "failed": 0, "heap_retained_mb": 80.0,
        "checks": {"fact_rows_ok": True, "agg_ok": True, "silver_rows": 30},
        "context": {"nproc": 4},
        "layers": {"per_op": per_op, "untraced_before_op_ms": [110.0, 210.0, 310.0, 55.0],
                   "untraced_after_op_ms": [90.0, 180.0, 270.0, 45.0],
                   "pipeline.ingest_ms": 4.0},
    }


class StatisticsTest(unittest.TestCase):

    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(run.percentile(xs, 0), 1.0)
        self.assertEqual(run.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(run.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(run.percentile(xs, 90), 3.7)
        self.assertEqual(run.median([5.0]), 5.0)

    def test_percentile_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_median_matches_statistics(self):
        xs = [3.0, 9.0, 1.0, 7.0, 5.0, 2.0]
        self.assertAlmostEqual(run.median(xs), statistics.median(xs))

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([2.0, 8.0]), 4.0)
        self.assertAlmostEqual(run.geomean([5.0]), 5.0)
        with self.assertRaises(ValueError):
            run.geomean([])
        with self.assertRaises(ValueError):
            run.geomean([1.0, 0.0])

    def test_op_p50_never_pools_kinds(self):
        # per-kind medians 200 and 50, combined by their geometric mean
        kinds = ["q1", "q1", "q1", "q2", "q2"]
        self.assertAlmostEqual(run.op_p50(kinds, [100.0, 200.0, 300.0, 40.0, 60.0]), 100.0)
        # how often a kind runs does not weigh it: one more fast q2 sample
        # leaves the figure where a pooled median would move
        kinds2 = kinds + ["q2"]
        ms2 = [100.0, 200.0, 300.0, 40.0, 60.0, 50.0]
        self.assertAlmostEqual(run.op_p50(kinds2, ms2), 100.0)
        self.assertNotAlmostEqual(run.median(ms2), run.median([100.0, 200.0, 300.0, 40.0, 60.0]))

    def test_rate(self):
        self.assertAlmostEqual(run.rate(10, 2000.0), 5.0)
        with self.assertRaises(ValueError):
            run.rate(1, 0.0)

    def test_spread_is_iqr_over_median(self):
        xs = [float(x) for x in range(1, 11)]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(run.spread(xs), (q3 - q1) / q2)
        self.assertEqual(run.spread([2.0] * 10), 0.0)


class MetricsTest(unittest.TestCase):

    def test_end_to_end_uses_primary_ops_and_whole_sequence(self):
        m = run.end_to_end(record())
        self.assertEqual(m["setup_s"]["value"], 3.0)
        # maintenance is excluded from the batch percentile ...
        self.assertAlmostEqual(m["op_p50_ms"]["value"], 200.0)
        # ... but counts in the rate's time, over all timed ops (650 ms)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 3 / 0.65)
        self.assertEqual(m["heap_retained_mb"]["value"], 80.0)

    def test_analyst_latency_is_per_template(self):
        rec = record("analyst_sql")
        rec["op_kind"] = ["star_topk", "point_agg", "star_topk", "files_tvf"]
        # template medians 200, 200 and 50
        self.assertAlmostEqual(run.end_to_end(rec)["op_p50_ms"]["value"],
                               run.geomean([200.0, 200.0, 50.0]))

    def test_per_layer_ratios(self):
        m = run.per_layer(record())
        self.assertAlmostEqual(m["sql.rows_examined_per_row"]["value"], 4.0)
        self.assertAlmostEqual(m["layers.covered_pct"]["value"], 95.0)
        self.assertEqual(m["spark.jobs_per_op"]["value"], 2.0)
        # means over the three batches, maintenance excluded
        self.assertAlmostEqual(m["sql.exec_ms"]["value"], 100.0)

    def test_layer_report(self):
        rep = run.layer_report(record())
        self.assertTrue(rep["accounting"]["passed"])
        self.assertEqual(rep["accounting"]["ops"], 3)
        # median of the six untraced batches: 90 110 180 210 270 310
        self.assertAlmostEqual(rep["tracing_overhead"]["untraced_op_p50_ms"], 195.0)
        self.assertAlmostEqual(rep["tracing_overhead"]["overhead_pct"], 100.0 * (200 / 195 - 1))
        self.assertEqual(rep["workload_layers"], {"pipeline.ingest_ms": 4.0})
        self.assertAlmostEqual(rep["traced_pass"]["rows_per_s"], 30 / 0.65)
        self.assertEqual(rep["traced_pass"]["op_p50_ms_by_kind"], {"batch": 200.0, "maint": 50.0})


class SchemaTest(unittest.TestCase):

    def test_summary_schema(self):
        for trace, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
            out = run.summarize(record(), trace)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertIsInstance(out["attempted"], int)
            self.assertGreaterEqual(out["attempted"], 1)
            self.assertEqual(set(out["metrics"]), set(names))
            for name, m in out["metrics"].items():
                self.assertEqual(set(m), {"value", "unit"})
                self.assertEqual(m["unit"], names[name])
            json.dumps(out)

    def test_failed_check_counts_as_failure(self):
        rec = record()
        rec["checks"]["agg_ok"] = False
        out = run.summarize(rec, False)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_failed_op_counts_as_failure(self):
        rec = record()
        rec["failed"] = 2
        out = run.summarize(rec, False)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 2)

    def test_names_and_units_are_valid(self):
        for table in (run.END_TO_END, run.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, NAME)
                self.assertRegex(unit, UNIT)
        self.assertFalse(set(run.END_TO_END) & set(run.PER_LAYER))

    def test_benchmark_json_matches_the_script(self):
        with open(BENCHMARK_JSON) as fh:
            b = json.load(fh)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertGreater(m["bound"], 0)
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        for p in b["paths"]:
            self.assertTrue(os.path.isdir(os.path.join(run.ROOT, p)))
        self.assertLessEqual(len(b["command"]), 32)


class BuildTest(unittest.TestCase):

    def test_missing_engine_sources_are_refused(self):
        with tempfile.TemporaryDirectory() as d:
            with mock.patch.object(run, "ROOT", d):
                with self.assertRaises(run.BenchError):
                    run.source_files()

    def test_class_dirs_become_jars(self):
        with tempfile.TemporaryDirectory() as d:
            classes = os.path.join(d, "classes")
            os.makedirs(os.path.join(classes, "graft"))
            with open(os.path.join(classes, "graft", "A.class"), "wb") as fh:
                fh.write(b"x")
            lib = os.path.join(d, "lib.jar")
            open(lib, "wb").close()
            out = os.path.join(d, "out")
            os.makedirs(out)
            cp = run.jar_dirs(os.pathsep.join([lib, classes]), out).split(os.pathsep)
            self.assertEqual(cp[0], lib)
            self.assertTrue(cp[1].startswith(out) and cp[1].endswith(".jar"))
            with zipfile.ZipFile(cp[1]) as z:
                self.assertEqual(z.namelist(), ["graft/A.class"])


if __name__ == "__main__":
    unittest.main()
