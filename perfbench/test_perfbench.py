"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import duckdb

import run


def fake_layer(kind):
    """A traced-pass record shaped like the harness writes it."""
    return {
        "wall_s": 4.0, "phase_s": {"build": 1.5, "action": 2.0} if kind == "queries"
        else {"ingest": 0.5, "analytics": 3.0},
        "jobs_by_phase": {"build": 7, "action": 3}, "task_s_by_phase": {"build": 1.0},
        "jobs_by_package": {"operators": 5, "queries": 2, "-": 3},
        "job_s_by_package": {"operators": 1.0, "queries": 0.2, "-": 1.5},
        "plan_s": {"analysis": 0.1, "optimization": 0.2, "planning": 0.05},
        "stages": 12, "tasks": 30, "task_s": 6.0, "cpu_s": 5.0, "gc_s": 0.1,
        "shuffle_write_mb": 1.5, "spill_mb": 0.0, "input_mb": 3.0, "busy_s": 3.0,
        "cores": 4, "ingest": {"files_written": 1, "files_skipped": 4}}


def fake_record(kind):
    return {"setup_s": 5.0, "session_s": 4.0, "cold_pass_s": 9.0,
            "pass_s": [4.1, 4.0, 4.2], "untraced_pass_s": [3.9, 4.0],
            "peak_rss_mb": 1500.0, "layers": [fake_layer(kind)] * 2}


class MetricsTest(unittest.TestCase):
    def test_every_benchmark_metric_is_printed_with_its_unit(self):
        e2e, layers = run.metric_units()
        for kind in ("queries", "pipeline"):
            for trace, units in ((0, e2e), (1, layers)):
                metrics, _ = run.summarize(fake_record(kind), 3 << 20, trace, units)
                self.assertEqual(set(metrics), set(units))
                for name, unit in units.items():
                    self.assertEqual(metrics[name]["unit"], unit, name)
                    self.assertIsInstance(metrics[name]["value"], (int, float), name)
                json.dumps(metrics)

    def test_counts_that_differ_between_passes_are_caught(self):
        rec = fake_record("queries")
        other = dict(fake_layer("queries"), tasks=31)
        rec["layers"] = [fake_layer("queries"), other]
        _, counts = run.summarize(rec, 1, 1, run.metric_units()[1])
        self.assertIsNone(counts)


class ModuleMapTest(unittest.TestCase):
    def test_module_map_covers_every_engine_package(self):
        src = os.path.join(run.ROOT, "src", "main", "scala", "graft")
        packages = {d for d in os.listdir(src) if os.path.isdir(os.path.join(src, d))}
        self.assertTrue(packages)
        self.assertEqual(packages - set(run.MODULES), set())
        self.assertIn("", run.MODULES)
        self.assertEqual(run.MODULES["-"], "exec")

    def test_unmapped_package_is_an_error(self):
        layer = fake_layer("queries")
        layer["jobs_by_package"] = {"newpkg": 1}
        with self.assertRaises(ValueError):
            run.layer_metrics(layer, 1)


class CorrectnessTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        inp, self.dump = os.path.join(self.dir, "in"), os.path.join(self.dir, "dump")
        os.makedirs(inp)
        os.makedirs(os.path.join(self.dump, "q"))
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS k, range * 0.5 AS v FROM range(5)) "
                    f"TO '{inp}/t.parquet' (FORMAT PARQUET)")
        # the engine's output: exactly what the oracle below returns
        con.execute(f"COPY (SELECT range AS k, range * 0.5 AS v FROM range(5)) "
                    f"TO '{self.dump}/q/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        self.inp = inp

    def tearDown(self):
        shutil.rmtree(self.dir)

    def oracle(self, sql):
        with open(os.path.join(self.dump, "oracle_sql.json"), "w") as f:
            json.dump({"q": sql}, f)

    def test_matching_output_passes(self):
        self.oracle("SELECT k, v FROM t")
        self.assertEqual(run.check_queries(self.inp, self.dump, ["q"]), [])

    def test_planted_wrong_expected_row_is_a_failed_op(self):
        self.oracle("SELECT k, v FROM t UNION ALL SELECT 99 AS k, 1.0 AS v")
        bad = run.check_queries(self.inp, self.dump, ["q"])
        self.assertEqual(bad, ["q"])
        rec = {"attempted": 3, "ops_failed": {}}
        self.assertGreater(run.count_failed(rec, bad) / rec["attempted"], 0)

    def test_missing_output_is_a_failed_op(self):
        self.oracle("SELECT k, v FROM t")
        shutil.rmtree(os.path.join(self.dump, "q"))
        self.assertEqual(run.check_queries(self.inp, self.dump, ["q"]), ["q"])


if __name__ == "__main__":
    unittest.main()
