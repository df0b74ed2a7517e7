"""Self-tests of the benchmark's helpers and definitions.

    python3 perfbench/test_perfbench.py          (from the repository root)

The SparkEntry contract test builds the harness (sbt, first time only) and asks
the JVM for the keys of graft.SparkEntry.queries and .oracleSql; it is
skipped when no JVM toolchain is available.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def bench_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        v, n = stats.percentile([1, 2, 3, 4], 90)
        self.assertAlmostEqual(v, 3.7)
        self.assertEqual(n, 4)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 2.0, 8.0]), 2.0)
        self.assertEqual(stats.geomean([]), 0.0)

    def test_edges(self):
        self.assertEqual(stats.percentile([], 50), (0.0, 0))
        self.assertEqual(stats.percentile([7.5], 90), (7.5, 1))
        self.assertEqual(stats.percentile([1, 9], 0), (1, 2))
        self.assertEqual(stats.percentile([1, 9], 100), (9, 2))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start": s, "end": e}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, -1, 0, 10), self.span(2, 1, 1, 4),
                 self.span(3, 1, 3, 6)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)   # 10 - |[1,6]|
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 3.0)

    def test_child_clipped_to_parent_and_nested(self):
        spans = [self.span(1, -1, 0, 10), self.span(2, 1, 8, 12),
                 self.span(3, 2, 9, 11)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 8.0)   # child covers [8,10] only
        self.assertAlmostEqual(st[2], 2.0)   # 4 - 2
        self.assertAlmostEqual(st[3], 2.0)

    def test_self_times_sum_to_root_duration(self):
        spans = [self.span(1, -1, 0, 10), self.span(2, 1, 0, 5),
                 self.span(3, 1, 5, 9), self.span(4, 3, 6, 7)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 10.0)

    def test_descendants(self):
        spans = [self.span(1, -1, 0, 10), self.span(2, 1, 0, 5),
                 self.span(3, 2, 1, 2), self.span(4, -1, 11, 12)]
        self.assertEqual({s["id"] for s in stats.descendants(spans, {2})}, {2, 3})


class MetricNamesTest(unittest.TestCase):
    def test_names_are_valid_and_unique(self):
        names = [m for m, _ in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for m in names:
            self.assertTrue(stats.valid_metric_name(m), m)
        self.assertFalse(stats.valid_metric_name("bad name"))
        self.assertFalse(stats.valid_metric_name(""))

    def test_benchmark_json_matches_the_runner(self):
        b = bench_json()
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.load_spec()["workloads"]))


class NestTest(unittest.TestCase):
    def span(self, i, name, parent, s, e):
        return {"id": i, "name": name, "parent": parent, "start": s,
                "end": e, "attrs": {}}

    def test_microbatches_and_their_jobs_nest_under_the_build(self):
        spans = [self.span(1, "build", -1, 100, 200),
                 self.span(2, "build", -1, 300, 400),
                 self.span(3, "microbatch", -1, 120, 150),
                 self.span(4, "microbatch", -1, 299.5, 350),
                 self.span(5, "job", 1, 125, 140),
                 self.span(6, "job", 1, 160, 170),
                 self.span(7, "job", 2, 310, 320)]
        parent = {s["id"]: s["parent"] for s in run.nest(spans)}
        self.assertEqual(parent[3], 1)
        self.assertEqual(parent[4], 2)      # within the 1 ms slack
        self.assertEqual(parent[5], 3)
        self.assertEqual(parent[6], 1)      # between micro-batches
        self.assertEqual(parent[7], 4)

    def test_duplicate_ids_are_refused(self):
        with self.assertRaises(run.BenchError):
            run.nest([self.span(1, "build", -1, 0, 1),
                      self.span(1, "job", -1, 0, 1)])


class FixtureTest(unittest.TestCase):
    def test_every_table_is_present(self):
        rows = run.fixture_rows()
        self.assertEqual(sorted(rows), sorted(run.TABLES))
        self.assertEqual(rows["lineitem"], 60000)


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java")
                     and os.path.isdir(os.path.join(os.getcwd(), "src", "main", "scala")),
                     "needs the JVM toolchain, run from the repository root")
class SparkEntryContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(run.WORK, exist_ok=True)
        cp = run.build()
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            out = os.path.join(d, "keys.json")
            subprocess.run([run.java_bin(), "-cp", cp, "perfbench.Main",
                            "--keys", out], check=True,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            with open(out) as f:
                cls.keys = json.load(f)

    def test_every_workload_query_is_in_both_maps(self):
        for w, spec in run.load_spec()["workloads"].items():
            for q in spec["queries"]:
                self.assertIn(q, self.keys["queries"], f"{w}: {q}")
                self.assertIn(q, self.keys["oracle_sql"], f"{w}: {q}")

    def test_declared_tables_are_the_oracle_inputs(self):
        for spec in run.load_spec()["workloads"].values():
            for q, d in spec["queries"].items():
                sql = self.keys["oracle_sql"][q]
                used = [t for t in run.TABLES if re.search(rf"\b{t}\b", sql)]
                self.assertEqual(sorted(d["tables"]), sorted(used), q)


if __name__ == "__main__":
    unittest.main()
