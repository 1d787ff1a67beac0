"""Self-tests for the benchmark. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The attribution test builds the engine and starts a JVM (about a
minute); the others are pure Python.
"""
import filecmp
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import canon   # noqa: E402
import gen     # noqa: E402
import run     # noqa: E402
import stats   # noqa: E402


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_registry_tables_are_byte_identical(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen.registry_tables(a)
        gen.registry_tables(b)
        self.assertEqual(len(os.listdir(a)), 10)
        self.assertTrue(same_tree(a, b))

    def test_etl_sources_are_byte_identical_per_seed(self):
        small = dict(customers=300, agents=20, calls=400, social=200, web=200)
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        ma = gen.etl_sources(a, 5, **small)
        mb = gen.etl_sources(b, 5, **small)
        gen.etl_sources(c, 6, **small)
        self.assertTrue(same_tree(a, b))
        self.assertEqual(ma, mb)
        self.assertFalse(same_tree(a, c))

    def test_manifest_counts_follow_the_clean_rules(self):
        m = gen.etl_sources(self.tmp, 9, customers=500, agents=30, calls=600, social=300, web=300)
        for name, n in m["staging_rows"].items():
            self.assertGreater(n, 0, name)
        # the full load sees day 1 only, the incremental run both days
        for fact in gen.FACTS:
            self.assertLess(m["star_rows_full"][fact], m["star_rows_incremental"][fact])
        self.assertTrue(m["checks"]["dim_agents.agent_id.unique"])

    def test_clean_rows(self):
        rows = [("a", " x "), ("a", " x "), (None, None), ("a", "x"), ("b", None)]
        # dedup happens before trim, so " x " and "x" both survive
        self.assertEqual(gen.clean_rows(rows), [("a", "x"), ("a", "x"), ("b", None)])
        # CSV narrows the NULL literal and empty cells; JSON keeps "NULL"
        self.assertEqual(gen._as_read([("NULL", "")], "csv"), [(None, None)])
        self.assertEqual(gen._as_read([("NULL", "")], "json"), [("NULL", "")])


class StatsTest(unittest.TestCase):
    def test_percentile_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
        q = statistics.quantiles(xs, n=100, method="inclusive")
        for p in (10, 25, 50, 90, 95):
            self.assertAlmostEqual(stats.percentile(xs, p), q[p - 1])
        self.assertEqual(stats.median(xs), statistics.median(xs))
        self.assertEqual(stats.percentile([4.0], 95), 4.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_sample_count_beyond_the_percentile(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(247, 95), 13)
        self.assertEqual(stats.beyond(8, 90), 1)
        s = stats.summary(list(range(1, 101)), 90)
        self.assertEqual((s["n"], s["beyond"]), (100, 10))


class CanonTest(unittest.TestCase):
    def test_hash_ignores_row_and_column_order(self):
        h1 = canon.result_hash(["b", "A"], [(1, "x"), (2.5, None)])
        h2 = canon.result_hash(["a", "B"], [(None, 2.5), ("x", 1)])
        self.assertEqual(h1, h2)
        self.assertNotEqual(h1, canon.result_hash(["a", "b"], [("x", 1)]))

    def test_float_and_nan_rendering(self):
        self.assertEqual(canon.canon(float("nan")), "NaN")
        self.assertEqual(canon.canon(1e-05), "1e-05")
        self.assertEqual(canon.canon(0.1), "0.1")


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class AttributionTest(unittest.TestCase):
    """A traced run's listener accounts for every job Spark numbered, puts
    each in a named span, and never claims for an operation a job that
    ran outside it; on both workloads, at a small size."""

    def traced_run(self, workload, data, extra):
        cp, _ = run.build()
        work = os.path.dirname(data)
        out = os.path.join(work, "result.json")
        run.run_jvm(cp, dict({"workload": workload, "seed": 1, "trace": 1, "data": data,
                              "work": work, "out": out, "cores": 2}, **extra),
                    work, os.path.join(work, "jvm.log"), time.time() + 170)
        with open(out) as f:
            res = json.load(f)
        a = run.attribution(res)
        self.assertTrue(all(o["ok"] for o in res["ops"]), res["ops"])
        self.assertGreater(a["op_jobs_total"], 0)
        self.assertEqual(a["listener_jobs_total"], a["job_ids_total"])
        self.assertEqual(a["named_span_jobs_total"], a["job_ids_total"])
        self.assertEqual(a["unattributed_jobs"], 0)
        self.assertEqual(a["jobs_outside_op"], 0)
        for o in res["ops"]:
            self.assertLessEqual(o["idle_ms"], o["wall_ms"] + 1)
        return res

    def setUp(self):
        self.work = os.path.join(run.BUILD, "selftest")
        shutil.rmtree(self.work, ignore_errors=True)
        self.data = os.path.join(self.work, "data")

    def tearDown(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def test_registry_rows(self):
        gen.registry_tables(self.data)
        rows = os.path.join(self.work, "rows.txt")
        with open(rows, "w") as f:
            f.write("q291_label_propagation\nq221_entity_resolution\n")
        self.traced_run("iterative_heavy", self.data, {
            "list": rows, "expected": os.path.join(run.HERE, "expected", "query_hashes.tsv")})

    def test_etl_daily(self):
        m = gen.etl_sources(self.data, 3, customers=300, agents=20, calls=400, social=200, web=200)
        expected = os.path.join(self.data, "expected.tsv")
        gen.write_expected_tsv(expected, m)
        res = self.traced_run("etl_daily", self.data, {"expected": expected})
        self.assertEqual([o["name"] for o in res["ops"]],
                         ["pipeline.full", "pipeline.incremental", "pipeline.noop",
                          "quality.checks"])


if __name__ == "__main__":
    unittest.main()
