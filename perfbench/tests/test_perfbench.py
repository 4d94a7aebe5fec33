"""Self-checks of the benchmark's own measurement and inputs.

    python3 -m unittest discover -s perfbench/tests

The scan test builds the engine (about 30 s the first time) and runs one
traced JVM. The table test compares the generated tables with the
engine's fixed sf0.1 test data when PERFBENCH_REFERENCE_TABLES names
that directory, and is skipped otherwise.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_docs  # noqa: E402
import run  # noqa: E402


class ScanCacheSplit(unittest.TestCase):
    def test_full_lineitem_scan_is_scan_bytes_not_cache_bytes(self):
        classes, _ = run.build()
        tabs = run.tables()
        work = os.path.join(run.BUILD, "work", "scan_selfcheck")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        res = run.run_jvm(classes, work, {
            "workload": "scan_selfcheck", "seed": 1, "seconds": 1, "trace": 1,
            "tables": tabs, "work": work, "cpus": run.CPUS,
            "out": os.path.join(work, "result.json")}, run.JVM_BUDGET_S)
        layers = res["layers"]
        size = os.path.getsize(os.path.join(tabs, "lineitem.parquet"))
        self.assertGreater(layers["scan.bytes"], 0)
        self.assertLessEqual(layers["scan.bytes"], size)
        self.assertEqual(layers["cache.read_bytes"], 0)
        self.assertEqual(layers["trace.unattributed_jobs"], 0)
        self.assertGreater(layers["trace.attributed_jobs"], 0)


@unittest.skipUnless(os.environ.get("PERFBENCH_REFERENCE_TABLES"),
                     "set PERFBENCH_REFERENCE_TABLES to the fixed sf0.1 tables")
class TablesMatchReference(unittest.TestCase):
    def test_schema_rows_and_key_ranges(self):
        import io
        import compare_tables
        problems = compare_tables.compare(os.environ["PERFBENCH_REFERENCE_TABLES"],
                                          run.tables(), out=io.StringIO())
        self.assertEqual(problems, [])


class DocInputs(unittest.TestCase):
    def expected(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen_docs.main(d, seed, 2, 40)
            with open(os.path.join(d, "expected.json")) as f:
                exp = json.load(f)
            for b in exp["batches"]:
                b["dir"] = os.path.basename(b["dir"])
            return exp

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.expected(5), self.expected(5))
        self.assertNotEqual(self.expected(5), self.expected(6))

    def test_every_table_has_a_key_column(self):
        exp = self.expected(5)
        tables = {t for b in exp["batches"] for t in b["tables"]}
        self.assertLessEqual(tables, set(exp["keys"]))
        self.assertEqual(len(exp["keys"]), 22)


if __name__ == "__main__":
    unittest.main()
