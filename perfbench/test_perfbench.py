"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They build the engine if needed (see run.py) and start a JVM, so they take
a minute or two.
"""
import argparse
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

CLASSES = {"read", "write", "stream"}


def registered_ids():
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        out = os.path.join(d, "ids.txt")
        subprocess.run(["java", "-cp", run.classpath(), "perfbench.Main",
                        "--mode", "list", "--out", out], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        with open(out) as f:
            return [ln.strip() for ln in f if ln.strip()]


class Assignment(unittest.TestCase):
    def test_every_registered_query_is_in_exactly_one_workload_and_class(self):
        ops = run.load_ops()  # rejects duplicate ids
        ids = registered_ids()
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual(sorted(ops), sorted(ids),
                         "ops.json must list exactly the registered query ids")
        for i, spec in ops.items():
            self.assertIn(spec["workload"], run.WORKLOADS, i)
            self.assertIn(spec["class"], CLASSES, i)
        for wl in run.WORKLOADS:
            classes = {s["class"] for s in ops.values() if s["workload"] == wl and s["core"]}
            self.assertEqual(classes, CLASSES, f"{wl}'s core ops must cover every class")

    def test_duplicate_ids_are_rejected(self):
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=HERE, delete=False) as f:
            f.write('{"q1": {"workload": "lake_mixed"}, "q1": {"workload": "batch_sf1"}}')
        try:
            with self.assertRaises(ValueError):
                run.load_ops(f.name)
        finally:
            os.remove(f.name)


class Correctness(unittest.TestCase):
    def test_altered_digest_counts_as_failed_op(self):
        ops = run.load_ops()
        op = sorted(k for k, v in ops.items()
                    if v["workload"] == "batch_sf1" and v["core"] and v["class"] == "read")[0]
        spec = run.WORKLOADS["batch_sf1"]
        args = argparse.Namespace(heap="3g", cores=run.cores_for(4), seed=1, seconds=1,
                                  trace=0, jvm_timeout=run.JVM_TIMEOUT_S)
        with run.fresh_dir("selftest-") as run_dir:
            recs, meta, _ = run.run_jvm(run.classpath(), run_dir, spec["data"], [op], args,
                                        spec["client"])
        good = metrics.summarize(recs, meta, ops, 0.0, trace=False)
        self.assertTrue(good["correct"], good["notes"]["failures"])
        self.assertEqual(good["failed"], 0)
        altered = {**ops, op: {**ops[op], "digest": "0" * 16}}
        bad = metrics.summarize(recs, meta, altered, 0.0, trace=False)
        self.assertFalse(bad["correct"])
        self.assertGreaterEqual(bad["attempted"], 1)
        self.assertEqual(bad["failed"], bad["attempted"])
        self.assertLess(bad["metrics"]["ops_ok_frac"]["value"], 1.0)

    def test_error_and_row_count_are_checked(self):
        expected = {"q": {"rows": 3, "digest": "abc"}}
        rec = {"id": "q", "error": None, "rows": 3, "digest": "abc"}
        self.assertIsNone(metrics.check(rec, expected))
        self.assertIsNotNone(metrics.check({**rec, "rows": 4}, expected))
        self.assertIsNotNone(metrics.check({**rec, "error": "boom"}, expected))


if __name__ == "__main__":
    unittest.main()
