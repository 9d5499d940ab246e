"""Self-tests for the benchmark's own rules.

Run: python3 perfbench/test_perfbench.py
(The fail-closed test compiles the JVM side first if needed.)
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import summarize as S  # noqa: E402


def temp_dir():
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.mkdtemp(prefix="selftest-", dir=build.BUILD)


def tree(d):
    """Relative path -> bytes for every file under d."""
    out = {}
    for dirpath, _, names in os.walk(d):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = temp_dir()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def etl(self, seed, name):
        out = os.path.join(self.dir, name)
        os.makedirs(out)
        sched = gen.EtlSchedule(seed)
        expected = sched.write(out, 6, 3, 1)
        return tree(out), expected, sched.final_state(6)

    def test_etl_payloads_are_a_function_of_the_seed(self):
        a, b, c = self.etl(7, "a"), self.etl(7, "b"), self.etl(8, "c")
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])

    def test_etl_expected_counts_add_up(self):
        _, expected, (fact, dim) = self.etl(7, "a")
        self.assertEqual(len(dim), 9 + 5)
        # 1960-01..2024-05: 773 months, 257 quarters; BLS 2021-01..2024-05
        self.assertEqual(expected[0]["fact"]["inserted"], 6 * 773 + 3 * 257 + 5 * 41)
        # every 3-day block: two release days (one period added, one revised),
        # then a quiet day
        changes = [(expected[d]["fact"]["inserted"], expected[d]["fact"]["updated"])
                   for d in range(1, 7)]
        self.assertEqual(changes, [(1, 1), (1, 1), (0, 0)] * 2)
        for day in range(1, 7):
            self.assertEqual(sum(expected[day]["fact"].values()),
                             expected[0]["fact"]["inserted"] + sum(c[0] for c in changes[:day]))
        self.assertEqual(len(fact), sum(expected[6]["fact"].values()))

    def test_etl_release_slots_do_not_depend_on_the_seed(self):
        def slots(seed):
            sched = gen.EtlSchedule(seed)
            return [sched.freq.get(changed, "B" if bls else None)
                    for _, _, _, changed, bls, _ in sched.days(21)][1:]
        self.assertEqual(slots(7), slots(8))
        self.assertEqual([slots(7).count(s) for s in ["M", "Q", "B", None]], [6, 3, 5, 7])

    def test_harness_tables_are_a_function_of_the_seed(self):
        import pyarrow.parquet as pq
        tables = {"orders": 200, "documents": 50}
        for seed, name in [(5, "a"), (5, "b"), (6, "c")]:
            gen.harness_tables(os.path.join(self.dir, name), seed, tables)
        for t in ["orders", "customer", "events", "documents", "embeddings"]:
            read = [pq.read_table(os.path.join(self.dir, n, f"{t}.parquet")) for n in "abc"]
            self.assertTrue(read[0].equals(read[1]), t)
            self.assertFalse(read[0].equals(read[2]), t)


class PercentileRuleTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(S.tail_percentile([float(i) for i in range(99)]))
        xs = [float(i) for i in range(100)]
        p90 = S.tail_percentile(xs)
        self.assertEqual(p90, 89.0)
        self.assertEqual(sum(x > p90 for x in xs), 10)

    def test_median_of_even_count(self):
        self.assertEqual(S.median([1.0, 2.0, 3.0, 4.0]), 2.5)


class FailClosedTest(unittest.TestCase):
    def test_a_check_failure_is_not_a_timing(self):
        ops = [{"name": "q", "ok": True, "latency_s": 0.1, "fingerprint": "x"},
               {"name": "q", "ok": True, "latency_s": 0.01, "fingerprint": "y"}]
        judged = S.judge(ops, lambda o: None if o["fingerprint"] == "x" else "wrong result")
        self.assertEqual([o["failed"] for o in judged], [False, True])
        self.assertEqual([o["latency_s"] for o in judged], [0.1, None])

    def test_a_throwing_op_raises_error_rate_instead_of_timing(self):
        classes, jars, _ = build.build()
        d = temp_dir()
        try:
            out = os.path.join(d, "records.json")
            subprocess.run(["java", "-XX:-UsePerfData", "-cp",
                            classes + os.pathsep + os.path.join(jars, "*"),
                            "perfbench.SelfTest", out], check=True)
            with open(out) as f:
                records = json.load(f)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        thrown, fine = records
        self.assertFalse(thrown["ok"])
        self.assertNotIn("latency_s", thrown)
        self.assertIn("deliberate failure", thrown["error"])
        judged = S.judge(records, lambda o: None)
        failed = sum(o["failed"] for o in judged)
        self.assertEqual(failed / len(judged), 0.5)
        self.assertEqual([o["latency_s"] for o in judged if not o["failed"]], [fine["latency_s"]])


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": -1, "op": 1, "name": "op", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "op": 1, "name": "etl.run", "start": 1.0, "end": 9.0},
            {"id": 3, "parent": -1, "op": 1, "name": "spark.action", "start": 2.0, "end": 5.0},
            {"id": 4, "parent": -1, "op": 1, "name": "spark.action", "start": 4.0, "end": 6.0},
        ]
        st = S.self_times(S.attach_parents(spans))
        self.assertAlmostEqual(st["op"]["self_s"], 2.0)
        self.assertAlmostEqual(st["etl.run"]["self_s"], 4.0)
        self.assertEqual(S.etl_action_split(spans), {1: (8.0, 4.0)})

    def test_stall_is_labelled_against_earlier_runs(self):
        past = [0.40, 0.42, 0.39]
        self.assertTrue(S.stall_label(past, 4.1, 10.0).startswith("ok"))
        self.assertTrue(S.stall_label(past, 9.0, 10.0).startswith("stall"))
        self.assertTrue(S.stall_label(past[:2], 9.0, 10.0).startswith("unlabelled"))


if __name__ == "__main__":
    unittest.main()
