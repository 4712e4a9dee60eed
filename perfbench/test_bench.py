"""Self-tests of the benchmark's own logic: `python3 perfbench/test_bench.py`
from the repository root. The JVM tests build the engine and the harness and
generate sf0.001 tables under the build directory."""
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import plan as planlib  # noqa: E402
import replay  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

def make(workload, seed):
    return planlib.make(workload, seed, 1, 2, 15000, "/w", "/d", 4)


class PlanTest(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in planlib.WORKLOADS:
            self.assertEqual(make(w, 7), make(w, 7), w)

    def test_other_seed_other_order_same_work(self):
        a, b = ([o["name"] for o in make("llm_curation", s)["passes"][0]] for s in (1, 2))
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))

    def test_slots_name_the_same_work_in_every_pass(self):
        for w in planlib.WORKLOADS:
            plans = [planlib.make(w, seed, 0, 2, 15000, "/w", "/d", 4) for seed in (1, 2)]
            slots = [sorted(o["slot"] for o in p)
                     for plan in plans for p in plan["passes"] + plan["spare_passes"]]
            self.assertEqual(len(set(slots[0])), len(slots[0]), w)
            for s in slots[1:]:
                self.assertEqual(s, slots[0], w)

    def test_subset_queries_have_fingerprints(self):
        with open(run.EXPECTED) as f:
            fps = json.load(f)["fingerprints"]
        for m, q in planlib.LLM_QUERIES + planlib.STREAM_QUERIES:
            self.assertIsNotNone(fps.get(m, {}).get(q), q)

    def test_versioned_sequence_shape(self):
        ops = make("versioned_writes", 3)["passes"][0]
        kinds = [o["kind"] for o in ops if o.get("table") == "orders"]
        self.assertEqual(kinds[0], "vw_write")
        self.assertEqual(kinds[-3:], ["vw_read", "vw_compact", "vw_vacuum"])
        self.assertEqual(kinds.count("vw_read"), 4)
        self.assertEqual(kinds.count("vw_merge"), 2)
        self.assertEqual(kinds.count("vw_delete"), 1)


SELFCHECK_OK = "PASS q1_a (3 rows)\nPASS q2_b (1 rows)\n\n2 exact-pass / 2 oracled queries\n"
SELFCHECK_WARN = ("PASS q1_a (3 rows)\nWARN q2_b: values within 1e-9 but not bit-exact (1 rows)\n"
                  "FAIL q3_c: rows 2 != oracle 3\n\n1 exact-pass / 3 oracled queries\n")
SELFCHECK_CRASH = "PASS q1_a (3 rows)\nTraceback (most recent call last):\nKeyError: 'x'\n"


class OracleTest(unittest.TestCase):
    def test_clean_check(self):
        self.assertEqual(run.oracle_failing(0, SELFCHECK_OK), ([], 2, 2))

    def test_warn_and_fail_lines_are_failing(self):
        self.assertEqual(run.oracle_failing(1, SELFCHECK_WARN), (["q2_b", "q3_c"], 1, 3))

    def test_crash_or_inconsistent_exit_is_refused(self):
        for rc, out in ((1, SELFCHECK_CRASH), (0, SELFCHECK_WARN), (1, SELFCHECK_OK),
                        (2, SELFCHECK_OK)):
            with self.assertRaises(ValueError, msg=(rc, out)):
                run.oracle_failing(rc, out)

    def test_oracle_failing_query_counts_as_failed(self):
        expected = {"fingerprints": {"M": {"q1_a": "3:7", "q2_b": "1:5"}},
                    "oracle": {"failing": ["q2_b"]}}
        samples = [{"op": i, "label": q, "module": "M", "fp": fp, "error": None}
                   for i, (q, fp) in enumerate([("q1_a", "3:7"), ("q2_b", "1:5"),
                                                ("q1_a", "3:8")])]
        run.check(samples, expected, {})
        self.assertEqual([s["ok"] for s in samples], [True, False, False])


class StatsTest(unittest.TestCase):
    def test_percentile_needs_ten_beyond(self):
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)
        with self.assertRaises(ValueError):
            stats.percentile(range(1, 100), 0.9)
        self.assertEqual(stats.percentile(range(1, 41), 0.75), 30)
        with self.assertRaises(ValueError):
            stats.percentile(range(1, 40), 0.75)

    def test_hd_median(self):
        self.assertAlmostEqual(stats.hd_median(range(1, 10)), 5, places=6)
        self.assertAlmostEqual(stats.hd_median([7]), 7, places=6)
        # a gap at the middle: the plain median jumps with one sample, this moves less
        low, high = [1.0] * 10, [2.0] * 10
        jump = stats.median(low + high + [2.0]) - stats.median(low + high + [1.0])
        moved = stats.hd_median(low + high + [2.0]) - stats.hd_median(low + high + [1.0])
        self.assertLess(moved, jump / 2)

    def test_best_of_passes(self):
        passes = [{"samples": [{"slot": "a", "wall_s": 1.0}, {"slot": "b", "wall_s": 5.0}]},
                  {"samples": [{"slot": "b", "wall_s": 2.0}, {"slot": "a", "wall_s": 3.0}]}]
        self.assertEqual(sorted(run.best_of_passes(passes)), [1.0, 2.0])

    def test_quartiles_match_statistics(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))


class JvmTest(unittest.TestCase):
    """Runs the harness in a JVM on sf0.001 tables."""

    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()
        cls.data = os.path.join(build.build_dir(), "data", "sf0.001")
        gen_data.generate(cls.data, 0.001)
        cls.work = os.path.join(build.build_dir(), "work", "selftest")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_fingerprint(self):
        log = os.path.join(self.work, "fingerprint.log")
        rc = run.java(self.classes, "perfbench.SelfTest", [self.data], self.work, log, 600)
        out = run.tail(log, 100000)
        self.assertEqual(rc, 0, out[-3000:])
        self.assertEqual(out.count("ok fingerprint"), 13, out[-3000:])

    def test_replay_matches_versioned_layer(self):
        p = planlib.make("versioned_writes", 5, 0, 1, run.n_orders(self.data), self.work,
                         self.data, 2)
        p["warmup"] = []
        p["expected_states"] = replay.expected_states(p, self.data,
                                                      os.path.join(self.work, "expected"))
        path, out = os.path.join(self.work, "plan.json"), os.path.join(self.work, "out.json")
        with open(path, "w") as f:
            json.dump(p, f)
        log = os.path.join(self.work, "replay.log")
        rc = run.java(self.classes, "perfbench.Runner", [path, out], self.work, log, 600)
        self.assertEqual(rc, 0, run.tail(log))
        with open(out) as f:
            res = json.load(f)
        samples = res["passes"][0]["samples"]
        reads = [s for s in samples if s["label"].startswith(run.READS)]
        self.assertEqual(len(reads), 8)
        for s in samples:
            self.assertIsNone(s["error"], s)
        for s in reads:
            self.assertEqual(s["fp"], res["expected_fp"][str(s["op"])], s)


if __name__ == "__main__":
    unittest.main()
