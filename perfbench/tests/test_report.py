"""Failed operations: counted, named, and kept out of the timings."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import report  # noqa: E402

EXPECTED = {"qa": {"rows": 1, "hash": "x"}, "qb": {"rows": 1, "hash": "x"}}


def records(bad=(), thrown=()):
    recs = [{"kind": "first_op", "ms": 3000.0}]
    for i in range(24):
        recs.append({"kind": "op", "phase": "timed", "op": i, "name": "qa" if i % 2 else "qb",
                     "wall_s": 1.0 + i, "ok": i not in thrown, "rows": 1,
                     "hash": "y" if i in bad else "x"})
    recs.append({"kind": "op", "phase": "warm", "op": -1, "name": "qa", "wall_s": 9.0, "ok": True,
                 "rows": 1, "hash": "x"})
    return recs


class FailedOperations(unittest.TestCase):
    def test_clean_run(self):
        out = report.evaluate("queries", records(), EXPECTED, 1.0, False, {})
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (24, 0))
        self.assertEqual(out["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(out["metrics"]["run_s"]["value"], sum(1.0 + i for i in range(24)))

    def test_mismatch_and_throw_fail_only_their_operations(self):
        out = report.evaluate("queries", records(bad={23}, thrown={5}), EXPECTED, 1.0, False, {})
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (24, 2))
        self.assertEqual(out["record"]["failed_ops"], ["qa", "qa"])
        self.assertEqual(out["record"]["op_samples"], 22)
        walls = [1.0 + i for i in range(24) if i not in (5, 23)]
        self.assertEqual(out["metrics"]["run_s"]["value"], sum(walls))
        self.assertLess(out["metrics"]["op_p90_s"]["value"], 24.0)  # the slow mismatch is not timed

    def test_too_few_operations_is_a_failed_check(self):
        recs = [r for r in records() if r.get("op", 0) < 10]
        out = report.evaluate("queries", recs, EXPECTED, 1.0, False, {})
        self.assertFalse(out["correct"])
        self.assertIn("too few", out["record"]["run_checks_failed"][0])


if __name__ == "__main__":
    unittest.main()
