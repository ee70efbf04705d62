"""Unit tests for plan_diff.py (stdlib only).

Run from the repository root: python3 -m unittest discover -s tools
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

BEFORE = """[info] running graft.Explain
========== key_a ==========
== Physical Plan ==
* Filter (2)
+- Scan parquet (1)
(2) Filter [codegen id : 1]
Condition : (vec_id#12L = 0)
Output [2]: [vec_id#12L, pq_adc(code#3, [[F@72558d04) AS adc#9]
Location: InMemoryFileIndex [file:/tmp/graft_ckpt_1870495399263062962/r6]
Arguments: [src#3L], MapPartitionsRDD[484] at createDataFrame at PlanCut.scala:34

========== key_b ==========
TakeOrderedAndProject (3)
Arguments: 10, [dist#40 ASC NULLS FIRST, block_id#7L ASC NULLS FIRST], plan_id=81
[success] Total time: 9 s
"""

# the same plans, renumbered by a different run
AFTER_SAME = """========== key_a ==========
== Physical Plan ==
* Filter (2)
+- Scan parquet (1)
[error] a Spark log line
(2) Filter [codegen id : 1]
Condition : (vec_id#301L = 0)
Output [2]: [vec_id#2L, pq_adc(code#5, [[F@1312e82d) AS adc#11]
Location: InMemoryFileIndex [file:/tmp/graft_ckpt_15916182252406273586/r9]
Arguments: [src#8L], MapPartitionsRDD[432] at createDataFrame at PlanCut.scala:34
========== key_b ==========
TakeOrderedAndProject (3)
Arguments: 10, [dist#77 ASC NULLS FIRST, block_id#5L ASC NULLS FIRST], plan_id=4
"""


class PlanDiffTest(unittest.TestCase):
    def test_split_normalizes_run_tokens_and_drops_sbt_lines(self):
        plans = plan_diff.split_plans(BEFORE)
        self.assertEqual(sorted(plans), ["key_a", "key_b"])
        self.assertIn("Condition : (vec_id#NL = 0)", plans["key_a"])
        self.assertIn("Output [2]: [vec_id#NL, pq_adc(code#N, [[F@H) AS adc#N]", plans["key_a"])
        self.assertIn("Location: InMemoryFileIndex [file:/tmp/graft_ckpt_N/rN]", plans["key_a"])
        self.assertIn("Arguments: [src#NL], MapPartitionsRDD[N] at createDataFrame "
                      "at PlanCut.scala:34", plans["key_a"])
        self.assertEqual(plans["key_b"][-1],
                         "Arguments: 10, [dist#N ASC NULLS FIRST, "
                         "block_id#NL ASC NULLS FIRST], plan_id=N")
        self.assertFalse(any(l.startswith("[") for p in plans.values() for l in p))

    def test_renumbered_plans_are_identical(self):
        changed, one_side = plan_diff.diff_plans(
            plan_diff.split_plans(BEFORE), plan_diff.split_plans(AFTER_SAME))
        self.assertEqual((changed, one_side), ([], []))

    def test_a_changed_operator_is_reported(self):
        after = AFTER_SAME.replace("TakeOrderedAndProject (3)", "Sort (3)")
        changed, one_side = plan_diff.diff_plans(
            plan_diff.split_plans(BEFORE), plan_diff.split_plans(after))
        self.assertEqual([k for k, _ in changed], ["key_b"])
        self.assertIn("+Sort (3)", changed[0][1])
        self.assertEqual(one_side, [])

    def test_a_missing_key_is_reported(self):
        after = AFTER_SAME.split("========== key_b")[0]
        changed, one_side = plan_diff.diff_plans(
            plan_diff.split_plans(BEFORE), plan_diff.split_plans(after))
        self.assertEqual((changed, one_side), ([], ["key_b"]))

    def test_exit_status(self):
        with tempfile.TemporaryDirectory() as d:
            paths = {}
            for name, text in [("before", BEFORE), ("same", AFTER_SAME),
                               ("changed", AFTER_SAME.replace("= 0)", "= 1)"))]:
                paths[name] = os.path.join(d, name)
                with open(paths[name], "w") as f:
                    f.write(text)
            tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_diff.py")

            def run(after):
                return subprocess.run([sys.executable, tool, paths["before"], paths[after]],
                                      capture_output=True, text=True)
            same = run("same")
            self.assertEqual(same.returncode, 0, same.stdout)
            self.assertIn("2 identical, 0 differ", same.stdout)
            changed = run("changed")
            self.assertEqual(changed.returncode, 1)
            self.assertIn("DIFF key_a", changed.stdout)


if __name__ == "__main__":
    unittest.main()
