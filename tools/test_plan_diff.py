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

# one cached relation explained before the cache was materialized (its
# adaptive plan is initial) ...
CACHED_INITIAL = """========== key_c ==========
== Physical Plan ==
AdaptiveSparkPlan (8)
+- BroadcastHashJoin LeftSemi BuildRight (7)
   :- Filter (5)
   :  +- InMemoryTableScan (1) (columnarIn=false, columnarOut=true)
   :        +- InMemoryRelation (2)
   :              +- AdaptiveSparkPlan (4)
   :                 +- Exchange (3)
   :                    +- Scan parquet  (0)
   +- Scan parquet  (6)


(0) Scan parquet
Output [1]: [doc_id#16L]

(1) InMemoryTableScan
Output [1]: [doc_id#16L]

(2) InMemoryRelation
Arguments: [doc_id#16L], StorageLevel(disk, memory, deserialized, 1 replicas)

(3) Exchange
Arguments: hashpartitioning(doc_id#16L, 4), ENSURE_REQUIREMENTS, [plan_id=23]

(4) AdaptiveSparkPlan
Output [1]: [doc_id#16L]
Arguments: isFinalPlan=false

(5) Filter
Condition : isnotnull(doc_id#16L)

(6) Scan parquet
Output [1]: [doc_id#40L]

(7) BroadcastHashJoin
Join type: LeftSemi

(8) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""

# ... and after an earlier key materialized it: the final plan prints
# above the initial one, operators are numbered differently and the
# parent tree's `:` bars stop at the adaptive plan
CACHED_FINAL = """========== key_c ==========
== Physical Plan ==
AdaptiveSparkPlan (11)
+- BroadcastHashJoin LeftSemi BuildRight (10)
   :- Filter (8)
   :  +- InMemoryTableScan (1) (columnarIn=false, columnarOut=true)
   :        +- InMemoryRelation (2)
   :              +- AdaptiveSparkPlan (7)
                     +- == Final Plan ==
                        ResultQueryStage (5)
                        +- ShuffleQueryStage (4), Statistics(sizeInBytes=23.4 KiB, rowCount=1.00E+3)
                           +- Exchange (3)
                              +- * ColumnarToRow (12)
                                 +- Scan parquet  (0)
                     +- == Initial Plan ==
                        Exchange (6)
                        +- Scan parquet  (0)
   +- Scan parquet  (9)


(0) Scan parquet
Output [1]: [doc_id#16L]

(1) InMemoryTableScan
Output [1]: [doc_id#16L]

(2) InMemoryRelation
Arguments: [doc_id#16L], StorageLevel(disk, memory, deserialized, 1 replicas)

(3) Exchange
Arguments: hashpartitioning(doc_id#16L, 4), ENSURE_REQUIREMENTS, [plan_id=566]

(4) ShuffleQueryStage
Output [1]: [doc_id#16L]
Arguments: 0

(5) ResultQueryStage
Arguments: 1

(6) Exchange
Arguments: hashpartitioning(doc_id#16L, 4), ENSURE_REQUIREMENTS, [plan_id=23]

(7) AdaptiveSparkPlan
Output [1]: [doc_id#16L]
Arguments: isFinalPlan=true

(8) Filter
Condition : isnotnull(doc_id#16L)

(9) Scan parquet
Output [1]: [doc_id#40L]

(10) BroadcastHashJoin
Join type: LeftSemi

(11) AdaptiveSparkPlan
Arguments: isFinalPlan=false

(12) ColumnarToRow [codegen id : 1]
Input [1]: [doc_id#16L]
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

    def test_an_rdd_subclass_id_is_normalized(self):
        self.assertEqual(
            plan_diff.normalize("Arguments: obj#7: scala.Tuple2, VertexRDDImpl[8470] at RDD "
                                "at VertexRDD.scala:57"),
            "Arguments: obj#N: scala.Tuple2, VertexRDDImpl[N] at RDD at VertexRDD.scala:57")

    def test_a_lambda_identity_is_normalized(self):
        self.assertEqual(
            plan_diff.normalize("Arguments: graft.M$$$Lambda$6868/0x00007f70ad80b000@39821f5d, "
                                "obj#12: graft.M$Row"),
            "Arguments: graft.M$$$Lambda@H, obj#N: graft.M$Row")

    def test_a_layout_dir_version_suffix_is_normalized(self):
        for stamp in ["193638_1792363512043_65049_1792363512034", "4e3146c7a65b5066"]:
            self.assertEqual(
                plan_diff.normalize("Location: InMemoryFileIndex [file:/tmp/graft_layouts_root/"
                                    f"role_sf0.01_f03e707_{stamp}/blocks_by_role]"),
                "Location: InMemoryFileIndex [file:/tmp/graft_layouts_root/"
                "role_sf0.01_f03e707_V/blocks_by_role]")

    def test_generated_lambda_variables_are_renumbered_per_plan(self):
        # dedup_substring dumped in two JVMs: the same lambda as x_38 and x_33
        plan = ("========== dedup_substring ==========\n"
                "Arguments: posexplode(transform(sequence(0, (size(ws#59497, false) - 6), "
                "None, Some(UTC)), lambdafunction(concat_ws( , slice(ws#59497, "
                "(lambda x_38#59499 + 1), 6)), lambda x_38#59499, false)))\n")
        other = plan.replace("x_38#59499", "x_33#412")
        self.assertEqual(plan_diff.diff_plans(plan_diff.split_plans(plan),
                                              plan_diff.split_plans(other)), ([], []))
        self.assertIn("(lambda x_1#N + 1)", plan_diff.split_plans(plan)["dedup_substring"][0])
        # two distinct lambdas never fold into one
        two = plan.replace("lambda x_38#59499, false", "lambda x_39#59500, false")
        diff, _ = plan_diff.diff_plans(plan_diff.split_plans(plan), plan_diff.split_plans(two))
        self.assertEqual([k for k, _ in diff], ["dedup_substring"])

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

    def test_a_cached_relation_in_final_and_initial_form_is_identical(self):
        initial = plan_diff.split_plans(CACHED_INITIAL)
        final = plan_diff.split_plans(CACHED_FINAL)
        self.assertEqual(plan_diff.diff_plans(initial, final), ([], []))
        plan = final["key_c"]
        self.assertFalse(any("Final Plan" in l or "QueryStage" in l or "ColumnarToRow" in l
                             for l in plan), plan)
        self.assertIn("                  +- AdaptiveSparkPlan (6)", plan)
        self.assertIn("                     +- Exchange (7)", plan)
        # the initial subtree still decides: a changed operator under it shows
        changed = CACHED_FINAL.replace("(doc_id#16L, 4), ENSURE_REQUIREMENTS, [plan_id=23]",
                                       "(doc_id#16L, 8), ENSURE_REQUIREMENTS, [plan_id=23]")
        diff, _ = plan_diff.diff_plans(initial, plan_diff.split_plans(changed))
        self.assertEqual([k for k, _ in diff], ["key_c"])

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
