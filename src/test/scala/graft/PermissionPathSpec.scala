package graft

import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.rbac.{Hierarchy, Maintenance, Partitioned, Rbac}

/** The one permission path: every doc-restricted serving key filters
  * through `Rbac.restrict` — on the broadcast grant path (above
  * `Rbac.DriverGrantRowsMax`, forced here by `Rbac.withBroadcastGrants`)
  * exactly one semi-join against the user's grant rows, whose broadcast
  * side carries no shuffle.
  */
class PermissionPlanSpec extends AnyFunSuite {
  import SparkTest._
  import JobLog._

  /** Semi-joins whose build side scans the cached permission table. */
  private def grantSemiJoins(sp: SparkSession, plan: SparkPlan): Seq[BaseJoinExec] = {
    val perm = sp.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(Rbac.permissions(sp, sf).asInstanceOf[classic.Dataset[_]])
      .getOrElse(fail("permission table is not cached"))
      .cachedRepresentation.cacheBuilder
    plan.collect {
      case j: BaseJoinExec if j.joinType == LeftSemi && j.right.exists {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder eq perm
        case _ => false
      } => j
    }
  }

  private def withoutAqe[T](sp: SparkSession)(body: => T): T = {
    val prev = sp.conf.get("spark.sql.adaptive.enabled")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally sp.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("each doc-restricted key has exactly one broadcast grant semi-join, with no shuffle") {
    // the broadcast grant path; below the bound GrantIndexSpec covers them
    val sp = spark
    val keys: Seq[(String, () => DataFrame)] = Seq(
      "prefilterTopK" -> (() => Rbac.prefilterTopK(sp, sf, 1, 10)),
      "postfilterTopK" -> (() => Rbac.postfilterTopK(sp, sf, 1, 10)),
      "rlsTopK" -> (() => Rbac.rlsTopK(sp, sf, 1, 10)),
      "combPartitionTopK" -> (() => Partitioned.combPartitionTopK(sp, sf, 1, 10)),
      "dynamicPartitionTopK" -> (() => Partitioned.dynamicPartitionTopK(sp, sf, 1, 10)),
      "predicateAwareSearch" -> (() => ann.IvfIndex.predicateAwareSearch(sp, sf, 1)),
      "deleteAwareTopK" -> (() => Maintenance.deleteAwareTopK(sp, sf, 1, 10)),
      "hierarchyTopK" -> (() => Hierarchy.hierarchyTopK(sp, sf, 7, 10)),
      "dagTopK" -> (() => Hierarchy.dagTopK(sp, sf, 7, 10)),
      "QdTree.routedTopK" -> (() => ann.QdTree.routedTopK(sp, sf, 1)))
    withoutAqe(sp)(Rbac.withBroadcastGrants {
      for ((name, f) <- keys) {
        val plan = f().queryExecution.executedPlan
        val semis = grantSemiJoins(sp, plan)
        assert(semis.size == 1, s"$name: ${semis.size} grant semi-joins in\n$plan")
        val join = semis.head
        // a codegen'd join sees its build child through an InputAdapter
        val build = join.right match {
          case a: InputAdapter => a.child
          case p => p
        }
        assert(join.isInstanceOf[BroadcastHashJoinExec] && build.isInstanceOf[BroadcastExchangeExec],
          s"$name: the grant rows are not broadcast:\n$join")
        val shuffles = build.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty, s"$name: the broadcast grant side shuffles:\n$build")
      }
    })
  }

  test("partition-pruned strategies restrict without a grant semi-join") {
    val sp = spark
    withoutAqe(sp) {
      for ((name, df) <- Seq(
          "rolePartitionTopK" -> Partitioned.rolePartitionTopK(sp, sf, 1, 10),
          "prefilterPruned" -> sources.Layouts.prefilterPruned(sp, sf, 1, 10))) {
        val plan = df.queryExecution.executedPlan
        assert(grantSemiJoins(sp, plan).isEmpty, s"$name: grant semi-join in\n$plan")
      }
    }
  }

  test("prefilterTopK and rlsTopK submit the same jobs") {
    val sp = spark
    Rbac.prefilterTopK(sp, sf, 3, 10).collect() // first touch
    Rbac.rlsTopK(sp, sf, 3, 10).collect()
    val pre = jobsOf(sp)(Rbac.prefilterTopK(sp, sf, 3, 10).collect())
    val rls = jobsOf(sp)(Rbac.rlsTopK(sp, sf, 3, 10).collect())
    assert(pre.nonEmpty && pre.size == rls.size, s"prefilter $pre vs rls $rls")
  }

  test("restrict keeps exactly the accessible rows under every permission model") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    val corpus = Rbac.blocks(sp, sf).select("document_id")
    for ((name, ur) <- Seq[(String, Rbac.RoleModel)](
        "flat" -> Rbac.Flat, "tree" -> Rbac.Tree, "dag" -> Rbac.Dag)) {
      val acc = Rbac.accessibleDocs(sp, sf, 7, ur).collect().map(_.getLong(0))
      assert(acc.length == acc.distinct.length, s"$name: accessibleDocs repeats a doc")
      val kept = Rbac.restrict(corpus, sp, sf, 7, ur = ur).collect().map(_.getLong(0))
      assert(kept.sorted.toSeq == acc.sorted.toSeq, s"$name: restrict != accessibleDocs")
      val renamed = corpus.select(col("document_id").as("cand_id"))
      val walked = Rbac.restrict(renamed, sp, sf, 7, key = "cand_id", ur = ur,
        walkBounded = true).collect().map(_.getLong(0))
      assert(walked.sorted.toSeq == acc.sorted.toSeq, s"$name: walk-bounded restrict differs")
    }
  }
}
