package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.rbac.{Hierarchy, Partitioned, Rbac}

/** The driver-side grant index (`Rbac.grantIndex`) against the
  * broadcast grant path it stands in for below `DriverGrantRowsMax`
  * (`Rbac.withBroadcastGrants` forces the latter): the same rows from
  * every serving strategy, and one job per call where the grant lookups
  * and the query row were the rest.
  */
class GrantIndexSpec extends AnyFunSuite {
  import SparkTest._
  import JobLog._

  private val K = 10

  /** The serve_2k strategies, then the two hierarchy top-ks. */
  private def strategies: Seq[(String, Long => DataFrame)] = {
    val sp = spark
    Seq(
      "prefilterTopK" -> (u => Rbac.prefilterTopK(sp, sf, u, K)),
      "postfilterTopK" -> (u => Rbac.postfilterTopK(sp, sf, u, K)),
      "rlsTopK" -> (u => Rbac.rlsTopK(sp, sf, u, K)),
      "rolePartitionTopK" -> (u => Partitioned.rolePartitionTopK(sp, sf, u, K)),
      "combPartitionTopK" -> (u => Partitioned.combPartitionTopK(sp, sf, u, K)),
      "dynamicPartitionTopK" -> (u => Partitioned.dynamicPartitionTopK(sp, sf, u, K)),
      "prefilterPruned" -> (u => sources.Layouts.prefilterPruned(sp, sf, u, K)),
      "predicateAwareSearch" -> (u => ann.IvfIndex.predicateAwareSearch(sp, sf, u, topk = K)),
      "hierarchyTopK" -> (u => Hierarchy.hierarchyTopK(sp, sf, u, K)),
      "dagTopK" -> (u => Hierarchy.dagTopK(sp, sf, u, K)))
  }

  private val models = Seq[Rbac.RoleModel](Rbac.Flat, Rbac.Tree, Rbac.Dag)

  test("every strategy returns the same rows from the grant index and the broadcast path") {
    val sp = spark
    for (m <- models)
      assert(Rbac.grantIndex(sp, sf, m).isDefined, s"$m: no grant index at $sf")
    val users = (1L to 10L) :+ 4321L // the last holds no role
    for ((name, f) <- strategies; u <- users) {
      val indexed: Seq[Row] = f(u).collect().toSeq
      val broadcast: Seq[Row] = Rbac.withBroadcastGrants(f(u).collect().toSeq)
      assert(indexed == broadcast, s"$name user $u: index $indexed vs broadcast $broadcast")
      if (u <= 10L && name != "postfilterTopK")
        assert(indexed.nonEmpty, s"$name user $u: no rows")
    }
  }

  test("restrict equals accessibleDocs under every permission model, on both grant paths") {
    val sp = spark
    val corpus = Rbac.blocks(sp, sf).select("document_id")
    for (m <- models; u <- Seq(1L, 7L, 12L)) {
      val acc = Rbac.accessibleDocs(sp, sf, u, m).collect().map(_.getLong(0)).sorted.toSeq
      def kept(): Seq[Long] =
        Rbac.restrict(corpus, sp, sf, u, ur = m).collect().map(_.getLong(0)).sorted.toSeq
      assert(acc.nonEmpty, s"$m user $u: no accessible docs")
      assert(kept() == acc, s"$m user $u: indexed restrict != accessibleDocs")
      assert(Rbac.withBroadcastGrants(kept()) == acc,
        s"$m user $u: broadcast restrict != accessibleDocs")
      assert(Rbac.grantIndex(sp, sf, m).get.docsOf(u) == acc, s"$m user $u: index docs")
    }
  }

  test("after a first touch, a serving call runs only its search jobs") {
    // (strategy, most jobs per call): the grant lookups, the role and
    // partition routing and the query row run none
    val bounds = Map(
      "prefilterTopK" -> 1, "postfilterTopK" -> 1, "rlsTopK" -> 1,
      "dynamicPartitionTopK" -> 1, "rolePartitionTopK" -> 3,
      "combPartitionTopK" -> 5, "prefilterPruned" -> 2, "predicateAwareSearch" -> 3)
    val sp = spark
    for ((name, f) <- strategies if bounds.contains(name)) {
      f(3L).collect() // first touch: layouts, indexes, the grant index
      val jobs = jobsOf(sp)(f(5L).collect())
      assert(jobs.nonEmpty && jobs.size <= bounds(name),
        s"$name: ${jobs.size} jobs (at most ${bounds(name)}): $jobs")
      if (bounds(name) == 1) assert(jobs.size == 1, s"$name: $jobs")
    }
  }
}
