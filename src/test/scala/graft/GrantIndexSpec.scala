package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.rbac.{Hierarchy, Partitioned, Rbac}

/** The driver-side grant index (`Rbac.grantIndex`) against the
  * broadcast grant path it stands in for below `DriverGrantRowsMax`
  * (`Rbac.withBroadcastGrants` forces the latter): the same rows from
  * every serving strategy, the same routing, and one job per call where
  * the grant lookups and the query row were the rest.
  */
class GrantIndexSpec extends AnyFunSuite {
  import SparkTest._
  import JobLog._

  private val K = 10

  /** The serve_2k strategies, B21's per-role IVF top-k, the two
    * hierarchy top-ks and the greedy qd-tree's routed top-k. */
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
      "partitionIvfTopK" -> (u => ann.GroupedKMeans.partitionIvfTopK(sp, sf, u, K)),
      "hierarchyTopK" -> (u => Hierarchy.hierarchyTopK(sp, sf, u, K)),
      "dagTopK" -> (u => Hierarchy.dagTopK(sp, sf, u, K)),
      "qdTreeRoutedTopK" -> (u => ann.QdTree.routedTopK(sp, sf, u, K)))
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

  test("routed partition ids and keys are equal on both grant paths") {
    val sp = spark
    val users = (0L to 20L) :+ 4321L // the last holds no role
    def routes(): Seq[(Seq[Integer], String)] = users.map(u =>
      (Partitioned.routedPartitionIds(sp, sf, u), ann.GraphSearch.routedPartitionKey(sp, sf, u)))
    val indexed = routes()
    assert(indexed == Rbac.withBroadcastGrants(routes()), "routing differs between grant paths")
    assert(indexed.init.forall(_._1.size == 1), s"a user with roles routes to one partition: $indexed")
    assert(indexed.last == ((Nil, "")), s"the role-less user routes nowhere: ${indexed.last}")
  }

  test("after a first touch, a serving call runs only its search jobs") {
    // the grant lookups, the role, partition and qd-tree leaf routing,
    // the query row, the role and comb layouts and the IVF list counts
    // run none, so every serve_2k strategy, B21's per-role IVF top-k
    // and the greedy qd-tree run exactly their search job
    val routed = Set("prefilterTopK", "postfilterTopK", "rlsTopK", "dynamicPartitionTopK",
      "rolePartitionTopK", "combPartitionTopK", "prefilterPruned", "predicateAwareSearch",
      "partitionIvfTopK", "qdTreeRoutedTopK")
    val sp = spark
    for ((name, f) <- strategies if routed(name)) {
      f(3L).collect() // first touch: layouts, indexes, the grant index
      val jobs = jobsOf(sp)(f(5L).collect())
      assert(jobs.size == 1, s"$name: ${jobs.size} jobs: $jobs")
    }
  }

  test("a user's comb key and routed partition equal their frame-side derivations") {
    val sp = spark
    val users = (0L to 40L) :+ 4321L // the last holds no role
    val combOf = Rbac.userCombsFrom(Rbac.userRoles(sp, sf))
      .filter(col("user_id") <= 40L)
    val keys = combOf.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val parts = combOf.join(Partitioned.costModelLayout(sp, sf), "comb_key")
      .select("user_id", "partition_id").collect()
      .map(r => r.getLong(0) -> Seq[Integer](r.getInt(1))).toMap
    assert(keys.size == 41 && parts.size == 41, s"frame-side combs: $keys $parts")
    def check(path: String): Unit = for (u <- users) {
      assert(Rbac.heldCombKey(sp, sf, u) == keys.getOrElse(u, ""), s"$path user $u: comb key")
      assert(Partitioned.routedPartitionIds(sp, sf, u) == parts.getOrElse(u, Nil),
        s"$path user $u: routed partition")
    }
    check("index")
    Rbac.withBroadcastGrants(check("broadcast"))
  }

  test("held roles and routed keys bind as one InSet: a new comb compiles no code") {
    // user u holds roles u % 10 and (3u + 1) % 10: users 0-9 but 7
    // (which shares user 2's {2,7}) hold the 9 combs, user 11 one of them
    val sp = spark
    val binders: Seq[Long => DataFrame] = Seq(
      u => Partitioned.rolePartitionTopK(sp, sf, u, K),
      u => ann.QdTree.routedTopK(sp, sf, u, K),
      u => Partitioned.combPartitionTopK(sp, sf, u, K),
      u => Rbac.prefilterTopK(sp, sf, u, K))
    binders.foreach(f => f(11L).collect()) // warm: layouts, indexes, generated code
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    for (f <- binders; u <- Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L)) f(u).collect()
    assert(compiles.getCount == before, s"${compiles.getCount - before} compiles over 9 combs")
  }

  test("with AQE off, the partitioned merges and the comb lookup plan no shuffle Exchange") {
    val sp = spark
    val plans: Seq[(String, () => DataFrame)] = Seq(
      "rolePartitionTopK" -> (() => Partitioned.rolePartitionTopK(sp, sf, 5L, K)),
      "prefilterPruned" -> (() => sources.Layouts.prefilterPruned(sp, sf, 5L, K)),
      "partitionIvfTopK" -> (() => ann.GroupedKMeans.partitionIvfTopK(sp, sf, 5L, K)),
      "combPartitionTopK" -> (() => Partitioned.combPartitionTopK(sp, sf, 5L, K)))
    val prev = sp.conf.get("spark.sql.adaptive.enabled")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try for ((name, f) <- plans) {
      val plan = f().queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"$name: ${shuffles.size} shuffle Exchanges in\n$plan")
    } finally sp.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("restrict binds a user's docs as an InSet only up to InSetIdsMax ids") {
    val max = Rbac.InSetIdsMax
    // role 0 grants max docs, role 1 one doc more than that; user 1
    // holds role 0, user 2 role 1, user 3 both (max + 1 distinct docs)
    val ix = new Rbac.GrantIndex(
      Map(1L -> Array(0L), 2L -> Array(1L), 3L -> Array(0L, 1L)),
      Map(0L -> (0L until max.toLong).toArray, 1L -> (1L to max.toLong).toArray))
    assert(ix.inSetOf(1L).map(_.size).contains(max), "a user of InSetIdsMax docs takes the InSet")
    assert(ix.inSetOf(2L).map(_.size).contains(max))
    assert(ix.inSetOf(3L).isEmpty, "a user past InSetIdsMax docs takes the broadcast semi-join")
    assert(ix.inSetOf(4L).contains(Nil), "a role-less user binds an empty InSet")
    // at the test scale every user takes the InSet branch: an InSet
    // filter and no grant semi-join
    val sp = spark
    val plan = Rbac.restrict(Rbac.blocks(sp, sf), sp, sf, 7L)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("INSET") && !plan.contains("LeftSemi"), plan)
  }

  test("a partition-graph call resolves its routed partition set once") {
    // on the broadcast path every routing read is a role collect, so
    // the walk's reads show as jobs: one routing collect, the grant
    // side of the merge filter, and the walk's cached top-k
    val sp = spark
    Rbac.withBroadcastGrants {
      ann.GraphSearch.partitionGraphTopK(sp, sf, 1L).collect() // builds graph and walk
      val jobs = jobsOf(sp)(ann.GraphSearch.partitionGraphTopK(sp, sf, 1L).collect())
      val routing = jobsOf(sp)(Rbac.heldRoleIds(sp, sf, 1L))
      assert(routing.size == 1, s"a routing read on the broadcast path: $routing")
      assert(jobs.size <= 6, s"${jobs.size} jobs: $jobs")
    }
  }
}
