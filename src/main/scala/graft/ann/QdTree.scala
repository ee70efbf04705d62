package graft.ann

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.rbac.{Maintenance, Rbac}

/** Greedy qd-tree CONSTRUCTION — the split-selection half of the HQI
  * baseline the flat layout (IvfIndex.qdTreeAssign) deliberately skips.
  *
  * Reference: qd_tree.py:420 `find_best_split` + :508 `build_qd_tree` —
  * recursively pick, per node, the predicate (role=r membership vs
  * centroid=c k-means refinement) that minimizes the number of workload
  * queries forced to visit BOTH children (tie-break: the more balanced
  * split, then predicate order), stopping on min-partition-size /
  * depth, with each predicate used at most once per root-to-leaf path.
  *
  * Spark-first re-expression: every predicate evaluates identically on
  * all blocks sharing a (granting-role-set, k-means-cell) pair, so the
  * tree over N blocks IS a tree over the ≤ |combs|·|cells| GROUP-STATS
  * rows, weighted by group block counts — the same collapse that makes
  * A17 a closed-form job. Each level is one DataFrame pass: candidate
  * (node × predicate) split scores and workload overlap costs are
  * aggregates over the groups frame; only the chosen splits (≤ #nodes
  * rows of index metadata, like the IVF centroid set) ever reach the
  * driver. At 100 TB the groups frame is the (comb × cell) statistics
  * sidecar of the partitioned layout; blocks are touched exactly once,
  * at final leaf assignment.
  *
  * Routing stays LOSSLESS via the per-leaf role index (the reference
  * builds the same index: qd_tree.py `gather_role_accessible_partitions`
  * / `_QD_TREE_ROLE_INDEX`): a leaf is scanned iff it holds ≥1 group
  * whose granting set intersects the user's roles, and the permission
  * filter inside the scan makes the result exactly the prefilter answer
  * (shared oracle) — while the greedy stops splitting where the flat
  * form would keep multiplying leaves.
  */
object QdTree {

  /** One chosen split: ptype 0 = role membership, 1 = centroid. */
  final case class Split(node: Long, ptype: Int, pval: Long)

  final case class Tree(
      assign: DataFrame, // (comb_key, roles, cell, leaf_id, n_blocks)
      splits: Seq[Split],
      nLeaves: Int)

  // session-scoped: Tree.assign is a persisted frame bound to one
  // SparkContext (SessionCache evicts entries of dead applications)
  private val cache = new graft.SessionCache[(String, Int, Long, Int, Int), Tree]

  /** Doc groups that move together under every predicate:
    * (comb_key, roles, cell, n_blocks), cell from the same IVF index
    * the flat layout uses.
    */
  private def groupStats(spark: SparkSession, dir: String, cells: Int): DataFrame = {
    val combs = graft.rbac.Partitioned.combRoleSets(spark, dir)
    IvfIndex.withCells(spark, dir, cells)
      .select(col("vec_id").as("document_id"), col("cell"))
      .join(combs, "document_id")
      .groupBy("comb_key", "cell")
      .agg(first(col("roles")).as("roles"), count(lit(1)).as("n_blocks"))
  }

  /** Workload as distinct (query_id, query-role-set) rows — the
    * queries `evaluate_split_cost` counts overlap over.
    */
  private def workloadRoles(spark: SparkSession, dir: String): DataFrame =
    Maintenance.workloadGen(spark, dir)
      .select("query_id", "user_id")
      .join(Rbac.userRoles(spark, dir), "user_id")
      .groupBy("query_id")
      .agg(Rbac.roleSet.as("qroles"))

  /** Build (or fetch) the greedy tree. `minLeaf` = the reference's
    * min_partition_size (both children must keep ≥ minLeaf blocks and
    * nodes at ≤ minLeaf blocks stop splitting); `leafBudget` caps the
    * leaf count outright — when a level's worth of splits would blow
    * the budget, the largest nodes split first (the split that relieves
    * the most scan volume), the rest freeze.
    */
  def getOrBuild(spark: SparkSession, dir: String, cells: Int = 8,
                 minLeaf: Long = 8L, maxDepth: Int = 8,
                 leafBudget: Int = 24): Tree =
    cache.getOrElseUpdate(spark, (dir, cells, minLeaf, maxDepth, leafBudget)) {
      build(spark, dir, cells, minLeaf, maxDepth, leafBudget)
    }

  private def build(spark: SparkSession, dir: String, cells: Int,
                    minLeaf: Long, maxDepth: Int, leafBudget: Int): Tree = {
    val roleVals = Rbac.permissions(spark, dir)
      .select("role_id").distinct().collect().map(_.getLong(0)).sorted
    // predicate order = generate_predicates: roles ascending, then
    // centroids ascending — the tie-break order of the reference loop
    val allPreds: Seq[(Int, Long, Int)] = // (ptype, pval, pord)
      roleVals.zipWithIndex.map { case (r, i) => (0, r, i) }.toSeq ++
        (0 until cells).map(c => (1, c.toLong, roleVals.length + c))

    val wl = broadcast(workloadRoles(spark, dir))
    var groups = groupStats(spark, dir, cells).withColumn("node", lit(0L))
      .persist()
    groups.count()

    val chosen = scala.collection.mutable.ArrayBuffer.empty[Split]
    val usedOnPath = scala.collection.mutable.Map(0L -> Set.empty[(Int, Long)])
    var nLeaves = 1
    // node block totals are derivable from the chosen splits' own
    // (left_n, right_n) — no per-level aggregation job needed; frozen =
    // nodes that produced no valid split (their candidates and data
    // never change, so they never will)
    val totals = scala.collection.mutable.Map(
      0L -> groups.agg(sum("n_blocks")).head().getLong(0))
    val frozen = scala.collection.mutable.Set.empty[Long]

    var depth = 0
    var done = false
    while (depth < maxDepth && !done && nLeaves < leafBudget) {
      // (budget check up front: scoring a level only to discard every
      // split because room == 0 would waste the most expensive job)
      val splittable = totals
        .filter { case (n, t) => t > minLeaf && !frozen(n) }.keys.toSeq.sorted
      // candidate (node, predicate) pairs: each predicate at most once
      // per root-to-leaf path (remaining_preds in build_qd_tree)
      val cand = splittable.flatMap { n =>
        allPreds.filterNot(p => usedOnPath(n).contains((p._1, p._2)))
          .map { case (pt, pv, po) => (n, pt, pv, po) }
      }
      if (cand.isEmpty) done = true
      else {
        val candDf = broadcast(spark.createDataFrame(cand)
          .toDF("node", "ptype", "pval", "pord"))
        val gp = groups.join(candDf, "node")
          .withColumn("goes_left",
            when(col("ptype") === 0, array_contains(col("roles"), col("pval")))
              .otherwise(col("cell") === col("pval")))
        // ONE two-level aggregation scores every candidate: level 1 at
        // (node, pred, query) granularity carries the overlap bits AND
        // the split sizes (sizes are query-invariant, so max() recovers
        // them at level 2) — no separate sizes job, no join. Size guard
        // = find_best_split's min-size check; overlap =
        // evaluate_split_cost's both-sides query count.
        val scored = gp.crossJoin(wl)
          .withColumn("qacc", arrays_overlap(col("roles"), col("qroles")))
          .groupBy("node", "ptype", "pval", "pord", "query_id")
          .agg(
            max(when(col("goes_left") && col("qacc"), 1L).otherwise(0L)).as("lneed"),
            max(when(!col("goes_left") && col("qacc"), 1L).otherwise(0L)).as("rneed"),
            sum(when(col("goes_left"), col("n_blocks")).otherwise(lit(0L))).as("left_nq"),
            sum(col("n_blocks")).as("tot_nq"))
          .groupBy("node", "ptype", "pval", "pord")
          .agg(
            sum(col("lneed") * col("rneed")).as("overlap"),
            max(col("left_nq")).as("left_n"),
            max(col("tot_nq")).as("tot_n"))
          .withColumn("right_n", col("tot_n") - col("left_n"))
          .filter(col("left_n") >= minLeaf && col("right_n") >= minLeaf)
        // best predicate per node: min overlap, then balance, then order
        val best = scored
          .withColumn("balance",
            lit(1.0) - abs(lit(0.5) - col("left_n").cast("double") / col("tot_n")))
          .withColumn("rk", row_number().over(Window.partitionBy("node")
            .orderBy(col("overlap"), col("balance").desc, col("pord"))))
          .filter(col("rk") === 1)
          .select("node", "ptype", "pval", "left_n", "right_n")
          .collect().map(r =>
            (Split(r.getLong(0), r.getInt(1), r.getLong(2)), r.getLong(3), r.getLong(4)))
        frozen ++= splittable.toSet -- best.map(_._1.node) // no valid split, ever
        // leaf budget: each split adds one leaf; biggest nodes first
        val room = leafBudget - nLeaves
        val take = best.sortBy { case (s, _, _) => (-totals(s.node), s.node) }.take(room)
        if (take.isEmpty) done = true
        else {
          chosen ++= take.map(_._1)
          nLeaves += take.length
          take.foreach { case (s, leftN, rightN) =>
            val u = usedOnPath(s.node) + ((s.ptype, s.pval))
            usedOnPath(s.node * 2 + 1) = u
            usedOnPath(s.node * 2 + 2) = u
            totals -= s.node
            totals(s.node * 2 + 1) = leftN
            totals(s.node * 2 + 2) = rightN
          }
          val splitDf = broadcast(spark.createDataFrame(
            take.toSeq.map { case (s, _, _) => (s.node, s.ptype, s.pval) })
            .toDF("node", "sptype", "spval"))
          val next = groups.join(splitDf, Seq("node"), "left")
            .withColumn("node",
              when(col("sptype").isNull, col("node"))
                .when(
                  when(col("sptype") === 0, array_contains(col("roles"), col("spval")))
                    .otherwise(col("cell") === col("spval")),
                  col("node") * 2 + 1)
                .otherwise(col("node") * 2 + 2))
            .drop("sptype", "spval")
            .persist()
          next.count()
          groups.unpersist()
          groups = next
          depth += 1
        }
      }
    }
    Tree(groups.withColumnRenamed("node", "leaf_id"), chosen.toSeq, nLeaves)
  }

  /** Oracle sidecar frame: the chosen splits (node, ptype, pval) —
    * the oracle re-routes every (comb, cell) group through the tree
    * independently and checks the leaf contents. The greedy CHOICE of
    * splits stays spec-territory (QdTreeGreedySpec), same stance as
    * the k-means fits behind the IVF replays.
    */
  def splitFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    getOrBuild(spark, dir).splits
      .map(s => (s.node, s.ptype, s.pval))
      .toDF("node", "ptype", "pval")
  }

  /** Leaf report — the build observable (leaf sizes). */
  def leafReport(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir).assign
      .groupBy("leaf_id")
      .agg(count(lit(1)).as("n_groups"), sum("n_blocks").as("n_blocks"))
      .orderBy("leaf_id")

  /** Routed top-k over the greedy tree: scan only leaves whose role
    * index intersects the user's roles (partition pruning at scale),
    * permission-filter inside the scan, exact top-k — equals the
    * prefilter answer (shared oracle), like B10 but over the greedy
    * leaves instead of the fully-split flat form.
    */
  def routedTopK(spark: SparkSession, dir: String, userId: Long,
                 topk: Int = 10): DataFrame = {
    val tree = getOrBuild(spark, dir)
    // per-leaf role index ∩ user roles → relevant leaves → the
    // (comb, cell) partitions to scan (index metadata, broadcast); the
    // user's roles come from the grant index, else a broadcast join
    val leafRoles = tree.assign
      .select(col("leaf_id"), explode(col("roles")).as("role_id")).distinct()
    val relevantLeaves = (Rbac.grantIndex(spark, dir) match {
      case Some(ix) => leafRoles.filter(col("role_id").isin(ix.rolesOf(userId): _*))
      case None => leafRoles.join(broadcast(Rbac.rolesOf(spark, dir, userId)), "role_id")
    }).select("leaf_id").distinct()
    val routedParts = tree.assign
      .join(broadcast(relevantLeaves), Seq("leaf_id"), "left_semi")
      .select("comb_key", "cell")
    val idx = IvfIndex.getOrBuild(spark, dir, 8)
    val routed = Rbac.blocks(spark, dir)
      .join(graft.rbac.Partitioned.combKeys(spark, dir), "document_id")
      .withColumn("cell", graft.functions.vector.nearest_centroid(col("embedding"), idx.centroids))
      .join(broadcast(routedParts), Seq("comb_key", "cell"), "left_semi") // leaf routing
    Ann.firstK(Ann.scored(Rbac.restrict(routed, spark, dir, userId), // permission filter
      Ann.queryArray(spark, dir, 0)), topk, "block_id")
      .select("block_id", "document_id")
  }
}
