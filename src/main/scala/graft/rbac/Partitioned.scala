package graft.rbac

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.vector._
import graft.operators.TopKAgg.topk_ids

/** The reference's partitioned physical layouts, re-expressed as
  * DataFrame partitionings (SURVEY.md §2 A5–A8, A10).
  *
  * The reference materializes real PostgreSQL tables per layout
  * (controller/baseline/prefilter/initialize_partitions.py) and picks
  * which tables to scan at query time. Here each layout is a
  * deterministic `partition_id` derivation — at scale these become
  * partitioned-parquet write keys and the query-time routing becomes
  * file pruning; semantics below are identical either way.
  */
object Partitioned {

  /** Role layout: a block lives in the partition of EVERY role granting
    * its document (duplication factor = grants per doc), mirroring
    * `documentblocks_role_%` tables (initialize_partitions.py:350).
    */
  def roleLayout(spark: SparkSession, dir: String): DataFrame =
    Rbac.blocks(spark, dir)
      .join(Rbac.permissions(spark, dir), "document_id")
      .select(col("role_id").as("partition_role"), col("block_id"),
        col("document_id"), col("embedding"))

  /** A5: search the user's role partitions, merge, dedup by block,
    * re-rank, top-k (prefilter_role.py). Same answer as prefilter —
    * through the partitioned plan.
    */
  def rolePartitionTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame = {
    val ur = Rbac.userRoles(spark, dir).filter(col("user_id") === userId)
      .select(col("role_id").as("partition_role"))
    roleLayout(spark, dir)
      .join(broadcast(ur), Seq("partition_role"), "left_semi") // partition prune
      .crossJoin(broadcast(Rbac.queryVector(spark, dir)))
      .withColumn("dist", l2_dist(col("embedding"), col("qvec")))
      // merge-dedup: a block granted via 2 user roles sits in 2 role
      // partitions with IDENTICAL distance — dedup the slim
      // (block_id, document_id, dist) rows (map-side combined), never
      // keying an Exchange on the 64-float embedding array
      .groupBy("block_id", "document_id")
      .agg(min("dist").as("dist"))
      .orderBy(col("dist"), col("block_id"))
      .limit(k)
      .select("block_id", "document_id")
  }

  /** DOC-side granting-role sets, array + key forms — THE single
    * definition of a document's combination (the array feeds predicate
    * evaluation in the qd-tree build, the key is the partition id).
    */
  def combRoleSets(spark: SparkSession, dir: String): DataFrame =
    Rbac.permissions(spark, dir)
      .groupBy("document_id")
      .agg(sort_array(collect_set(col("role_id"))).as("roles"))
      .withColumn("comb_key", concat_ws(",", col("roles")))

  /** Combination key of a document: its full sorted granting-role set
    * (initialize_combination_role_partition_tables.py) — each doc lives
    * in exactly ONE combination partition (no duplication).
    */
  def combKeys(spark: SparkSession, dir: String): DataFrame =
    combRoleSets(spark, dir).select("document_id", "comb_key")

  /** A6: combination-partition search: route to the partitions whose
    * role-set intersects the user's roles, scan only those, top-k.
    *
    * r17 restructure (guide §3/§8; result row-identical, oracle-pinned):
    * a partition's comb_key IS its docs' granting role set, so "comb
    * intersects the user's roles" ⟺ "the doc is granted by ≥1 user
    * role" — the routing collapses to ONE broadcast semi-join of the
    * block scan against the user's permission rows. The old plan
    * aggregated comb_key over the WHOLE permission table and equi-
    * joined it onto the block scan — an Exchange carrying the
    * embedding arrays (the §8 payload-shuffle smell) plus two corpus-
    * wide aggregates, all to label rows of which only k survive the
    * TakeOrdered. comb_key is now attached AFTER the top-k, by a slim
    * per-doc aggregate over the routed docs' permission rows, with the
    * bounded k-row side broadcast. Plan (plans/r17 before/after dumps):
    * the shuffle Exchange count is unchanged — 4 outside the cached
    * role tables (6 counting the 2 inside them) both before and after.
    * What changed is what they carry: the two corpus-wide comb_key
    * collect_set aggregates are gone; the 4 now shuffle the routed-doc
    * distinct (twice — the same subtree feeds the prune and the key
    * attach), the routed docs' comb aggregate, and the k-row final
    * sort. In those sf0.1 dumps no Exchange carries an embedding array
    * before or after: the old equi-join broadcast its comb side there.
    */
  def combPartitionTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame = {
    val userRoleSet = Rbac.userRoles(spark, dir)
      .filter(col("user_id") === userId).select("role_id")
    // docs in a user-relevant comb == docs granted by ≥1 user role
    val routedDocs = Rbac.permissions(spark, dir)
      .join(broadcast(userRoleSet), "role_id")
      .select("document_id").distinct()
    val top = Rbac.blocks(spark, dir)
      .join(broadcast(routedDocs), Seq("document_id"), "left_semi") // prune
      .crossJoin(broadcast(Rbac.queryVector(spark, dir)))
      .withColumn("dist", l2_dist(col("embedding"), col("qvec")))
      .orderBy(col("dist"), col("block_id"))
      .limit(k)
      .select("block_id", "document_id", "dist")
    // comb_key of the routed docs only (slim (doc, role) rows — the
    // corpus-wide combKeys aggregate is gone from this path)
    val routedKeys = Rbac.permissions(spark, dir)
      .join(broadcast(routedDocs), Seq("document_id"), "left_semi")
      .groupBy("document_id")
      .agg(concat_ws(",", sort_array(collect_set(col("role_id")))).as("comb_key"))
    routedKeys.join(broadcast(top), "document_id")
      .orderBy(col("dist"), col("block_id"))
      .select("block_id", "document_id", "comb_key")
  }

  /** Hash layout: comb-key-hashed partition id, engine-portable (ascii
    * of first md5 hex char, mod nParts). Kept as the load-refinement
    * substrate for A14 (heavy_partition_refine); A7 routing now runs on
    * the cost-model layout below.
    */
  def dynamicLayout(spark: SparkSession, dir: String, nParts: Int): DataFrame =
    combKeys(spark, dir)
      .withColumn("partition_id",
        ascii(substring(md5(col("comb_key")), 1, 1)) % nParts)

  /** USER role combinations (user-side, ≤ #role-pairs — distinct from
    * `combKeys` which is the DOC-side granting-set signature): each
    * user's sorted role set, the unit the reference's cost model
    * assigns to partitions (init_user_role_combination_data,
    * AnonySys_dynamic_partition.py:38).
    */
  def userCombs(spark: SparkSession, dir: String): DataFrame =
    userCombsFrom(Rbac.userRoles(spark, dir))

  /** Same, from an explicit (user_id, role_id) frame — the hierarchy
    * layout injects the closure-expanded roles here (Hierarchy
    * .costModelLayout); every downstream comb derivation follows.
    */
  private[rbac] def userCombsFrom(ur: DataFrame): DataFrame =
    ur.groupBy("user_id")
      .agg(concat_ws(",", sort_array(collect_set(col("role_id")))).as("comb_key"))

  /** USER-side (comb_key, role_id) pairs of every user role-comb. */
  def combRoles(spark: SparkSession, dir: String): DataFrame =
    combRolesFrom(Rbac.userRoles(spark, dir))

  private[rbac] def combRolesFrom(ur: DataFrame): DataFrame =
    ur.join(userCombsFrom(ur), "user_id")
      .select("comb_key", "role_id").distinct()

  /** (comb_key, document_id): the docs a user-comb can access — ONE
    * derivation shared by the cost-model layout build, the routed
    * search's partition doc sets, and the calibration validation, so
    * the comb definition cannot drift between the model and its
    * measurement.
    */
  def combAccessibleDocs(spark: SparkSession, dir: String): DataFrame =
    combAccessibleDocsFrom(spark, dir, Rbac.userRoles(spark, dir))

  private[rbac] def combAccessibleDocsFrom(spark: SparkSession, dir: String,
                                           ur: DataFrame): DataFrame =
    combRolesFrom(ur)
      .join(Rbac.permissions(spark, dir), "role_id")
      .select("comb_key", "document_id").distinct()

  /** A17: cost-model dynamic partition assignment — the reference's
    * research contribution (AnonySys_dynamic_partition.py), as a batch
    * Spark job with a deterministic, DuckDB-replayable result.
    *
    *  - role weights FROM THE QUERY WORKLOAD (:69
    *    calculate_role_weights_from_queries): weight(comb) = Σ over
    *    workload queries by the comb's users of the user's block
    *    selectivity (= n_docs(comb)/N — users of a comb share it);
    *  - query-cost model (:114 compute_query_time): a comb scanning a
    *    partition of n docs costs weight·log(n)·(a·ef+b), so splitting
    *    comb c out of the shared partition (N docs) into its own
    *    (n_docs(c)) saves weight·(log N − log n_docs) at a storage cost
    *    of n_docs — the greedy split order (:425 split_comb_roles pops
    *    the best delta-per-storage from a priority queue) becomes
    *    benefit = weight·(ln N − ln n_docs)/n_docs, descending;
    *  - storage budget (:440 `while Σ loads ≤ α·N`): dedicate
    *    partitions down the benefit ranking while the duplicated bytes
    *    fit, i.e. cumulative n_docs ≤ (α−1)·N; everything after shares
    *    partition 0 — the split/merge equilibrium the reference's loop
    *    converges to, computed here as one ranking + one running sum
    *    (two window functions — no iteration, same greedy order).
    */
  private val layoutCache = new graft.SessionFrameCache[(String, Double, Int)]

  def costModelLayout(spark: SparkSession, dir: String, alpha: Double = 2.0,
                      nQueries: Int = 20): DataFrame =
    // the layout is index metadata (≤ #combs rows), consumed by the
    // layout query, the routed search, and the space report — compute
    // once per (dir, α, workload) and persist, like the IVF caches
    layoutCache.getOrElseUpdate(spark, (dir, alpha, nQueries))(
      buildCostModelLayout(spark, dir, alpha, nQueries).persist())

  private def buildCostModelLayout(spark: SparkSession, dir: String, alpha: Double,
                                   nQueries: Int): DataFrame =
    buildCostModelLayoutFrom(spark, dir, Rbac.userRoles(spark, dir), alpha, nQueries)

  /** The layout build over an EXPLICIT (user_id, role_id) frame — the
    * flat path passes Rbac.userRoles; the hierarchy path passes the
    * closure-expanded roles, giving the SAME greedy model a
    * structurally different permission distribution to optimize.
    */
  private[graft] def buildCostModelLayoutFrom(spark: SparkSession, dir: String,
                                             ur: DataFrame, alpha: Double,
                                             nQueries: Int,
                                             rankSinglePartMax: Long = RankSinglePartMax): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = Rbac.blocks(spark, dir).select("document_id")
    val total = blocks.agg(count(lit(1)).as("n0"))
    val combDocs = combAccessibleDocsFrom(spark, dir, ur)
      .join(blocks, "document_id")
      .groupBy("comb_key").agg(countDistinct("document_id").as("n_docs"))
    val weights = Maintenance.workloadGen(spark, dir, nQueries)
      .select("user_id")
      .join(userCombsFrom(ur), "user_id")
      .groupBy("comb_key").agg(count(lit(1)).as("n_queries"))
    val scored = combDocs
      .join(weights, Seq("comb_key"), "left")
      .na.fill(0L, Seq("n_queries"))
      .crossJoin(broadcast(total))
      .withColumn("weight",
        round(col("n_queries") * col("n_docs") / col("n0").cast("double"), 4))
      // 6dp: coarse enough that a last-ulp ln() difference between
      // engines cannot flip the rounding, fine enough that distinct
      // combs never tie (their benefits differ in the 4th decimal)
      .withColumn("benefit",
        round(col("weight") * (log(col("n0")) - log(col("n_docs"))) / col("n_docs"), 6))
      .persist()
    // size-guarded global rank (r17, VERDICT r16 #3-residual): the
    // greedy order and its running doc sum are prefix computations
    // over the benefit-sorted comb table. Below the guard they stay
    // ONE unpartitioned window pass (the comb table is index metadata
    // — a few rows at the oracle SFs, and a 1-task sort is the
    // measured-faster plan for small frames, see the E8 rank
    // dispatch); above it the rank/prefix-sum pair is computed
    // range-partitioned (local ranks + per-slice offsets), so no
    // single task ever sorts an unbounded comb population. Both
    // branches are exact over the same total order (benefit desc,
    // comb_key) — LayoutRankDispatchSpec pins them row-identical.
    val nCombs = scored.count()
    val ranked =
      if (nCombs <= rankSinglePartMax) {
        val byBenefit = Window.orderBy(col("benefit").desc, col("comb_key"))
        scored
          .withColumn("rnk", row_number().over(byBenefit))
          .withColumn("cum", sum(col("n_docs")).over(
            byBenefit.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      } else {
        val parts = math.max(spark.sparkContext.defaultParallelism,
          (nCombs / 1048576L).toInt)
        val sliced = scored
          .repartitionByRange(parts, col("benefit").desc, col("comb_key"))
          .withColumn("__pid", spark_partition_id())
        val byLocal = Window.partitionBy("__pid")
          .orderBy(col("benefit").desc, col("comb_key"))
        val local = sliced
          .withColumn("lrn", row_number().over(byLocal))
          .withColumn("lcum", sum(col("n_docs")).over(
            byLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val offsets = local.groupBy("__pid")
          .agg(count(lit(1)).as("cnt"), sum("n_docs").as("docsum"))
          .withColumn("rnk_off", coalesce(sum("cnt").over(
            Window.orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("cum_off", coalesce(sum("docsum").over(
            Window.orderBy("__pid")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("__pid").as("__opid"), col("rnk_off"), col("cum_off"))
        local.join(broadcast(offsets), col("__pid") === col("__opid"))
          .withColumn("rnk", (col("rnk_off") + col("lrn")).cast("int"))
          .withColumn("cum", col("cum_off") + col("lcum"))
      }
    val out = ranked
      .withColumn("partition_id",
        when(col("benefit") > 0 && col("cum") <= (lit(alpha) - 1) * col("n0"),
          col("rnk")).otherwise(lit(0)))
      .select("comb_key", "weight", "n_docs", "partition_id")
      .orderBy("comb_key")
      .persist()
    out.count()
    scored.unpersist()
    out
  }

  /** Single-partition ceiling for the benefit rank — a ~1M-row 1-task
    * sort is sub-second; past it the range-partitioned prefix form
    * takes over. Overridable only by the dispatch-equality spec.
    */
  private[graft] val RankSinglePartMax: Long = 1048576L

  /** A7: dynamic-partition search over the COST-MODEL layout
    * (search.py:31): the user's role combination routes to its
    * partition (dedicated if split, else the shared partition 0); only
    * that partition's doc set is scanned; permission filter at merge
    * time (merge_results_with_filter, search.py:114). Exact: a split
    * comb's partition holds exactly its accessible docs, and partition
    * 0 holds every unsplit comb's docs.
    */
  /** (partition_id, document_id) doc sets of the cost-model layout —
    * docs duplicated across partitions: the storage the α budget pays
    * for. Shared by the routed search and the space report.
    */
  def costModelPartitionDocs(spark: SparkSession, dir: String,
                             alpha: Double = 2.0, nQueries: Int = 20): DataFrame =
    combAccessibleDocs(spark, dir)
      .join(costModelLayout(spark, dir, alpha, nQueries).select("comb_key", "partition_id"),
        "comb_key")
      .select("partition_id", "document_id").distinct()

  /** The user's routed partition ids — bounded driver metadata (the
    * comb maps to one partition; like prunedRoleSearch's role ids).
    * ONE definition shared by A7's routed scan, A21's per-partition
    * graph serving, and their specs.
    */
  def routedPartitionIds(spark: SparkSession, dir: String, userId: Long,
                         alpha: Double = 2.0): Seq[Integer] =
    costModelLayout(spark, dir, alpha)
      .join(userCombs(spark, dir).filter(col("user_id") === userId), "comb_key")
      .select("partition_id").distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq

  def dynamicPartitionTopK(spark: SparkSession, dir: String, userId: Long, k: Int,
                           alpha: Double = 2.0): DataFrame = {
    // The reference materializes each dynamic partition as its own
    // TABLE and scans only the routed one (search.py:31); the
    // Spark-native equivalent is the materialized `partition_id=`
    // parquet layout + directory pruning — the partition doc sets
    // never enter the query plan (the SHARED partition 0 is a large
    // corpus fraction by construction, far beyond broadcast bounds).
    // The only driver-side state is the routed partition id(s): the
    // user's comb maps to one partition — tiny index metadata, like
    // prunedRoleSearch's role ids.
    val pids = routedPartitionIds(spark, dir, userId, alpha)
    val layoutPath = graft.sources.Layouts.costModelLayoutPath(spark, dir, alpha)
    // permission filter at merge time — the shared partition holds
    // blocks of other combs the user cannot read; the per-user doc set
    // is bounded by the prefilter family's documented assumption
    val acc = Rbac.accessibleDocs(spark, dir, userId)
    Tables.parquet(spark, layoutPath)
      .filter(col("partition_id").isin(pids: _*)) // directory pruning
      .crossJoin(broadcast(Rbac.queryVector(spark, dir)))
      .withColumn("dist", l2_dist(col("embedding"), col("qvec")))
      .join(broadcast(acc), Seq("document_id"), "left_semi")
      .orderBy(col("dist"), col("block_id"))
      .limit(k)
      .select(col("block_id"), col("document_id"),
        col("partition_id").cast("int").as("partition_id"))
  }

  /** Per-user layout (initialize_partitions.py:103
    * initialize_user_partitions, `documentblocks_user_%`): one
    * partition per user holding exactly that user's accessible blocks —
    * the paper's strawman layout: zero query-time filtering, maximal
    * duplication (storage ∝ Σ per-user selectivity, which is why it
    * only ever materializes a bounded user set).
    */
  def userLayout(spark: SparkSession, dir: String, maxUsers: Int = 32): DataFrame = {
    val ud = Rbac.userRoles(spark, dir)
      .filter(col("user_id") <= maxUsers)
      .join(Rbac.permissions(spark, dir), "role_id")
      .select("user_id", "document_id").distinct()
    Rbac.blocks(spark, dir)
      .join(ud, "document_id")
      .select(col("user_id").as("partition_user"), col("block_id"),
        col("document_id"), col("embedding"))
  }

  /** A18: per-user-partition search — scan ONLY the user's partition;
    * no permission work at query time (the layout prepaid it). At scale
    * the partition_user filter is parquet directory pruning.
    */
  def userPartitionTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame =
    userLayout(spark, dir)
      .filter(col("partition_user") === userId)
      .crossJoin(broadcast(Rbac.queryVector(spark, dir)))
      .withColumn("dist", l2_dist(col("embedding"), col("qvec")))
      .orderBy(col("dist"), col("block_id"))
      .limit(k)
      .select("block_id", "document_id")

  /** A8: batch ground truth (compute_ground_truth.py): exact top-k per
    * (user u, query vector u-1) pair for users 1..nUsers, in ONE
    * distributed pass — queries and grants broadcast, corpus scanned
    * once, per-user bounded heaps, shuffle = nUsers × k rows.
    */
  def batchGroundTruth(spark: SparkSession, dir: String, nUsers: Int, k: Int): DataFrame = {
    val users = Rbac.userRoles(spark, dir)
      .filter(col("user_id") <= nUsers)
    val userDocs = users.join(Rbac.permissions(spark, dir), "role_id")
      .select("user_id", "document_id").distinct()
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nUsers)
      .select((col("vec_id") + 1).as("user_id"), col("embedding").as("qvec"))
    Rbac.blocks(spark, dir)
      .join(userDocs, "document_id") // expand: block × users allowed to see it
      .join(broadcast(queries), "user_id")
      .groupBy("user_id")
      .agg(topk_ids(l2_dist(col("embedding"), col("qvec")), col("block_id"), k).as("ids"))
      .select(col("user_id"), explode(col("ids")).as("block_id"))
      .orderBy("user_id", "block_id")
  }

  /** A16: recall@k report — the reference's headline quality metric
    * (basic_benchmark/test_all.py reports recall + latency per
    * strategy). Here: recall of the POST-filter strategy (global
    * over-fetch k×10, then permission filter, then k) against the exact
    * pre-filtered ground truth, per user, one distributed pass for all
    * users.
    */
  def recallReport(spark: SparkSession, dir: String, nUsers: Int = 8, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = batchGroundTruth(spark, dir, nUsers, k)
      .withColumnRenamed("block_id", "exact_block")
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nUsers)
      .select((col("vec_id") + 1).as("user_id"), col("embedding").as("qvec"))
    // global (permission-blind) over-fetch, ranked
    val cand = Rbac.blocks(spark, dir)
      .crossJoin(broadcast(queries))
      .groupBy("user_id")
      .agg(topk_ids(l2_dist(col("embedding"), col("qvec")), col("block_id"), k * 10).as("ids"))
      .select(col("user_id"), posexplode(col("ids")))
      .withColumnRenamed("pos", "rank").withColumnRenamed("col", "block_id")
    val userDocs = Rbac.userRoles(spark, dir)
      .filter(col("user_id") <= nUsers)
      .join(Rbac.permissions(spark, dir), "role_id")
      .select("user_id", "document_id").distinct()
    val approx = cand
      .join(userDocs,
        cand("user_id") === userDocs("user_id") &&
          cand("block_id") === userDocs("document_id"))
      .select(cand("user_id"), col("block_id"), col("rank"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy("rank")))
      .filter(col("rn") <= k)
      .select(col("user_id"), col("block_id").as("approx_block"))
    exact
      .join(approx,
        exact("user_id") === approx("user_id") &&
          col("exact_block") === col("approx_block"), "left")
      .groupBy(exact("user_id"))
      .agg(round(count(col("approx_block")).cast("double") / k, 4).as("recall"))
      .orderBy("user_id")
  }

  /** A10: storage accounting per layout (space_calculate.py): row count
    * and estimated bytes (id/doc overhead + 4 bytes per dim), showing
    * the duplication cost of each physical design — including the two
    * deliberately duplicating ones (per-user = the strawman, cost-model
    * = the α-budgeted research layout).
    */
  def spaceReport(spark: SparkSession, dir: String): DataFrame = {
    val bytesPerBlock = lit(8L + 8L + 4L * 64L)
    val base = Rbac.blocks(spark, dir).select("block_id")
      .agg(count(lit(1)).as("n_rows")).withColumn("layout", lit("base"))
    val role = roleLayout(spark, dir).select("block_id")
      .agg(count(lit(1)).as("n_rows")).withColumn("layout", lit("role_partition"))
    val comb = combKeys(spark, dir)
      .agg(count(lit(1)).as("n_rows")).withColumn("layout", lit("comb_partition"))
    val user = userLayout(spark, dir).select("block_id")
      .agg(count(lit(1)).as("n_rows")).withColumn("layout", lit("user_partition"))
    val cost = costModelPartitionDocs(spark, dir)
      .agg(count(lit(1)).as("n_rows")).withColumn("layout", lit("costmodel_partition"))
    base.union(role).union(comb).union(user).union(cost)
      .select(col("layout"), col("n_rows"),
        (col("n_rows") * bytesPerBlock).as("est_bytes"))
      .orderBy("layout")
  }
}
