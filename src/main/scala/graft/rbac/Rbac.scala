package graft.rbac

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.ann.Ann

/** Permission-aware vector search — the reference's core capability.
  *
  * Reference schema (/root/reference/controller/initialize_main_tables.py):
  * Users, Roles, UserRoles(user_id, role_id), Documents,
  * documentblocks(block_id, document_id, vector),
  * PermissionAssignment(role_id, document_id).
  *
  * The testdata has no RBAC tables, so the entities are DERIVED
  * deterministically from `customer` / `documents` / `embeddings` with
  * arithmetic that the DuckDB oracle reproduces verbatim (SURVEY.md §3):
  *   - user u holds roles  u % 10  and  (u*3+1) % 10
  *   - role r grants doc d  iff  d % 10 == r  or  (d/10) % 10 == r
  *   - block b belongs to document b (1 block per document)
  *
  * One permission path: every strategy answers the same question — keep
  * the rows whose document the user may read, an EXISTS over
  * UserRoles ⋈ PermissionAssignment — and differs only in physical
  * layout. That question is answered here and nowhere else:
  *   - `rolesOf`: the user's role rows under a permission model (flat
  *     `userRoles`, or the tree/DAG effective roles of `Hierarchy`);
  *   - `restrict`: the one permission filter, a left-semi join of a
  *     frame's doc key against the user's grant rows;
  *   - `accessibleDocs`: the same grant rows as a DISTINCT doc set, for
  *     callers that want the set itself;
  *   - `accessiblePairs`: a small user set's (user_id, document_id) set;
  *   - `roleSet` / `combKey`: the one role-combination key.
  *
  * Architecture note (Spark-first, not a port): the reference prunes the
  * ANN scan with per-role PARTITION TABLES + per-table indexes
  * (controller/baseline/prefilter/initialize_partitions.py). On Spark the
  * same pruning is a BROADCAST SEMI-JOIN of the user's (small) grant
  * rows into the (100 TB) block scan — no data movement on the big side,
  * and the top-k is a TakeOrderedAndProject (per-partition bounded heap,
  * k rows shipped per partition), not a global sort.
  */
object Rbac {
  val NumRoles = 10

  /** A permission model: the (user_id, role_id) frame a user's grants
    * derive from — flat `userRoles`, `Hierarchy.effectiveUserRoles`
    * (role tree) or `Hierarchy.dagEffectiveUserRoles` (role DAG).
    */
  type RoleModel = (SparkSession, String) => DataFrame

  // UserRoles / PermissionAssignment are small DERIVED DIMENSION tables
  // consumed by nearly every RBAC query — persist once per dataset, the
  // way a warehouse pins its dimensions. The block table is NOT cached:
  // at 100 TB the fact side is always a fresh parquet scan and the
  // local plans should keep that shape.
  private val dimCache = new graft.SessionFrameCache[(String, String)]

  /** UserRoles(user_id, role_id) — every user holds exactly 1-2 roles. */
  def userRoles(spark: SparkSession, dir: String): DataFrame =
    dimCache.getOrElseUpdate(spark, ("ur", dir)) {
      val c = Tables.customer(spark, dir).select(col("c_custkey").as("user_id"))
      c.withColumn("role_id", col("user_id") % NumRoles)
        .union(c.withColumn("role_id", (col("user_id") * 3 + 1) % NumRoles))
        .distinct()
        .persist()
    }

  /** PermissionAssignment(role_id, document_id). */
  def permissions(spark: SparkSession, dir: String): DataFrame =
    dimCache.getOrElseUpdate(spark, ("perm", dir)) {
      val d = Tables.documents(spark, dir).select(col("doc_id").as("document_id"))
      d.withColumn("role_id", col("document_id") % NumRoles)
        .union(d.withColumn("role_id", expr("document_id div 10") % NumRoles))
        .distinct()
        .select("role_id", "document_id")
        .persist()
    }

  /** documentblocks(block_id, document_id, embedding). */
  def blocks(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id").as("block_id"),
      col("vec_id").as("document_id"),
      col("embedding"))

  /** The one query row: corpus vector `qid` as one row, `qvec` — by
    * default the fixed benchmark query (vec_id = 0). Every exact L2
    * search scores against it (`Ann.scored`).
    */
  def queryVector(spark: SparkSession, dir: String, qid: Long = 0): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === qid)
      .select(col("embedding").as("qvec"))

  /** The one user-role filter: (user_id, role_id) of `users` under `ur`
    * (a one-value IN plans as `user_id = u`). */
  private def heldRoles(spark: SparkSession, dir: String, users: Seq[Long],
                        ur: RoleModel): DataFrame =
    ur(spark, dir).filter(col("user_id").isin(users: _*))

  /** The user's `role_id` rows under the permission model `ur`. */
  def rolesOf(spark: SparkSession, dir: String, userId: Long,
              ur: RoleModel = userRoles): DataFrame =
    heldRoles(spark, dir, Seq(userId), ur).select("role_id")

  /** The one grant-rows body, (user_id, document_id): one row per (user,
    * held role, granted doc), so a doc granted by two of a user's roles
    * appears twice.
    */
  private def grants(spark: SparkSession, dir: String, users: Seq[Long],
                     ur: RoleModel): DataFrame =
    permissions(spark, dir)
      .join(broadcast(heldRoles(spark, dir, users, ur)), "role_id")
      .select("user_id", "document_id")

  /** The one permission filter: `df`'s rows whose `key` column names a
    * document the user may read — a left-semi join (EXISTS) against the
    * user's grant rows. A semi-join needs no DISTINCT on its build side,
    * so the grant rows join as they are. The two join policies:
    *   - default: the probe side is the corpus (the prefilter family) —
    *     the grant rows are BROADCAST and the corpus side never moves;
    *   - `walkBounded`: the probe side is bounded by a graph walk
    *     (seeds + rounds·ef·2gk rows by construction) — the join stays
    *     UNHINTED so AQE broadcasts whichever side is small; at 100 TB a
    *     high-selectivity user's grant rows would blow the 8 GB
    *     broadcast cap a forced hint pins them to.
    */
  def restrict(df: DataFrame, spark: SparkSession, dir: String, userId: Long,
               key: String = "document_id", ur: RoleModel = userRoles,
               walkBounded: Boolean = false): DataFrame = {
    val g = grants(spark, dir, Seq(userId), ur).select(col("document_id").as(key))
    df.join(if (walkBounded) g else broadcast(g), Seq(key), "left_semi")
  }

  /** Docs accessible to `userId` — prefilter step 1
    * (common_function.py:91: DISTINCT pa.document_id ⋈ UserRoles): the
    * grant rows as a set, for callers that want the set itself. Filters
    * go through `restrict`.
    */
  def accessibleDocs(spark: SparkSession, dir: String, userId: Long,
                     ur: RoleModel = userRoles): DataFrame =
    grants(spark, dir, Seq(userId), ur).select("document_id").distinct()

  /** The grant rows' many-user form: DISTINCT (user_id, document_id)
    * pairs of a small user set, for batch callers. */
  def accessiblePairs(spark: SparkSession, dir: String, users: Seq[Long]): DataFrame =
    grants(spark, dir, users, userRoles).distinct()

  /** A role set, as an aggregate: the group's sorted distinct role ids. */
  def roleSet: Column = sort_array(collect_set(col("role_id")))

  /** THE comb_key definition: a role set's ids, comma-joined — a doc's
    * granting set (`Partitioned.combRoleSets`) and a user's held set
    * (`userCombsFrom`) alike.
    */
  def combKey(roles: Column): Column = concat_ws(",", roles)

  /** (user_id, comb_key): each user's held role set in `ur` — the unit
    * the cost model assigns to partitions (AnonySys_dynamic_partition
    * .py:38) and users share a selectivity by.
    */
  def userCombsFrom(ur: DataFrame): DataFrame =
    ur.groupBy("user_id").agg(combKey(roleSet).as("comb_key"))

  /** USER-side (comb_key, role_id) pairs of every user comb of `ur`. */
  def combRolesFrom(ur: DataFrame): DataFrame =
    ur.join(userCombsFrom(ur), "user_id")
      .select("comb_key", "role_id").distinct()

  /** Pre-filtered exact L2 top-k (common_function.py:134) under the
    * permission model `ur`.
    * Plan at scale: parquet scan → broadcast semi-join on the grant rows
    * → codegen'd L2 → TakeOrderedAndProject (k rows per partition).
    */
  def prefilterTopK(spark: SparkSession, dir: String, userId: Long, k: Int,
                    ur: RoleModel = userRoles): DataFrame =
    Ann.firstK(Ann.scored(restrict(blocks(spark, dir), spark, dir, userId, ur = ur),
      queryVector(spark, dir)), k, "block_id")
      .select("block_id", "document_id")

  /** Post-filter: global ANN top-(overfetch*k) FIRST, then permission
    * filter, then k (the reference's postfilter baseline). May return
    * fewer than k rows when the over-fetch misses — semantics preserved.
    */
  def postfilterTopK(spark: SparkSession, dir: String, userId: Long, k: Int,
                     overfetch: Int = 10): DataFrame = {
    val candidates = Ann.firstK(Ann.scored(blocks(spark, dir), queryVector(spark, dir)),
      k * overfetch, "block_id")
    Ann.firstK(restrict(candidates, spark, dir, userId), k, "block_id")
      .select("block_id", "document_id")
  }

  /** Row-level-security flavor (row_level_security.py): the permission
    * predicate is evaluated per row of the scan — an EXISTS over
    * UserRoles⋈PermissionAssignment. On Spark that EXISTS plans as the
    * same left-semi join the prefilter applies, so this is the
    * prefilter's plan: same results, same operator.
    */
  def rlsTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame =
    prefilterTopK(spark, dir, userId, k)

  /** Per-user block selectivity (common_function.py's statistics) under
    * the permission model `ur`: accessible blocks / total blocks, the
    * metric the reference reports for every strategy.
    */
  def selectivityStats(spark: SparkSession, dir: String,
                       ur: RoleModel = userRoles): DataFrame = {
    val b = blocks(spark, dir).select("document_id")
    // total as a broadcast 1-row frame keeps the whole plan lazy and
    // cluster-side (no driver collect).
    val total = b.agg(count(lit(1)).as("total_blocks"))
    // Naive shape (reference-style, and what the DuckDB oracle runs):
    // expand user×role×doc then DISTINCT — 27M+ rows through a shuffle
    // at sf0.1, growing as users×docs. Users sharing a ROLE SET have
    // identical selectivity, so aggregate per distinct role-combination
    // (bounded by the role structure, 55 here) and join the per-combo
    // count back to users: O(combos × grants) instead of O(users × docs).
    val roleBlocks = permissions(spark, dir)
      .join(b, "document_id") // (role_id, document_id) actually backed by blocks
    val held = ur(spark, dir)
    // (comb_key, role_id) pairs → EQUI-join with the grant rows. An
    // array_contains formulation is a BroadcastNestedLoopJoin evaluating
    // |combos| predicates per grant row — the equi-join hashes once.
    val comboCounts = broadcast(combRolesFrom(held))
      .join(roleBlocks, "role_id")
      .groupBy("comb_key")
      .agg(countDistinct("document_id").as("accessible_blocks"))
    userCombsFrom(held)
      .join(broadcast(comboCounts), "comb_key")
      .crossJoin(broadcast(total))
      .select(col("user_id"), col("accessible_blocks"),
        round(col("accessible_blocks") / col("total_blocks").cast("double"), 4)
          .as("selectivity"))
      .orderBy("user_id")
  }

  /** Role ↔ doc grant matrix rollup (services/rbac_generator analogue). */
  def permissionMatrix(spark: SparkSession, dir: String): DataFrame =
    permissions(spark, dir)
      .groupBy("role_id")
      .agg(
        count(lit(1)).as("n_docs"),
        min("document_id").as("min_doc"),
        max("document_id").as("max_doc"))
      .orderBy("role_id")

  /** Roles-per-user / users-per-role distribution
    * (hnsw/AnonySys_dynamic_partition.py:init_user_role_combination_data).
    */
  def userRoleStats(spark: SparkSession, dir: String): DataFrame =
    userRoles(spark, dir)
      .groupBy("role_id")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("role_id")
}
