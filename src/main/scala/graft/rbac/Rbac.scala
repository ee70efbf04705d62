package graft.rbac

import scala.util.DynamicVariable

import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.{SessionCache, Tables}
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
  *   - `heldRoleIds`: the user's distinct role ids, ascending, under a
  *     permission model (flat `userRoles`, or the tree/DAG effective
  *     roles of `Hierarchy`) — the one way engine code learns a user's
  *     roles, and the routing key of every role- and comb-keyed layout;
  *   - `grantIndex`: the same grants as driver-side maps (user → roles,
  *     role → docs), below `DriverGrantRowsMax`, read only by
  *     `heldRoleIds` and `restrict`;
  *   - `restrict`: the one permission filter — the user's doc ids as an
  *     `InSet` filter, or above the index bound (or past `InSetIdsMax`
  *     docs) a left-semi join of a frame's doc key against the user's
  *     grant rows;
  *   - `accessibleDocs`: the same grant rows as a DISTINCT doc set, for
  *     callers that want the set itself;
  *   - `accessiblePairs`: a small user set's (user_id, document_id) set;
  *   - `roleSet` / `combKey` / `heldCombKey`: the one comb key.
  *
  * Architecture note (Spark-first, not a port): the reference prunes the
  * ANN scan with per-role PARTITION TABLES + per-table indexes
  * (controller/baseline/prefilter/initialize_partitions.py) and answers
  * its grant lookups from PostgreSQL indexes (common_function.py:80).
  * On Spark the grant lookup is the driver-side `grantIndex` while the
  * model's grant rows fit under `DriverGrantRowsMax`: the user's doc ids
  * bind into the plan as an `InSet` filter, evaluated inside the scan
  * stage on every query, and the call runs no grant job. Only above the
  * bound is the pruning a BROADCAST SEMI-JOIN of the user's (small)
  * grant rows into the (100 TB) block scan — no data movement on the
  * big side. Either way the top-k is a TakeOrderedAndProject
  * (per-partition bounded heap, k rows shipped per partition), not a
  * global sort. Routing (user roles → role or comb partitions,
  * search.py:31) never joins the user's role rows: on both sides of the
  * bound the routed layouts bind `heldRoleIds` as a literal.
  */
object Rbac {
  val NumRoles = 10

  /** A permission model: the (user_id, role_id) frame a user's grants
    * derive from — `Flat` (`userRoles`), `Tree`
    * (`Hierarchy.effectiveUserRoles`) or `Dag`
    * (`Hierarchy.dagEffectiveUserRoles`). A value, not a function, so
    * the grant index and the cost-model layout cache key on it.
    */
  sealed abstract class RoleModel {
    def frame(spark: SparkSession, dir: String): DataFrame
  }
  case object Flat extends RoleModel {
    def frame(spark: SparkSession, dir: String): DataFrame = userRoles(spark, dir)
  }
  case object Tree extends RoleModel {
    def frame(spark: SparkSession, dir: String): DataFrame =
      Hierarchy.effectiveUserRoles(spark, dir)
  }
  case object Dag extends RoleModel {
    def frame(spark: SparkSession, dir: String): DataFrame =
      Hierarchy.dagEffectiveUserRoles(spark, dir)
  }

  // UserRoles / PermissionAssignment are small DERIVED DIMENSION tables
  // consumed by nearly every RBAC query — persist once per dataset, the
  // way a warehouse pins its dimensions. The block table is NOT cached:
  // at 100 TB the fact side is always a fresh parquet scan and the
  // local plans should keep that shape. Two in-memory layouts over it
  // are persisted per data version as stand-ins of the partitioned
  // layouts: `Partitioned.roleLayout` (a block per granting role) and
  // `Partitioned.combLayout` (a block with its comb key) — 1.06 MB and
  // 0.56 MB at sf0.1 (3.8k and 2k rows). At 100 TB the materialized
  // role and cost-model layouts (`Layouts`) remain the scan path.
  private val dimCache = new SessionCache[String, DataFrame]

  /** UserRoles(user_id, role_id) — every user holds exactly 1-2 roles. */
  def userRoles(spark: SparkSession, dir: String): DataFrame =
    dimCache.getOrElseUpdate(spark, dir, "ur") {
      val c = Tables.customer(spark, dir).select(col("c_custkey").as("user_id"))
      c.withColumn("role_id", col("user_id") % NumRoles)
        .union(c.withColumn("role_id", (col("user_id") * 3 + 1) % NumRoles))
        .distinct()
        .persist()
    }

  /** PermissionAssignment(role_id, document_id). */
  def permissions(spark: SparkSession, dir: String): DataFrame =
    dimCache.getOrElseUpdate(spark, dir, "perm") {
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
    * default the fixed benchmark query (vec_id = 0). Read only by
    * `Ann.queryArray`, whose driver-side array every query site binds.
    */
  def queryVector(spark: SparkSession, dir: String, qid: Long = 0): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === qid)
      .select(col("embedding").as("qvec"))

  /** The one user-role filter: (user_id, role_id) of `users` under `ur`
    * (a one-value IN plans as `user_id = u`). */
  private def heldRoles(spark: SparkSession, dir: String, users: Seq[Long],
                        ur: RoleModel): DataFrame =
    ur.frame(spark, dir).filter(col("user_id").isin(users: _*))

  /** Driver-side grant index of one permission model: user → held role
    * ids, role → granted doc ids, each distinct and ascending. It holds
    * grant metadata only, never answers.
    */
  private[graft] final class GrantIndex(roles: Map[Long, Array[Long]],
                                        docs: Map[Long, Array[Long]]) {
    def heldBy(userId: Long): Seq[Long] = roles.getOrElse(userId, Array.emptyLongArray).toSeq

    /** The user's distinct granted doc ids, ascending. */
    def docsOf(userId: Long): Seq[Long] =
      heldBy(userId).flatMap(r => docs.getOrElse(r, Array.emptyLongArray)).distinct.sorted

    /** `restrict`'s `InSet` ids: the user's doc ids while there are at
      * most `InSetIdsMax` of them; None past it, where the broadcast
      * semi-join is the faster plan.
      */
    def inSetOf(userId: Long): Option[Seq[Long]] =
      Some(docsOf(userId)).filter(_.size <= InSetIdsMax)
  }

  /** Size ceiling of the driver grant path: the model's user-role rows
    * plus its permission rows. It decides whether the grants are
    * collected once into a `GrantIndex`. Below it `heldRoleIds` reads a
    * user's role ids from the index and `restrict` binds the user's doc
    * ids as an `InSet` (up to `InSetIdsMax` of them) — no grant or
    * routing job per call, where the broadcast semi-join runs two (its
    * build-side collect and the broadcast). Above it — the org-sized
    * grant tables of a large deployment — `restrict` keeps the broadcast
    * semi-join, the only path that runs at any size, and `heldRoleIds`
    * runs one collect of the user's role rows. The one-time collect of
    * 2^19 rows took 172 ms. At 2^16 rows the perfbench/sf0.1 flat model
    * (15k users, 5k docs: 39.5k rows, at most 1.8k docs per user) takes
    * the index, while its tree and DAG models (~92k rows, up to every
    * doc per user) keep the broadcast path.
    */
  private[graft] val DriverGrantRowsMax: Long = 65536L

  /** The most doc ids one `restrict` binds as an `InSet`: the `InSet`
    * cost grows with ONE user's doc count, the model's row count does
    * not bound it per call, so a user past this takes the broadcast
    * semi-join even below `DriverGrantRowsMax`. Measured (4 vCPUs,
    * local[4], the sf0.1 corpus of 2k blocks, median per call): a top-k
    * behind an `InSet` of n ids against the same top-k behind a
    * broadcast semi-join of n cached rows —
    *   n = 2^10: 131 vs 171 ms; 2^12: 125 vs 162; 2^14: 181 vs 125;
    *   2^16: 557 vs 137; 2^17: 1105 vs 149; 2^18: 2679 vs 178 ms —
    * so the list wins up to ~2^13 ids and costs ~8 µs per id past it
    * (parquet pushdown of the list, planning, task serialization).
    */
  private[graft] val InSetIdsMax: Int = 8192

  private val indexCache = new SessionCache[RoleModel, Option[GrantIndex]]
  private val broadcastGrants = new DynamicVariable(false)

  /** Test hook: run `body` with every strategy on the broadcast grant
    * path, as above `DriverGrantRowsMax`.
    */
  private[graft] def withBroadcastGrants[T](body: => T): T =
    broadcastGrants.withValue(true)(body)

  /** The grant index of model `ur`, derived from its persisted frames —
    * None when the rows exceed `DriverGrantRowsMax` (or under
    * `withBroadcastGrants`). Keyed by the data version like every
    * store, so it is never staler than the frames it is collected from.
    */
  private[graft] def grantIndex(spark: SparkSession, dir: String,
                                ur: RoleModel = Flat): Option[GrantIndex] =
    if (broadcastGrants.value) None
    else indexCache.getOrElseUpdate(spark, dir, ur) {
      val max = DriverGrantRowsMax.toInt
      val urRows = ur.frame(spark, dir).select("user_id", "role_id").limit(max + 1).collect()
      val permRows = if (urRows.length > max) Array.empty[Row]
        else permissions(spark, dir).limit(max + 1 - urRows.length).collect()
      if (urRows.length + permRows.length > max) None
      else {
        def grouped(rows: Array[Row]): Map[Long, Array[Long]] =
          rows.groupMap(_.getLong(0))(_.getLong(1)).map { case (k, v) => k -> v.distinct.sorted }
        Some(new GrantIndex(grouped(urRows), grouped(permRows)))
      }
    }

  /** `c IN values` as one `InSet` node (bigint ids or string keys) —
    * `isin` builds one literal per value, which every analyzer rule
    * walks (~40 µs per id per call: 4k ids 257 ms against 125 ms for
    * the node) and generated code inlines, one compile per new set.
    */
  private[graft] def inSet(c: Column, values: Seq[Any]): Column = {
    val lits = values.map(Literal(_))
    GraftInternal.column(InSet(GraftInternal.expression(
      c.cast(lits.headOption.fold("long")(_.dataType.typeName))), lits.map(_.value).toSet))
  }

  /** The user's distinct held role ids under `ur`, ascending — the one
    * way engine code learns a user's roles, and the routing key of every
    * role- and comb-keyed layout (`rolePartitionTopK`,
    * `prunedRoleSearch`, `QdTree.routedTopK`, and `heldCombKey`).
    * Below `DriverGrantRowsMax` the grant index answers with no job;
    * above it, one collect of the user's role rows.
    */
  private[graft] def heldRoleIds(spark: SparkSession, dir: String, userId: Long,
                                 ur: RoleModel = Flat): Seq[Long] =
    grantIndex(spark, dir, ur) match {
      case Some(ix) => ix.heldBy(userId)
      case None =>
        heldRoles(spark, dir, Seq(userId), ur).select("role_id")
          .collect().map(_.getLong(0)).distinct.sorted.toSeq
    }

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
    * document the user may read. Below `DriverGrantRowsMax`, for a user
    * of at most `InSetIdsMax` docs, it is one `InSet` of the grant
    * index's doc ids, evaluated inside the scan stage. Otherwise, a
    * left-semi join (EXISTS) against the user's grant rows. A semi-join
    * needs no DISTINCT on its build side, so the grant rows join as
    * they are. The two join policies:
    *   - default: the probe side is the corpus (the prefilter family) —
    *     the grant rows are BROADCAST and the corpus side never moves;
    *   - `walkBounded`: the probe side is bounded by a graph walk
    *     (seeds + rounds·ef·2gk rows by construction) — the join stays
    *     UNHINTED so AQE broadcasts whichever side is small; at 100 TB a
    *     high-selectivity user's grant rows would blow the 8 GB
    *     broadcast cap a forced hint pins them to.
    */
  def restrict(df: DataFrame, spark: SparkSession, dir: String, userId: Long,
               key: String = "document_id", ur: RoleModel = Flat,
               walkBounded: Boolean = false): DataFrame =
    grantIndex(spark, dir, ur).flatMap(_.inSetOf(userId)) match {
      case Some(ids) => df.filter(inSet(col(key), ids))
      case None =>
        val g = grants(spark, dir, Seq(userId), ur).select(col("document_id").as(key))
        df.join(if (walkBounded) g else broadcast(g), Seq(key), "left_semi")
    }

  /** Docs accessible to `userId` — prefilter step 1
    * (common_function.py:91: DISTINCT pa.document_id ⋈ UserRoles): the
    * grant rows as a set, for callers that want the set itself. Filters
    * go through `restrict`.
    */
  def accessibleDocs(spark: SparkSession, dir: String, userId: Long,
                     ur: RoleModel = Flat): DataFrame =
    grants(spark, dir, Seq(userId), ur).select("document_id").distinct()

  /** The grant rows' many-user form: DISTINCT (user_id, document_id)
    * pairs of a small user set, for batch callers. */
  def accessiblePairs(spark: SparkSession, dir: String, users: Seq[Long]): DataFrame =
    grants(spark, dir, users, Flat).distinct()

  /** A role set, as an aggregate: the group's sorted distinct role ids. */
  def roleSet: Column = sort_array(collect_set(col("role_id")))

  /** THE comb_key definition: a role set's ids, comma-joined — a doc's
    * granting set (`Partitioned.combRoleSets`) and a user's held set
    * (`userCombsFrom`) alike.
    */
  def combKey(roles: Column): Column = concat_ws(",", roles)

  /** `combKey`'s driver form, the key of every comb-keyed driver map:
    * the user's `userCombsFrom` key as `heldRoleIds` reads it ("" if none). */
  private[graft] def heldCombKey(spark: SparkSession, dir: String, userId: Long): String =
    heldRoleIds(spark, dir, userId).mkString(",")

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
    * Plan at scale: parquet scan → the grant filter (`restrict`: an
    * `InSet`, or above the index bound a broadcast semi-join) →
    * codegen'd L2 against the literal query → TakeOrderedAndProject (k
    * rows per partition).
    */
  def prefilterTopK(spark: SparkSession, dir: String, userId: Long, k: Int,
                    ur: RoleModel = Flat): DataFrame =
    Ann.firstK(Ann.scored(restrict(blocks(spark, dir), spark, dir, userId, ur = ur),
      Ann.queryArray(spark, dir, 0)), k, "block_id")
      .select("block_id", "document_id")

  /** Post-filter: global ANN top-(overfetch*k) FIRST, then permission
    * filter, then k (the reference's postfilter baseline). May return
    * fewer than k rows when the over-fetch misses — semantics preserved.
    */
  def postfilterTopK(spark: SparkSession, dir: String, userId: Long, k: Int,
                     overfetch: Int = 10): DataFrame = {
    val candidates = Ann.firstK(Ann.scored(blocks(spark, dir), Ann.queryArray(spark, dir, 0)),
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
                       ur: RoleModel = Flat): DataFrame = {
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
    val held = ur.frame(spark, dir)
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
