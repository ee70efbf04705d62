package graft.rbac

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hierarchical (ERBAC-style) RBAC — role TREES with inherited
  * permissions, the enterprise shape the reference's workload
  * generators build (services/rbac_generator/
  * tree_based_rbac_data_generator.py:113 assigns documents through
  * `inherited_permissions`; erbac_data_generator.py:8 composes
  * functional/business roles). The flat model (Rbac.scala) treats a
  * user's held roles as the whole story; here a held role also confers
  * every DESCENDANT role's grants — senior roles inherit their
  * juniors' permissions.
  *
  * The tree is derived deterministically from the role ids (SURVEY §3
  * style, so the DuckDB oracle replays it with a recursive CTE):
  * parent(r) = r / 2 (integer division), role 0 the root — the
  * implicit binary heap tree, children of r are {2r, 2r+1}.
  *
  * Scale shape: the transitive closure is computed as an ITERATIVE
  * EDGE JOIN over the (parent, child) edge table — one join per tree
  * LEVEL, and the loop bound is the tree height (⌈log₂ roles⌉), so
  * the fixed-iteration loop is EXACT, not an approximation. The
  * closure is a role-metadata sidecar (|roles|·height rows at worst —
  * dimension-sized, like the centroid frames), broadcast into the
  * permission expansion. A hierarchy is only a different permission
  * MODEL (`Rbac.RoleModel`): its effective (user_id, role_id) frame
  * plugs into the one permission path of `Rbac`, so the grant rows,
  * accessible set, top-k and selectivity report are the flat ones. At
  * 100 TB the roles table grows with the ORG, not the corpus — the
  * closure stays a broadcast frame.
  */
object Hierarchy {

  /** (parent, child) edges of the derived role tree — every role but
    * the root has exactly one parent, parent(r) = r div 2.
    */
  def roleEdges(spark: SparkSession): DataFrame =
    spark.range(1, Rbac.NumRoles)
      .select(expr("id div 2").as("parent"), col("id").as("child"))

  // Closures are ROLE METADATA (≤ |roles|² pairs, derived from the
  // role ids alone) — computed once per session and dataset version
  // and persisted, like the centroid sidecars, so the per-query plans
  // see a flat cached frame instead of re-running the iterative join
  // chain (the tree loop is height many joins; the DAG loop adds a
  // driver-side count per round).
  private val closureCache = new graft.SessionCache[String, DataFrame]

  /** Transitive closure (role_id, desc_id): desc_id is in role_id's
    * subtree (reflexive — a role is its own descendant). Iterative
    * one-level-per-round edge join, exact because the round count
    * equals the tree height.
    */
  def roleClosure(spark: SparkSession, dir: String): DataFrame =
    closureCache.getOrElseUpdate(spark, dir, "tree") {
      val height = math.ceil(math.log(Rbac.NumRoles) / math.log(2)).toInt
      var closure = spark.range(0, Rbac.NumRoles)
        .select(col("id").as("role_id"), col("id").as("desc_id"))
      var level = 0
      while (level < height) {
        // a FRESH edge frame per round (new attribute ids): after round 1
        // the closure's lineage already contains the edge relation, and
        // re-joining the same Dataset instance trips Spark's
        // DetectAmbiguousSelfJoin
        val edges = roleEdges(spark)
        val next = closure
          .join(edges, col("desc_id") === col("parent"))
          .select(col("role_id"), col("child").as("desc_id"))
        closure = closure.union(next).distinct()
        level += 1
      }
      closure.persist()
    }

  // Effective-role frames are org-sized DIMENSION tables like
  // Rbac.userRoles — persisted once per (dataset, closure), so the
  // per-query grant rows read a flat cached frame.
  private val effectiveCache = new graft.SessionCache[String, DataFrame]

  /** Every user's held roles expanded through a role closure
    * (role_id, desc_id) — the one body of the tree and DAG
    * effective-role frames.
    */
  private def expand(spark: SparkSession, dir: String, name: String,
                     closure: => DataFrame): DataFrame =
    effectiveCache.getOrElseUpdate(spark, dir, name) {
      Rbac.userRoles(spark, dir)
        .join(broadcast(closure), "role_id")
        .select(col("user_id"), col("desc_id").as("role_id"))
        .distinct()
        .persist()
    }

  /** Effective (user_id, role_id): every user's held roles expanded to
    * their subtrees — the hierarchical replacement for Rbac.userRoles,
    * pluggable anywhere the flat frame is (still org-sized).
    */
  def effectiveUserRoles(spark: SparkSession, dir: String): DataFrame =
    expand(spark, dir, "tree", roleClosure(spark, dir))

  /** A19 step 1: docs accessible to `userId` under the hierarchy —
    * the flat derivation routed through the expanded role set.
    */
  def accessibleDocs(spark: SparkSession, dir: String, userId: Long): DataFrame =
    Rbac.accessibleDocs(spark, dir, userId, Rbac.Tree)

  /** A19 step 4: the A17 cost-model layout over the HIERARCHY's
    * permission distribution — same greedy (workload weights, log-load
    * benefit ranking, α storage budget), structurally different input:
    * effective role sets are subtree UNIONS, so combs are fewer and
    * fatter, root-holding combs cover the whole corpus (ln(N/n)=0 → no
    * split benefit → they stay in the shared partition), and the model
    * dedicates partitions to the mid-tree combs where duplication
    * actually buys scan reduction. Deterministic and fully
    * SQL-replayed (recursive CTE feeding the same layout CTE as A17).
    */
  def costModelLayout(spark: SparkSession, dir: String, alpha: Double = 2.0,
                      nQueries: Int = 20): DataFrame =
    Partitioned.cachedCostModelLayout(spark, dir, Rbac.Tree, alpha, nQueries)

  /** A19 step 3: per-user selectivity under the HIERARCHY — the
    * second, structurally different permission distribution the layout
    * cost model can chew on (flat: every user holds 1-2 roles at ~19%
    * selectivity each; hierarchical: selectivity depends on WHERE the
    * held roles sit in the tree — a root-holder reaches everything, a
    * leaf-holder only its own slice). The flat A9 operator over the
    * effective roles: a comb of effective roles reaches exactly the
    * docs its held roles' subtrees grant.
    */
  def selectivityStats(spark: SparkSession, dir: String): DataFrame =
    Rbac.selectivityStats(spark, dir, Rbac.Tree)

  /** A19 step 2: exact pre-filtered L2 top-k through the expanded role
    * set — the flat prefilter's plan; only the permission model changed.
    */
  def hierarchyTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame =
    Rbac.prefilterTopK(spark, dir, userId, k, Rbac.Tree)

  // ------------------------------------------------------------------
  // DAG hierarchy: SHARED subtrees (multi-parent roles) — the
  // reference's third generator family (services/rbac_generator/
  // sharing_tree_based_rbac_data_generator.py and the store_sharing_*
  // variants share a subtree under several parents). The derived rule
  // adds a SECOND parent to every even role r ≥ 4: parent₂(r) = r/2 − 1
  // — parents stay strictly smaller than children, so the graph is
  // acyclic by construction, and role r's subtree is now reachable
  // from two ancestors (a genuinely different closure than the tree's).
  // ------------------------------------------------------------------

  /** (parent, child) edges of the role DAG: the tree edges plus the
    * second-parent edges of even roles ≥ 4.
    */
  def dagEdges(spark: SparkSession): DataFrame =
    roleEdges(spark).union(
      spark.range(4, Rbac.NumRoles)
        .filter(col("id") % 2 === 0)
        .select((expr("id div 2") - 1).as("parent"), col("id").as("child")))

  /** Transitive closure of the DAG — the same one-edge-per-round join
    * as `roleClosure`, but run to a FIXED POINT (stop when a round adds
    * no new pairs) instead of a height bound: with multiple parents the
    * longest path is no longer ⌈log₂ roles⌉ by construction. Exact —
    * each round extends every path by one edge, so the loop terminates
    * after longest-path rounds. Per-round `count()` actions run over
    * role-metadata frames (|roles|² pairs at worst), never the corpus.
    */
  def dagClosure(spark: SparkSession, dir: String): DataFrame =
    closureCache.getOrElseUpdate(spark, dir, "dag") {
      // each round persists BEFORE its count and releases the previous
      // round's cache: the fixed-point check then reads one cached
      // frame per round instead of recomputing the whole join chain
      // from scratch (O(rounds) jobs, not O(rounds²))
      var closure = spark.range(0, Rbac.NumRoles)
        .select(col("id").as("role_id"), col("id").as("desc_id"))
        .persist()
      var prev = -1L
      var cur = closure.count()
      while (cur != prev) {
        // fresh edge frame per round — see roleClosure's self-join note
        val edges = dagEdges(spark)
        val next = closure
          .join(edges, col("desc_id") === col("parent"))
          .select(col("role_id"), col("child").as("desc_id"))
          .union(closure).distinct()
          .persist()
        prev = cur
        cur = next.count()
        closure.unpersist()
        closure = next
      }
      closure
    }

  /** Effective user roles under the DAG — `effectiveUserRoles` with the
    * multi-parent closure plugged in.
    */
  def dagEffectiveUserRoles(spark: SparkSession, dir: String): DataFrame =
    expand(spark, dir, "dag", dagClosure(spark, dir))

  /** Docs accessible to `userId` under the DAG hierarchy. */
  def dagAccessibleDocs(spark: SparkSession, dir: String, userId: Long): DataFrame =
    Rbac.accessibleDocs(spark, dir, userId, Rbac.Dag)

  /** Exact pre-filtered top-k under the DAG hierarchy — same corpus
    * plan as `hierarchyTopK`, third permission model.
    */
  def dagTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame =
    Rbac.prefilterTopK(spark, dir, userId, k, Rbac.Dag)

  /** A17's greedy layout fed the DAG's permission distribution — the
    * THIRD structurally different input (flat / tree / shared-subtree
    * DAG) chewed by the same cost model.
    */
  def dagCostModelLayout(spark: SparkSession, dir: String, alpha: Double = 2.0,
                         nQueries: Int = 20): DataFrame =
    Partitioned.cachedCostModelLayout(spark, dir, Rbac.Dag, alpha, nQueries)
}
