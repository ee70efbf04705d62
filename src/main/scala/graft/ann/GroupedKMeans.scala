package graft.ann

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.vector._
import graft.rbac.{Partitioned, Rbac}

/** Grouped k-means — k-means for MANY groups in ONE distributed job
  * (reference: build_role_indexes.py / build_dynamic_partition_indexes
  * .py build a separate IVFFlat index PER partition table by looping
  * partitions on the controller; the Spark-first re-expression runs
  * every partition's clustering in the same DataFrame passes, no
  * per-partition driver loop, no per-partition MLlib fit):
  *
  *   - seeds: the k rows with the smallest deterministic hash per
  *     group (a per-group window top-k, one shuffle);
  *   - assign: points ⋈ current centroids ON group (the centroid frame
  *     is groups×k rows — broadcast), `min_by` argmin over the k
  *     candidates per point;
  *   - update: element-wise centroid mean via posexplode →
  *     (group, cid, dim) partial-agg'd averages → array reassembly
  *     (the exploded shuffle carries groups×k×dim tiny rows).
  *
  * Each Lloyd iteration is three shuffles TOTAL across all groups
  * (argmin assignment, dim-wise partial mean, array reassembly — the
  * latter two carrying only groups×k×dim rows) — the per-partition
  * loop the reference runs becomes data parallelism. A cluster left
  * empty by an update keeps its previous centroid (k centroids per
  * group always survive, and Lloyd's SSE monotonicity is preserved).
  */
object GroupedKMeans {

  /** points: (group: long, id: long, vec: array<float>) →
    * centroids (group, cid, centroid: array<float>).
    *
    * Lineage is BOUNDED: each Lloyd iteration ends by collecting the
    * (groups×k, tiny) centroid frame to the driver and rebuilding a
    * local DataFrame — exactly the sidecar shape `centroidFrame`
    * serves from after the fit. Without this, `cents` re-enters the
    * next iteration's plan twice (assign + the empty-cluster left
    * outer), so the logical plan roughly DOUBLES per iteration:
    * harmless at iters=2, exponential-ish analysis cost at a realistic
    * 10-20. With the per-iteration localization the plan depth is
    * constant and total work is linear in iters (one assign job per
    * iteration — the same cadence a driver-looped MLlib fit pays, but
    * still for ALL groups at once).
    */
  def fit(points: DataFrame, k: Int, iters: Int): DataFrame = {
    val seedW = Window.partitionBy("group")
      .orderBy(pmod(col("id") * lit(2654435761L % 1000003L), lit(1000000007L)), col("id"))
    var cents = points
      .withColumn("__rn", row_number().over(seedW))
      .filter(col("__rn") <= k)
      .select(col("group"), (col("__rn") - 1).cast("int").as("cid"),
        col("vec").as("centroid"))
    var it = 0
    while (it < iters) {
      val assigned = assign(points, cents)
      val updated = assigned
        .select(col("group"), col("cid"), posexplode(col("vec")).as(Seq("dim", "v")))
        .groupBy("group", "cid", "dim").agg(avg("v").as("m"))
        .groupBy("group", "cid")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("group"), col("cid"),
          expr("transform(dm, x -> cast(x.m AS float))").as("new_centroid"))
      // empty-cluster handling: a cid that received no points keeps its
      // previous centroid — otherwise it would silently vanish from the
      // groupBy and the group would fall below k
      cents = localize(cents.join(updated, Seq("group", "cid"), "left_outer")
        .select(col("group"), col("cid"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid")))
      it += 1
    }
    cents
  }

  /** Collect a (group, cid, centroid) frame (groups×k rows — always
    * driver-sized) and rebuild it as a local DataFrame, cutting all
    * upstream lineage.
    */
  private def localize(cents: DataFrame): DataFrame = {
    val spark = cents.sparkSession
    import spark.implicits._
    cents.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
      .toSeq.toDF("group", "cid", "centroid")
  }

  /** Nearest-centroid assignment: (group, id, vec, cid, dist). The
    * argmin is min of (dist, cid) — smallest cid wins exact ties, the
    * same deterministic rule the NearestCentroid kernel uses.
    */
  def assign(points: DataFrame, cents: DataFrame): DataFrame =
    points.join(broadcast(cents), Seq("group")) // groups×k rows — always broadcast-sized
      .withColumn("d", l2_dist(col("vec"), col("centroid")))
      .groupBy("group", "id")
      .agg(min(struct(col("d"), col("cid"))).as("best"),
        first("vec").as("vec"))
      .select(col("group"), col("id"), col("best.cid").as("cid"),
        col("best.d").as("dist"), col("vec"))

  /** Mean within-cluster squared distance per group — the convergence
    * observable (must not increase over Lloyd iterations).
    */
  def sse(points: DataFrame, cents: DataFrame): DataFrame =
    assign(points, cents)
      .groupBy("group").agg(avg(col("dist") * col("dist")).as("mse"))

  /** B21 query surface: per-role mini-IVF build report over the RBAC
    * layout — every role partition's index built in one job
    * (role, cell, n_vectors). Rows-only: seeded-float k-means isn't
    * SQL-replayable, GroupedKMeansSpec asserts SSE decrease and
    * coverage instead.
    */
  def partitionIndexBuild(spark: SparkSession, dir: String,
                          k: Int = 4, iters: Int = 5): DataFrame = {
    // the fit runs EAGERLY over a build-scoped cache and its (tiny)
    // centroid frame is collected (and cached per dir): the returned
    // report plan then scans the corpus exactly once, and nothing
    // stays pinned in the session
    assign(rolePoints(spark, dir), centroidFrame(spark, dir, k, iters))
      .groupBy(col("group").as("partition_role"), col("cid").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("partition_role", "cell")
  }

  /** The collected centroids as a (tiny) local DataFrame
    * (group, cid, centroid) — also the oracle sidecar frame the DuckDB
    * oracle replays per-role assignment, probe pick and the routed
    * top-k from.
    */
  def centroidFrame(spark: SparkSession, dir: String,
                    k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    roleCentroids(spark, dir, k, iters)
      .map(c => (c._1, c._2, c._3.toSeq)).toSeq
      .toDF("group", "cid", "centroid") // encoder already yields array<float>
  }

  private val centCache = new graft.BuildOnce[(Int, Int), Array[(Long, Int, Array[Float])]]

  /** Fitted per-role centroids, collected (groups×k tiny) and cached
    * per (dir version, k, iters) — the in-memory mirror of the
    * per-partition index sidecars the reference persists. Built once
    * per key, so concurrent bench queries share ONE fit (and one
    * persist scope) instead of racing duplicate jobs.
    */
  private[graft] def roleCentroids(spark: SparkSession, dir: String,
                                   k: Int, iters: Int): Array[(Long, Int, Array[Float])] =
    centCache.getOrElseUpdate(spark, dir, (k, iters)) {
      val points = rolePoints(spark, dir)
      points.persist()
      try fit(points, k, iters).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      finally points.unpersist()
    }

  /** B21 serving half: permission-aware top-k THROUGH the per-role
    * mini-indexes (the reference's search.py path — per-partition index
    * probe + merge): for each of the user's roles, probe the nprobe
    * cells whose centroids are nearest the query, scan ONLY those
    * cells' vectors (cell id recomputed in-scan against the role's
    * broadcast centroids — at scale, (role, cell) are directory keys
    * and this is pure file pruning), merge across roles with block
    * dedup, exact distances throughout. Probing ALL cells is lossless
    * (equals prefilter — asserted); fewer cells trade recall for scan
    * fraction exactly like corpus-level IVF.
    */
  def partitionIvfTopK(spark: SparkSession, dir: String, userId: Long,
                       topk: Int, k: Int = 4, iters: Int = 5,
                       nprobe: Int = 2): DataFrame = {
    val cents = roleCentroids(spark, dir, k, iters)
    val q = Ann.queryArray(spark, dir, 0)
    def d2(a: Array[Float]): Double = {
      // Double subtraction — a Float-precision difference can flip
      // near-tied cell orderings against the Double nearest_centroid
      // the cell pruning uses (same rule as IvfIndex.probeLists)
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i).toDouble - q(i).toDouble; s += x * x; i += 1 }
      s
    }
    val roles = Rbac.heldRoleIds(spark, dir, userId) // tiny: the user's 1-2 roles
    // each held role's centroids in cid order, and the probe pick over
    // them (the nprobe cells nearest the query)
    val byRole = cents.filter(c => roles.contains(c._1)).groupBy(_._1).toSeq
      .map { case (r, cs) => r -> cs.sortBy(_._2) }
    // cell pruning inside the scan: a row's cell is the nearest of its
    // role's centroids (`nearest_centroid`, ties to the smaller cid)
    // and it is kept when that cell is one of the role's probed cells
    val probed = byRole.map { case (r, cs) =>
      val picked = cs.indices.sortBy(i => (d2(cs(i)._3), cs(i)._2)).take(nprobe)
      col("group") === r &&
        nearest_centroid(col("vec"), cs.map(_._3)).isin(picked.sorted: _*)
    }.foldLeft(lit(false))(_ || _)
    val probedRows = rolePoints(spark, dir)
      .filter(col("group").isin(roles.map(Long.box): _*)).filter(probed)
    // merge across role partitions with block dedup: the role-partition
    // merge tail (a block is its own document, Rbac.blocks)
    Partitioned.roleMergeTopK(spark, dir,
      probedRows.select(col("id").as("block_id"), col("id").as("document_id"),
        col("vec").as("embedding")),
      topk, roles.size)
      .select("block_id")
  }

  /** (group=role, id=block, vec) — the role layout's rows, renamed. */
  private[graft] def rolePoints(spark: SparkSession, dir: String): DataFrame =
    Partitioned.roleLayout(spark, dir)
      .select(col("partition_role").as("group"), col("block_id").as("id"),
        col("embedding").as("vec"))
}
