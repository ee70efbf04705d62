package graft.ann

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.vector._
import graft.rbac.Rbac

/** IVF (inverted-file) vector index, Spark-batch edition.
  *
  * Reference analogue: pgvector IVFFlat
  * (/root/reference/controller/initialize_main_tables.py:83 `CREATE INDEX
  * ... USING ivfflat`, probes set via `SET ivfflat.probes` in
  * basic_benchmark/common_function.py:83).
  *
  * Spark-first re-expression: the index IS a partitioning.
  *   - build: deterministic k-means (`fitCentroids`) → tiny centroid
  *     matrix (k × dim floats, kilobytes); every vector gets its cell
  *     from the `nearest_centroid` expression once, in `withCells` — the
  *     index's one corpus-side cell layout, which every reader of a
  *     vector's cell projects. At 100 TB that layout is written once as
  *     cell-partitioned parquet, so a probe scan is partition pruning.
  *   - search: nprobe nearest centroids picked driver-side (centroid set
  *     is tiny), then ONLY those lists are scanned — the scan cost drops
  *     by ~nprobe/k, which is the entire point of IVF.
  */
object IvfIndex {

  final case class Index(k: Int, centroids: Array[Array[Float]])

  private val cache = new graft.BuildOnce[Int, Index]

  /** Deterministic k-means (r13, VERDICT r12 #3): identical data +
    * identical code must yield IDENTICAL centroids on any JVM and any
    * partition layout. MLlib's `setSeed(42)` does not give that — its
    * "random" init samples depend on the physical partition layout, so
    * the same corpus fit different cells across sessions, and on
    * near-isotropic data the blocking selectivity (hence C5's measured
    * cost: 8.2 s vs 38 s at the same 10× data, CALIBRATION r12) swung
    * with the fit. Two choices remove every nondeterminism source:
    *
    *   - init: the k rows with the smallest (xxhash64(vec_id), vec_id)
    *     key — a deterministic pseudo-random sample (same spirit as
    *     the engine's other hash-derived stand-ins for randomness),
    *     picked by a distributed takeOrdered, layout-independent.
    *   - Lloyd steps: assignment is `nearest_centroid` (double math,
    *     ties to the smallest cell id — already deterministic); the
    *     new per-cell means sum QUANTIZED LONGS (round(x·2²⁴), exact
    *     associative+commutative integer addition) instead of doubles,
    *     so the reduction order Spark picks cannot perturb the result.
    *     The 2⁻²⁴ quantization error (~6e-8) is noise four orders
    *     below what a pruning/blocking index can resolve.
    *
    * Cost shape at scale: per iteration one corpus scan + a map-side-
    * combined (cell, dim) aggregation of k·dim long cells — the same
    * linear pass MLlib pays, minus its seed-sampling jobs.
    */
  private[graft] def fitCentroids(df: DataFrame, k: Int,
                                  iters: Int = 5): Array[Array[Float]] = {
    val Scale = (1L << 24).toDouble
    // Repartition + cache across the Lloyd rounds: the fit inherits the
    // SOURCE partitioning, and a corpus stored as one parquet file under
    // maxPartitionBytes (ScaleGen's coalesce(1) dirs) pins every
    // assignment scan to ONE task — at k=800 over 200k vectors that is
    // ~10 GFLOP/round on a single core (measured: the 100× dedup warmup
    // sat 40+ min in this loop). Safe for determinism: seeds come from a
    // total (hash, id) order and Lloyd sums are quantized-long
    // (associative+commutative), so partition count cannot perturb the
    // result — Round13Spec pins layout independence.
    val feats = df.select(col("vec_id"), col("features"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .persist()
    try {
    // seed ORDER is load-bearing (centroid index = cell id): the hash
    // key rides along and the driver re-sorts the collected rows by it
    // — limit() makes no ordering promise after collect
    var centers = feats
      .select(xxhash64(col("vec_id")).as("h"), col("vec_id"), col("features"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Float](2).toArray))
      .sortBy(_._1)
      .map(_._2)
    // named diagnostic (ADVICE r13): limit(k) on a corpus with fewer
    // rows than k returns short — Index(k, centers) would then carry a
    // k its centroid array can't back, and every consumer of Index.k
    // (cell ids, nprobe caps) would trip on the inconsistency far from
    // the cause
    require(centers.length == k,
      s"fitCentroids: corpus has only ${centers.length} rows, need k=$k seeds")
    for (_ <- 1 to iters) {
      val cents = centers
      val sums = feats
        .select(nearest_centroid(col("features"), cents).as("cell"),
          posexplode(col("features")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(round(col("x").cast("double") * Scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = centers.map(_.clone())
      sums.foreach { r =>
        val (cell, pos) = (r.getInt(0), r.getInt(1))
        next(cell)(pos) = ((r.getLong(2).toDouble / r.getLong(3)) / Scale).toFloat
      }
      // cells that captured no points keep their previous center
      // (cloned above), the standard empty-cell rule — deterministic
      centers = next
    }
    centers
    } finally feats.unpersist(blocking = false)
  }

  /** Fit (or fetch cached) centroids for the corpus — deterministic
    * k-means (see `fitCentroids`; 5 Lloyd iterations is plenty for a
    * pruning index: recall is governed by nprobe, not centroid polish).
    */
  def getOrBuild(spark: SparkSession, dir: String, k: Int): Index =
    cache.getOrElseUpdate(spark, dir, k) {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("features"))
      Index(k, fitCentroids(emb, k))
    }

  private val withCellsCache = new graft.SessionCache[Int, DataFrame]

  /** (vec_id, embedding, cell): the corpus with its cell attached,
    * persisted — the k-list index's ONE corpus-side cell layout, the
    * in-memory stand-in for a cell-partitioned parquet layout at scale.
    * Every reader of a corpus vector's cell projects it: the probe
    * searches (B4, B12), the build report (B3), the per-comb list
    * counts (B12), the range prune (B14), the IVFADC code table (B18),
    * the qd-tree group stats (B9, B19), the recall model (B22), the
    * bucketed kNN self-joins (both sides) and the graph builds and
    * cell medoids (`Ann`, `GraphSearch`).
    */
  def withCells(spark: SparkSession, dir: String, k: Int): DataFrame =
    withCellsCache.getOrElseUpdate(spark, dir, k) {
      val idx = getOrBuild(spark, dir, k)
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("cell", nearest_centroid(col("embedding"), idx.centroids))
        .persist()
    }

  private val radiiCache = new graft.BuildOnce[(Int, Boolean), Map[Int, Double]]

  /** Per-cell covering radius max‖v − c‖ — index metadata for lossless
    * triangle-inequality pruning: a cell can hold a vector within
    * distance t of q only if d(q, c) − radius ≤ t. Computed once per
    * index in one scan+agg (k tiny rows), cached like the centroids.
    */
  def cellRadii(spark: SparkSession, dir: String, k: Int,
                unit: Boolean = false): Map[Int, Double] =
    radiiCache.getOrElseUpdate(spark, dir, (k, unit)) {
      val idx = if (unit) getOrBuildUnit(spark, dir, k) else getOrBuild(spark, dir, k)
      val cents = spark.createDataFrame(
        idx.centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c) })
        .toDF("list_id", "centroid")
      val vec = if (unit) vec_normalize(col("embedding")) else col("embedding")
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), vec.as("v"),
          nearest_centroid(vec, idx.centroids).as("list_id"))
        .join(broadcast(cents), "list_id")
        .groupBy("list_id")
        .agg(max(l2_dist(col("v"), col("centroid"))).as("r"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }

  private val unitCache = new graft.BuildOnce[Int, Index]

  /** Unit-sphere index: k-means over NORMALIZED vectors — the blocking
    * structure for cosine-threshold joins (cos ≥ τ ⇔ unit-L2 ≤ √(2−2τ)).
    */
  def getOrBuildUnit(spark: SparkSession, dir: String, k: Int): Index =
    unitCache.getOrElseUpdate(spark, dir, k) {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), vec_normalize(col("embedding")).as("features"))
      Index(k, fitCentroids(emb, k))
    }

  /** B3: index-build report — list sizes (the reference's `CREATE INDEX`
    * observable), counted over the cell layout (`withCells`).
    * Rows-only: k-means is engine-specific.
    */
  def buildReport(spark: SparkSession, dir: String, k: Int = 16): DataFrame =
    withCells(spark, dir, k)
      .groupBy(col("cell").as("list_id"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")

  /** Oracle sidecar frame: the fitted centroid table (list_id,
    * centroid), from which the DuckDB oracle REPLAYS the nearest-
    * centroid assignment independently (same double-precision
    * subtract-square-accumulate in index order, ties to the smallest
    * list id).
    */
  def centroidFrame(spark: SparkSession, dir: String, k: Int): DataFrame =
    listFrame(spark, getOrBuild(spark, dir, k))

  /** Unit-sphere variant of `centroidFrame` (C10's quantizer). */
  def unitCentroidFrame(spark: SparkSession, dir: String, k: Int): DataFrame =
    listFrame(spark, getOrBuildUnit(spark, dir, k))

  private def listFrame(spark: SparkSession, idx: Index): DataFrame = {
    import spark.implicits._
    idx.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "centroid")
  }

  /** nprobe nearest list ids for a query vector — computed driver-side
    * over the (tiny) centroid set, exactly like pgvector's probe pick.
    *
    * ASSUMPTION (shared by `cellRadii`'s driver map): a coarse
    * quantizer keeps cells ≈ √N, so the centroid matrix is index
    * METADATA — even 10⁵ cells × 64 dims × 4 B is ~25 MB, comfortably
    * driver-sized, and the argmin costs cells·dim flops per query.
    */
  def probeLists(idx: Index, q: Array[Float], nprobe: Int): Seq[Int] = {
    // Double subtraction, matching l2_dist/NearestCentroid exactly —
    // a Float subtraction here could order near-tied centroids
    // differently than those two do
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    idx.centroids.zipWithIndex
      .map { case (c, i) => (d2(c, q), i) }
      .sortBy(identity).take(nprobe).map(_._2).toSeq
  }

  /** B4: IVF probe search — scan only the nprobe lists, exact re-rank
    * inside them. Approximate overall (recall checked in ScalaTest).
    *
    * Plan shape: the probe predicate is a FILTER on the cell-attached
    * corpus (`withCells`, the in-memory stand-in for a cell-partitioned
    * parquet layout) — the corpus is never
    * joined, shuffled, or broadcast. At 100 TB the same filter is a
    * partition predicate on the `cell=` directories, so the scan reads
    * ~nprobe/k of the bytes (pgvector `SET ivfflat.probes` semantics,
    * common_function.py:83). Asserted Exchange-free in ProbePlanSpec.
    */
  def search(spark: SparkSession, dir: String, k: Int = 16, nprobe: Int = 4,
             topk: Int = 10, qid: Long = 0): DataFrame = {
    val idx = getOrBuild(spark, dir, k)
    val q = Ann.queryArray(spark, dir, qid)
    val lists = probeLists(idx, q, nprobe)
    val probed = withCells(spark, dir, k)
      .filter(col("cell").isin(lists: _*)) // partition pruning at scale
      .filter(col("vec_id") =!= qid)
    Ann.firstK(Ann.scored(probed, q), topk, "vec_id")
      .select(col("vec_id"), col("cell").as("list_id"))
  }

  /** B12: predicate-aware probe search — the ACORN/dynamic-partition
    * insight (controller/dynamic_partition/acorn): under a selective
    * permission filter a fixed nprobe may hold < k accessible
    * candidates, so widen the probe set until the filtered candidate
    * pool can satisfy k.
    *
    * One-pass escalation from index metadata: the user's accessible
    * candidates per list are a lookup of their held role ids in
    * `combListCounts`, and the probe prefix is chosen from those
    * counters, with no re-scan loop. The call runs one job, the search.
    */
  def predicateAwareSearch(spark: SparkSession, dir: String, userId: Long,
                           k: Int = 16, nprobe: Int = 2, topk: Int = 10): DataFrame = {
    val idx = getOrBuild(spark, dir, k)
    val q = Ann.queryArray(spark, dir, 0)
    val accPerList = accessibleListCounts(spark, dir, userId, k)

    // widen in centroid-distance order until the accessible pool can
    // fill top-k (driver-side arithmetic over k counters)
    val ordered = probeLists(idx, q, k)
    var probes = nprobe
    while (probes < k &&
      ordered.take(probes).map(accPerList.getOrElse(_, 0L)).sum < topk) probes += 1
    val lists = ordered.take(probes)

    // search job: probe predicate = filter on the cell-attached corpus
    // (partition pruning at scale), permission = `Rbac.restrict` (the
    // grant index's InSet, or above its bound the broadcast grant
    // semi-join) — the corpus side has no Exchange (ProbePlanSpec)
    val probed = Rbac.restrict(withCells(spark, dir, k).filter(col("cell").isin(lists: _*)),
      spark, dir, userId, key = "vec_id")
    Ann.firstK(Ann.scored(probed, q), topk, "vec_id")
      .select(col("vec_id"), col("cell").as("list_id"))
  }

  /** The user's accessible candidates per list (list_id → count, lists
    * with none absent): their comb key (`Rbac.heldCombKey`) looked up
    * in `combListCounts`. Exact for the flat model, whose users' grants
    * depend only on the set of roles they hold.
    */
  private[graft] def accessibleListCounts(spark: SparkSession, dir: String, userId: Long,
                                          k: Int): Map[Int, Long] =
    combListCounts(spark, dir, k).getOrElse(Rbac.heldCombKey(spark, dir, userId), Map.empty)

  private val listCountCache = new graft.BuildOnce[Int, Map[String, Map[Int, Long]]]

  /** Each user comb's comb_key → its accessible candidates per list of
    * the k-list index, collected once per (data version, k) from the
    * combs' accessible docs (`Partitioned.combAccessibleDocs`) joined to
    * the cell layout's (vec_id, cell): at most combs × k counters, keyed
    * like `Partitioned.costModelRoutes`. At 100 TB they live next to the
    * index metadata.
    */
  private def combListCounts(spark: SparkSession, dir: String,
                             k: Int): Map[String, Map[Int, Long]] =
    listCountCache.getOrElseUpdate(spark, dir, k) {
      val assigned = withCells(spark, dir, k).select(col("vec_id"), col("cell").as("list_id"))
      graft.rbac.Partitioned.combAccessibleDocs(spark, dir)
        .join(assigned, col("document_id") === assigned("vec_id"))
        .groupBy("comb_key", "list_id").agg(count(lit(1)).as("n_acc"))
        .collect().groupMap(_.getString(0))(r => r.getInt(1) -> r.getLong(2))
        .map { case (c, n) => c -> n.toMap }
    }

  /** B14: triangle-inequality-pruned EXACT range search. With each
    * vector's cell read from the cell layout (`withCells`), its
    * centroid distance d(v,c) and the query-to-centroid distances
    * (d(q,c), tiny) known, the reverse
    * triangle inequality d(q,v) ≥ |d(q,c) − d(v,c)| rejects most rows
    * with ONE scalar comparison before any 64-dim distance math — a
    * lossless filter, so the result (and the oracle) is identical to
    * brute-force range search. The 1e-9 slack keeps float noise at the
    * boundary from over-pruning.
    */
  def rangeSearchTriangle(spark: SparkSession, dir: String, tau: Double,
                          k: Int = 16, qid: Long = 0): DataFrame = {
    val idx = getOrBuild(spark, dir, k)
    val q = Ann.queryArray(spark, dir, qid)
    def dist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    val dqc = spark.createDataFrame(
      idx.centroids.zipWithIndex.toSeq.map { case (c, i) => (i, dist(c, q)) })
      .toDF("list_id", "dqc")
    val cents = spark.createDataFrame(
      idx.centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c) })
      .toDF("list_id", "centroid")
    val pruned = withCells(spark, dir, k)
      .select(col("vec_id"), col("embedding"), col("cell").as("list_id"))
      .filter(col("vec_id") =!= qid)
      .join(broadcast(cents), "list_id")
      .join(broadcast(dqc), "list_id")
      .withColumn("dvc", l2_dist(col("embedding"), col("centroid")))
      .filter(abs(col("dqc") - col("dvc")) <= tau + 1e-9) // lossless prune
    Ann.withQuery(pruned, q)
      .filter(l2_dist(col("embedding"), col("qvec")) < tau)
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** B9: qd-tree layout (HQI baseline, qd_tree.py:508): leaf =
    * (k-means cell × granting-role-set signature) — vector locality AND
    * permission locality in one partitioning key. The signature is the
    * doc's FULL granting role set (comb_key), i.e. the fully-split
    * flat form of the role-predicate splits `find_best_split`
    * (qd_tree.py:420) applies recursively — which is what makes routing
    * over these leaves lossless (see qdTreeSearch). Output: per-leaf
    * block counts — a projection of the greedy tree's (comb_key, cell)
    * group table (`QdTree.groupStats`), the one such table.
    */
  def qdTreeAssign(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    QdTree.groupStats(spark, dir, k)
      .select(col("cell").as("list_id"), col("comb_key"), col("n_blocks"))
      .orderBy("list_id", "comb_key")

  /** B10: qd-tree routed search (qd_tree.py:644
    * find_relevant_partitions): route to exactly the leaves whose
    * role-set signature INTERSECTS the user's roles. A leaf's
    * signature IS its docs' granting role set, so "signature
    * intersects the user's roles" ⟺ "the doc is granted by ≥1 user
    * role": the routing is the one permission filter (`Rbac.restrict`,
    * as in `Partitioned.combPartitionTopK`), the routed scan holds
    * exactly the accessible blocks and the result equals the prefilter
    * answer (shared DuckDB oracle). `nprobe > 0` additionally prunes the
    * vector dimension of the leaf key (the recall/latency knob the
    * qd-tree layout offers at scale — asserted ≥ recall floor in
    * ScalaTest); 0 scans all routed cells = exact.
    */
  def qdTreeSearch(spark: SparkSession, dir: String, userId: Long, k: Int = 8,
                   nprobe: Int = 0, topk: Int = 10): DataFrame = {
    val base = Rbac.restrict(Rbac.blocks(spark, dir), spark, dir, userId) // leaf routing
    val q = Ann.queryArray(spark, dir, 0)
    val routed = if (nprobe > 0) {
      // vector-side leaf pruning: cell computed inside the scan (no join
      // against the assignment — a corpus-sized semi-join at scale); at
      // 100 TB the leaf key (cell, comb_key) is the partition directory
      // and both predicates are partition pruning
      val idx = getOrBuild(spark, dir, k)
      val lists = probeLists(idx, q, nprobe)
      base.withColumn("cell", nearest_centroid(col("embedding"), idx.centroids))
        .filter(col("cell").isin(lists: _*)).drop("cell")
    } else base
    Ann.firstK(Ann.scored(routed, q), topk, "block_id")
      .select("block_id", "document_id")
  }
}
