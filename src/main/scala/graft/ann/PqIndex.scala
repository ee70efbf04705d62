package graft.ann

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.{PqAdcDistance, PqEncode}
import org.apache.spark.sql.graft.{GraftInternal => ExpressionUtils}

/** Product quantization (B15): 64-dim float vectors compressed to
  * `nSub` one-byte codes (8 bytes/vector here — 32× smaller than the
  * raw floats). At 100 TB the scan cost IS the byte count, so PQ is
  * the difference between scanning 100 TB and scanning ~3 TB; search
  * uses asymmetric distance computation (ADC: per-query distance table,
  * code-indexed lookups) plus an exact re-rank of the short list.
  *
  * Reference analogue: pgvector's quantized index options and the
  * IVFADC family (Jégou et al., TPAMI 2011 — public method).
  */
object PqIndex {

  val NumSub = 8
  val CodesPerSub = 16
  val Dim = 64

  /** codebook(sub)(code) = centroid of that subspace, trained per
    * subspace with seeded KMeans.
    */
  final case class Codebook(centroids: Array[Array[Array[Float]]])

  private val cache = new graft.BuildOnce[Unit, Codebook]

  def getOrBuild(spark: SparkSession, dir: String): Codebook =
    cache.getOrElseUpdate(spark, dir, ()) {
      val subDim = Dim / NumSub
      val base = Tables.embeddings(spark, dir).select("embedding")
      // the 8 subspace quantizers are independent — train them
      // concurrently (separate MLlib fits share the session safely)
      val cents = graft.Session.parMap(spark, 0 until NumSub) { s =>
        val sub = base.select(
          array_to_vector(slice(col("embedding"), s * subDim + 1, subDim)
            .cast("array<double>")).as("features"))
        new KMeans().setK(CodesPerSub).setSeed(42L + s).setMaxIter(5)
          .setInitMode("random").setFeaturesCol("features")
          .fit(sub).clusterCenters.map(_.toArray.map(_.toFloat))
      }.toArray
      Codebook(cents)
    }

  /** Oracle sidecar frame: the trained codebook as (sub, code,
    * centroid) rows — the oracle replays encoding and ADC from it.
    */
  def codebookFrame(spark: SparkSession, dir: String): DataFrame =
    codebookRows(spark, getOrBuild(spark, dir))

  private[ann] def codebookRows(spark: SparkSession, cb: Codebook): DataFrame = {
    import spark.implicits._
    val rows = for {
      s <- cb.centroids.indices
      c <- cb.centroids(s).indices
    } yield (s, c, cb.centroids(s)(c).toSeq)
    rows.toDF("sub", "code", "centroid")
  }

  private def encodeCol(emb: Column, cb: Codebook): Column =
    ExpressionUtils.column(PqEncode(ExpressionUtils.expression(emb), cb.centroids))

  /** (vec_id, code) — the compressed corpus. */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val cb = getOrBuild(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), encodeCol(col("embedding"), cb).as("code"))
  }

  private val codesCellCache = new graft.SessionCache[Int, DataFrame]

  /** (vec_id, list_id, code) — the compressed corpus WITH its IVF cell,
    * persisted: the in-memory mirror of the cell-partitioned compressed
    * index IVFADC stores at scale (codes written under `list_id=`
    * directories). Probing is then a filter (→ partition pruning), never
    * a join against the corpus. The codes are encoded over the IVF
    * index's cell layout (`IvfIndex.withCells`), so the cell is
    * projected, not assigned again.
    */
  def codesWithCells(spark: SparkSession, dir: String, cells: Int): DataFrame =
    codesCellCache.getOrElseUpdate(spark, dir, cells) {
      val cb = getOrBuild(spark, dir)
      IvfIndex.withCells(spark, dir, cells)
        .select(col("vec_id"), col("cell").as("list_id"),
          encodeCol(col("embedding"), cb).as("code"))
        .persist()
    }

  /** B15 build observable: code-usage histogram per subspace 0 (shows
    * quantizer balance), rows-only.
    */
  def buildReport(spark: SparkSession, dir: String): DataFrame =
    codes(spark, dir)
      // binary → first byte as int: hex the one-byte slice, parse base-16
      .select(expr("CAST(conv(hex(substring(code, 1, 1)), 16, 10) AS INT)").as("code0"))
      .groupBy("code0").agg(count(lit(1)).as("n"))
      .orderBy("code0")

  /** Per-query ADC distance table [sub][code] = ‖q_sub − centroid‖². */
  private[graft] def adcTable(cb: Codebook, q: Array[Float]): Array[Array[Float]] = {
    val subDim = Dim / NumSub
    Array.tabulate(NumSub, CodesPerSub) { (s, c) =>
      var acc = 0.0f; var i = 0
      while (i < subDim) {
        val d = q(s * subDim + i) - cb.centroids(s)(c)(i); acc += d * d; i += 1
      }
      acc
    }
  }

  /** B16: ADC search — approximate top-`overfetch` via table lookups
    * over the 8-byte codes, exact re-rank of that short list to
    * top-`topk`. Only the short list ever touches the full vectors.
    */
  def search(spark: SparkSession, dir: String, topk: Int = 10,
             overfetch: Int = 50, qid: Long = 0): DataFrame = {
    val cb = getOrBuild(spark, dir)
    val q = Ann.queryArray(spark, dir, qid)
    val adc = (code: Column) => ExpressionUtils.column(
      PqAdcDistance(ExpressionUtils.expression(code), adcTable(cb, q)))
    val shortList = codes(spark, dir)
      .filter(col("vec_id") =!= qid)
      .withColumn("adc", adc(col("code")))
      .orderBy(col("adc"), col("vec_id"))
      .limit(overfetch)
      .select("vec_id")
    Ann.rerank(spark, dir, shortList, topk, qid)
  }

  /** B18: IVFADC — the canonical billion-scale ANN layout (IVF cell
    * pruning × PQ byte compression, Jégou et al. TPAMI 2011): probe the
    * nprobe nearest cells, ADC-scan ONLY those cells' 8-byte codes,
    * exact re-rank of the short list. Scan bytes drop by
    * (nprobe/cells)·(1/32) of the raw corpus — the two pruning axes the
    * reference gets from IVFFlat indexes and we compose declaratively.
    * With `userId`, the permission filter (`Rbac.restrict`) makes it the
    * compressed RBAC serving path (prefilter semantics on the probe
    * set).
    */
  def ivfAdcSearch(spark: SparkSession, dir: String, topk: Int = 10,
                   overfetch: Int = 50, nprobe: Int = 4, cells: Int = 16,
                   userId: Option[Long] = None, qid: Long = 0): DataFrame = {
    val cb = getOrBuild(spark, dir)
    val q = Ann.queryArray(spark, dir, qid)
    val lists = IvfIndex.probeLists(IvfIndex.getOrBuild(spark, dir, cells), q, nprobe)
    val adc = (code: Column) => ExpressionUtils.column(
      PqAdcDistance(ExpressionUtils.expression(code), adcTable(cb, q)))
    // cell pruning = filter on the cell-attached code table (partition
    // pruning over `list_id=` dirs at scale) — no corpus-side join
    val probed = codesWithCells(spark, dir, cells)
      .filter(col("list_id").isin(lists: _*))
      .filter(col("vec_id") =!= qid)
    val filtered = userId.fold(probed)(u =>
      graft.rbac.Rbac.restrict(probed, spark, dir, u, key = "vec_id"))
    val shortList = filtered
      .withColumn("adc", adc(col("code")))
      .orderBy(col("adc"), col("vec_id"))
      .limit(overfetch)
      .select("vec_id")
    Ann.rerank(spark, dir, shortList, topk, qid)
  }
}
