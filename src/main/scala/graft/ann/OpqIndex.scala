package graft.ann

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftInternal => ExpressionUtils}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.{PqAdcDistance, PqEncode}

/** B30: OPQ — product quantization in a learned ROTATED space (Ge et
  * al., "Optimized Product Quantization", CVPR 2013 — the parametric
  * variant: rotate by the full-rank PCA eigenbasis, then allocate
  * components to subspaces balancing variance). Plain PQ (B15) cuts
  * each vector into 8 fixed coordinate groups; when variance is
  * concentrated in a few correlated dimensions, some subquantizers
  * carry most of the distortion while others quantize noise. The
  * orthonormal rotation preserves L2 exactly (B25's lossless-at-full-
  * rank property), so quantizing the ROTATED coordinates changes
  * nothing semantically — it only re-distributes variance so the 8
  * sub-codebooks share the load. faiss ships exactly this composition
  * as `OPQ64,PQ8` pre-transforms.
  *
  * Scale shape is identical to B15/B16: the rotation is k codegen'd
  * dot kernels against broadcast-literal component rows (zero
  * shuffle), training runs 8 independent seeded KMeans fits over the
  * rotated slices, and serving is ADC over 8-byte codes + exact
  * re-rank of the short list in ORIGINAL space. The eigenvalue-
  * balanced allocation itself is driver arithmetic over the 64-entry
  * spectrum — metadata, like the eigensolve it reads.
  *
  * Reference analogue: the rotation rung the IVFADC family composes
  * with (vendored hnswlib/ACORN serve raw vectors; pgvector has no
  * OPQ — this is the quantization ladder's missing rotation step).
  */
object OpqIndex {

  val Dim = PqIndex.Dim
  val NumSub = PqIndex.NumSub
  val SubDim: Int = Dim / NumSub

  /** Eigenvalue-balanced subspace allocation (OPQ-P's free-parameter
    * half): components arrive eigenvalue-DESCENDING from the PCA
    * model; each is assigned to the non-full subspace with the
    * smallest log-eigenvalue sum (ties → smaller subspace id), so the
    * products of per-subspace eigenvalues — each subquantizer's
    * variance budget — come out as equal as a greedy can make them.
    * Returns the component index at each POSITION (position p sits in
    * subspace p / SubDim). Deterministic driver arithmetic over the
    * d-entry spectrum.
    */
  private[graft] def allocate(eigenvalues: Array[Double], nSub: Int = NumSub): Array[Int] = {
    val subDim = eigenvalues.length / nSub
    require(subDim * nSub == eigenvalues.length,
      s"dim ${eigenvalues.length} not divisible into $nSub subspaces")
    val sums = Array.fill(nSub)(0.0)
    val counts = new Array[Int](nSub)
    val members = Array.fill(nSub)(List.empty[Int])
    eigenvalues.indices.foreach { c =>
      val open = (0 until nSub).filter(counts(_) < subDim)
      val s = open.minBy(s => (sums(s), s))
      sums(s) += math.log(math.max(eigenvalues(c), 1e-12))
      members(s) ::= c
      counts(s) += 1
    }
    members.flatMap(_.reverse) // per-subspace assignment order, subspaces concatenated
  }

  private def order(spark: SparkSession, dir: String): Array[Int] =
    allocate(Pca.model(spark, dir, Dim).eigenvalues)

  private val rotatedCache = new graft.SessionCache[Unit, DataFrame]

  /** (vec_id, proj) — the corpus in the permuted eigenbasis, persisted
    * once per session (the rotation feeds 8 KMeans fits + the encode
    * scan; at 100 TB this is the rotated copy an OPQ index stores).
    */
  private[graft] def rotated(spark: SparkSession, dir: String): DataFrame =
    rotatedCache.getOrElseUpdate(spark, dir, ()) {
      val m = Pca.model(spark, dir, Dim)
      Pca.projectComponents(Tables.embeddings(spark, dir), m, order(spark, dir).toSeq)
        .select("vec_id", "proj")
        .persist()
    }

  private val cbCache = new graft.SessionCache[Unit, PqIndex.Codebook]

  /** Sub-codebooks trained on the ROTATED slices — PqIndex's training
    * shape (independent seeded fits, concurrent), different input
    * space. Session-scoped: the fit reads the session-persisted
    * rotated frame.
    */
  def getOrBuild(spark: SparkSession, dir: String): PqIndex.Codebook =
    cbCache.getOrElseUpdate(spark, dir, ()) {
      val base = rotated(spark, dir).select("proj")
      val cents = graft.Session.parMap(spark, 0 until NumSub) { s =>
        val sub = base.select(
          array_to_vector(slice(col("proj"), s * SubDim + 1, SubDim)
            .cast("array<double>")).as("features"))
        new KMeans().setK(PqIndex.CodesPerSub).setSeed(91L + s).setMaxIter(5)
          .setInitMode("random").setFeaturesCol("features")
          .fit(sub).clusterCenters.map(_.toArray.map(_.toFloat))
      }.toArray
      PqIndex.Codebook(cents)
    }

  /** (vec_id, code) — 8-byte codes of the rotated corpus. */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val cb = getOrBuild(spark, dir)
    rotated(spark, dir).select(col("vec_id"),
      ExpressionUtils.column(
        PqEncode(ExpressionUtils.expression(col("proj")), cb.centroids)).as("code"))
  }

  /** Oracle sidecar frames: the permuted rotation rows exactly as the
    * plan bakes them (FLOAT component vectors in POSITION order + FLOAT
    * mean offsets — Pca.componentFrame's convention) and the
    * rotated-space codebook (PqIndex.codebookFrame's). The ALLOCATION
    * choice itself stays spec-territory, like the k-means fits and the
    * greedy qd-tree splits: the oracle replays rotation, encode, ADC
    * and re-rank from the emitted constants.
    */
  def componentFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Pca.model(spark, dir, Dim)
    order(spark, dir).toSeq.zipWithIndex.map { case (c, p) =>
      (p, m.components(c).map(_.toFloat).toSeq, Pca.meanOffset(m, c).toFloat)
    }.toDF("p", "comp", "offset")
  }

  def codebookFrame(spark: SparkSession, dir: String): DataFrame =
    PqIndex.codebookRows(spark, getOrBuild(spark, dir))

  /** `ann_opq_build`: subspace-0 code-usage histogram (B15's build
    * observable, rotated space) — deterministic given the emitted
    * constants, oracle-replayed end to end (rotation + encode).
    */
  def buildReport(spark: SparkSession, dir: String): DataFrame =
    codes(spark, dir)
      .select(expr("CAST(conv(hex(substring(code, 1, 1)), 16, 10) AS INT)").as("code0"))
      .groupBy("code0").agg(count(lit(1)).as("n"))
      .orderBy("code0")

  /** `ann_opq_search`: ADC over the rotated codes (the query is pushed
    * through the SAME projection kernel, so its floats match the
    * stored side bit-for-bit), shortlist, exact re-rank in ORIGINAL
    * space. Distances are rotation-invariant, so the semantics equal
    * B16's at the same byte budget — with the variance spread across
    * subquantizers instead of wherever the raw axes put it.
    */
  def search(spark: SparkSession, dir: String, topk: Int = 10,
             overfetch: Int = 50, qid: Long = 0): DataFrame = {
    val cb = getOrBuild(spark, dir)
    val m = Pca.model(spark, dir, Dim)
    val qRot = Pca.projectComponents(
        Tables.embeddings(spark, dir).filter(col("vec_id") === qid).select("embedding"),
        m, order(spark, dir).toSeq)
      .select("proj").head().getSeq[Float](0).toArray
    val adc = ExpressionUtils.column(
      PqAdcDistance(ExpressionUtils.expression(col("code")),
        PqIndex.adcTable(cb, qRot)))
    val shortList = codes(spark, dir)
      .filter(col("vec_id") =!= qid)
      .withColumn("adc", adc)
      .orderBy(col("adc"), col("vec_id"))
      .limit(overfetch)
      .select("vec_id")
    Ann.rerank(spark, dir, shortList, topk, qid)
  }
}
