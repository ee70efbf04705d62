package graft.ann

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftInternal => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.vector.l2_dist

/** B25: PCA — the dimensionality-reduction rung of the ANN ladder
  * (rotate-then-truncate before indexing; OPQ's "O"): brute-force scan
  * cost is linear in dims, so projecting 64-dim embeddings to the top
  * k' principal components cuts every downstream distance kernel by
  * 64/k' while keeping most of the variance — and because the rotation
  * is orthonormal, projecting onto ALL components preserves L2
  * distances exactly (the lossless-at-full-rank property the spec
  * asserts, the same shape as IVF's lossless-at-full-probe).
  *
  * Scale split — the part that must be distributed vs the part that
  * must not:
  *   - MOMENTS are data-sized: one pass over the corpus through a
  *     `TypedImperativeAggregate` holding (n, Σx, upper-tri Σxxᵀ) —
  *     d + d(d+1)/2 doubles ≈ 17 KB of state at d=64, partial-merged
  *     map-side, so the shuffle carries ONE buffer per task, never
  *     rows.
  *   - The EIGENSOLVE is dim²-bounded metadata: a 64×64 covariance
  *     eigendecomposition is driver arithmetic (power iteration with
  *     deflation), exactly like the k-means centroid sidecars — putting
  *     it in a distributed job would add shuffles to compute a 32 KB
  *     matrix.
  *   - PROJECTION is data-sized again: k' dot kernels against
  *     broadcast-literal component vectors, codegen'd, zero shuffle.
  */
object Pca {

  // ---- one-pass second-moment aggregate ----

  final class CovBuffer(val d: Int) {
    var n: Long = 0L
    val sum = new Array[Double](d)
    val prod = new Array[Double](d * (d + 1) / 2) // row-major upper triangle

    def add(v: ArrayData): Unit = {
      require(v.numElements() == d, s"dim ${v.numElements()} != $d")
      n += 1
      var i = 0; var t = 0
      while (i < d) {
        val xi = v.getFloat(i).toDouble
        sum(i) += xi
        var j = i
        while (j < d) { prod(t) += xi * v.getFloat(j); t += 1; j += 1 }
        i += 1
      }
    }

    def mergeFrom(o: CovBuffer): Unit = {
      n += o.n
      var i = 0
      while (i < d) { sum(i) += o.sum(i); i += 1 }
      var t = 0
      while (t < prod.length) { prod(t) += o.prod(t); t += 1 }
    }
  }

  /** `cov_moments(vec, d)` → struct(n, sum: array<double>,
    * prod: array<double>) — the sufficient statistics of the
    * covariance matrix in one partial-aggregatable pass.
    */
  case class CovMoments(
      vec: Expression,
      d: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CovBuffer] {

    override def children: Seq[Expression] = Seq(vec)
    override def nullable: Boolean = false
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType),
      StructField("sum", ArrayType(DoubleType, containsNull = false)),
      StructField("prod", ArrayType(DoubleType, containsNull = false))))
    override def prettyName: String = "cov_moments"

    override def createAggregationBuffer(): CovBuffer = new CovBuffer(d)

    override def update(buf: CovBuffer, input: InternalRow): CovBuffer = {
      val v = vec.eval(input)
      if (v != null) buf.add(v.asInstanceOf[ArrayData])
      buf
    }

    override def merge(buf: CovBuffer, other: CovBuffer): CovBuffer = {
      buf.mergeFrom(other); buf
    }

    override def eval(buf: CovBuffer): Any =
      InternalRow(buf.n, new GenericArrayData(buf.sum), new GenericArrayData(buf.prod))

    override def serialize(buf: CovBuffer): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + 8 * (buf.d + buf.prod.length))
      bb.putLong(buf.n)
      buf.sum.foreach(bb.putDouble)
      buf.prod.foreach(bb.putDouble)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): CovBuffer = {
      val bb = ByteBuffer.wrap(bytes)
      val buf = new CovBuffer(d)
      buf.n = bb.getLong
      var i = 0
      while (i < d) { buf.sum(i) = bb.getDouble; i += 1 }
      var t = 0
      while (t < buf.prod.length) { buf.prod(t) = bb.getDouble; t += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(offset: Int): CovMoments =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): CovMoments =
      copy(inputAggBufferOffset = offset)
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
      copy(vec = cs(0))
  }

  def cov_moments(vec: Column, d: Int): Column =
    ExpressionUtils.column(
      CovMoments(ExpressionUtils.expression(vec), d).toAggregateExpression())

  // ---- driver-side eigensolve on the dim²-bounded matrix ----

  case class PcaModel(d: Int, n: Long, mean: Array[Double],
                      eigenvalues: Array[Double],
                      components: Array[Array[Double]], // k' rows of length d
                      totalVariance: Double)

  /** Power iteration with Hotelling deflation — deterministic start
    * (basis vector of the largest diagonal entry), 200 iterations per
    * component. On a 64×64 PSD covariance this converges far past the
    * float precision of the inputs; a production system with d in the
    * thousands would swap in LAPACK via a JNI BLAS, same sidecar shape.
    */
  private[graft] def topEigen(cov: Array[Array[Double]], k: Int): (Array[Double], Array[Array[Double]]) = {
    val d = cov.length
    val a = Array.tabulate(d, d)((i, j) => cov(i)(j)) // deflated copy
    val vals = new Array[Double](k)
    val vecs = new Array[Array[Double]](k)
    var c = 0
    while (c < k) {
      val v = new Array[Double](d)
      v(((0 until d).maxBy(i => a(i)(i)) + c) % d) = 1.0
      var it = 0
      while (it < 200) {
        val w = new Array[Double](d)
        var i = 0
        while (i < d) {
          var s = 0.0; var j = 0
          while (j < d) { s += a(i)(j) * v(j); j += 1 }
          w(i) = s; i += 1
        }
        // re-orthogonalize against found components every step: with a
        // near-degenerate spectrum (isotropic-ish embeddings) deflation
        // residue otherwise bleeds earlier directions back in
        var cc = 0
        while (cc < c) {
          val u = vecs(cc)
          var dp = 0.0; var i3 = 0
          while (i3 < d) { dp += w(i3) * u(i3); i3 += 1 }
          i3 = 0
          while (i3 < d) { w(i3) -= dp * u(i3); i3 += 1 }
          cc += 1
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm < 1e-300) it = 200 // null space: keep current v
        else { var i2 = 0; while (i2 < d) { v(i2) = w(i2) / nrm; i2 += 1 } }
        it += 1
      }
      // Rayleigh quotient = eigenvalue for the converged direction
      val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
      val lam = (0 until d).map(i => v(i) * av(i)).sum
      vals(c) = math.max(lam, 0.0)
      vecs(c) = v
      // deflate: a -= λ v vᵀ
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { a(i)(j) -= lam * v(i) * v(j); j += 1 }
        i += 1
      }
      c += 1
    }
    // near-equal eigenvalues can emerge micro-disordered from the
    // deflation sequence; present the spectrum sorted
    val order = (0 until k).sortBy(i => -vals(i))
    (order.map(vals).toArray, order.map(vecs).toArray)
  }

  private val modelCache = new graft.BuildOnce[Int, PcaModel]

  /** Fit (or reuse) the PCA model: one distributed moments pass + the
    * driver eigensolve. Built once per (dir, k) like the other index
    * sidecars.
    */
  def model(spark: SparkSession, dir: String, k: Int): PcaModel =
    modelCache.getOrElseUpdate(spark, dir, k) {
      val emb = Tables.embeddings(spark, dir)
      val d = emb.select(size(col("embedding"))).head().getInt(0)
      val row = emb.agg(cov_moments(col("embedding"), d).as("m")).head()
        .getStruct(0)
      val n = row.getLong(0)
      val s = row.getSeq[Double](1).toArray
      val p = row.getSeq[Double](2).toArray
      val mean = s.map(_ / n)
      val cov = Array.ofDim[Double](d, d)
      var i = 0; var t = 0
      while (i < d) {
        var j = i
        while (j < d) {
          val c = p(t) / n - mean(i) * mean(j)
          cov(i)(j) = c; cov(j)(i) = c
          t += 1; j += 1
        }
        i += 1
      }
      val total = (0 until d).map(i => cov(i)(i)).sum
      val (vals, vecs) = topEigen(cov, k)
      PcaModel(d, n, mean, vals, vecs, total)
    }

  /** Per-component mean offset — ONE definition shared by `project`
    * (which bakes it into the plan as a float literal) and the oracle
    * sidecar frame, so the replayed constants cannot drift from the
    * planned ones.
    */
  private[graft] def meanOffset(m: PcaModel, c: Int): Double = {
    val comp = m.components(c)
    (0 until m.d).map(i => comp(i) * m.mean(i)).sum
  }

  /** Oracle sidecar frame: the projection constants exactly as
    * `project` bakes them into the plan — FLOAT component vectors and
    * the FLOAT mean offsets — so the oracle replays projection,
    * projected-space shortlist and exact re-rank.
    */
  def componentFrame(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir, k)
    (0 until k).map { c =>
      (c, m.components(c).map(_.toFloat).toSeq, meanOffset(m, c).toFloat)
    }.toDF("c", "comp", "offset")
  }

  /** Project onto the first k' components: k' codegen'd dot kernels
    * against broadcast-literal component vectors; the per-component
    * mean offset is a plan-time constant.
    */
  def project(df: DataFrame, m: PcaModel, kPrime: Int, vecCol: String = "embedding",
              outCol: String = "proj"): DataFrame =
    projectComponents(df, m, 0 until kPrime, vecCol, outCol)

  /** Same projection against an EXPLICIT component sequence — lets a
    * caller permute the rotation (OpqIndex's eigenvalue-balanced
    * subspace allocation) while sharing the one per-coordinate
    * expression (and float constants) with `project`.
    */
  def projectComponents(df: DataFrame, m: PcaModel, comps: Seq[Int],
                        vecCol: String = "embedding",
                        outCol: String = "proj"): DataFrame = {
    val cols = comps.map { c =>
      (graft.functions.vector.dot(col(vecCol),
        typedLit(m.components(c).map(_.toFloat))) -
        lit(meanOffset(m, c).toFloat)).cast("float")
    }
    df.withColumn(outCol, array(cols: _*))
  }

  /** `ann_pca_build`: per-component eigenvalue + explained-variance
    * report (k rows — the sidecar summary).
    */
  def pcaBuild(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    import spark.implicits._
    val m = model(spark, dir, k)
    val cum = m.eigenvalues.scanLeft(0.0)(_ + _).drop(1)
    (0 until k).map { c =>
      (c.toLong, math.rint(m.eigenvalues(c) * 1e6) / 1e6,
        math.rint(m.eigenvalues(c) / m.totalVariance * 1e4) / 1e4,
        math.rint(cum(c) / m.totalVariance * 1e4) / 1e4)
    }.toDF("component", "eigenvalue", "var_ratio", "cum_ratio")
      .orderBy("component")
  }

  /** `ann_pca_topk`: two-phase search — shortlist by projected-space
    * L2 (k'-dim kernels: 64/k'× cheaper per row), exact re-rank of the
    * shortlist in full space. At k' = d the projection is a pure
    * rotation and the shortlist order IS the exact order (asserted);
    * at k' ≪ d recall is bounded by the spec against brute force.
    *
    * Default k' = d/2: the testdata embeddings are near-isotropic
    * (spectrum ≈ flat — pcaBuild shows per-component ratios near 1/d),
    * which is the WORST case for truncation; half-rank keeps recall
    * ≥0.8 with a 10%-of-corpus shortlist while halving every kernel.
    * On real embedding corpora (spectra decay fast) k' ≪ d/2 holds the
    * same recall — the build report is exactly the evidence to pick k'.
    */
  def pcaTopK(spark: SparkSession, dir: String, k: Int = 10, kPrime: Int = 32,
              shortlist: Int = 50): DataFrame = {
    val m = model(spark, dir, kPrime)
    val corpus0 = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding")
    // the query's projection folds to a literal: the same per-coordinate
    // expression as the corpus side, over the bound query vector
    val projected = Ann.withQuery(project(corpus0, m, kPrime), spark, dir, 0)
    val short = project(projected, m, kPrime, vecCol = "qvec", outCol = "qproj")
      .withColumn("pdist", l2_dist(col("proj"), col("qproj")))
      .orderBy(col("pdist"), col("vec_id"))
      .limit(shortlist)
    Ann.firstK(Ann.withDist(short), k, "vec_id").select("vec_id")
  }
}
