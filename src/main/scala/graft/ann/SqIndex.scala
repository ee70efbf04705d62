package graft.ann

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.{Sq8AdcDistance, Sq8Encode}
import org.apache.spark.sql.graft.{GraftInternal => ExpressionUtils}

/** Scalar quantization (SQ8, B20): each float dimension compressed to
  * one byte against trained per-dimension [lo, hi] ranges — 4× fewer
  * scan bytes than raw floats at far higher fidelity than PQ's 32×
  * (the standard middle rung of the quantization ladder: raw → SQ8 →
  * PQ; pgvector's halfvec/scalar options and faiss
  * IndexScalarQuantizer are the public analogues, reference use at
  * common_function.py's index options).
  *
  * Training is ONE corpus scan: per-dimension min/max via posexplode +
  * groupBy(dim) — map-side partial aggregation means the shuffle
  * carries only dims × partitions tiny rows, never corpus data. Search
  * is the same asymmetric-distance shape as PQ: a per-query [dim][256]
  * table of (q[i] − dequant(c))², byte-indexed lookups in a codegen'd
  * kernel, exact re-rank of the short list.
  */
object SqIndex {

  val Dim = 64

  /** Per-dimension quantization grid: code c ↦ lo(i) + c·step(i). */
  final case class Grid(lo: Array[Float], step: Array[Float])

  private val cache = new graft.BuildOnce[Unit, Grid]

  def getOrBuild(spark: SparkSession, dir: String): Grid =
    cache.getOrElseUpdate(spark, dir, ()) {
      val stats = dimStats(spark, dir).collect()
      val lo = new Array[Float](Dim)
      val step = new Array[Float](Dim)
      stats.foreach { r =>
        val d = r.getInt(0)
        val (mn, mx) = (r.getFloat(1), r.getFloat(2))
        lo(d) = mn
        // degenerate (constant) dims still need a nonzero step: every
        // value then encodes to 0 and dequantizes exactly
        step(d) = if (mx > mn) (mx - mn) / 255.0f else 1.0f
      }
      Grid(lo, step)
    }

  /** (dim, lo, hi) over the corpus — the training scan. */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))

  private def encodeCol(emb: Column, g: Grid): Column =
    ExpressionUtils.column(Sq8Encode(ExpressionUtils.expression(emb), g.lo, g.step))

  /** (vec_id, code) — the byte-compressed corpus. */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val g = getOrBuild(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), encodeCol(col("embedding"), g).as("code"))
  }

  /** B20 build observable — the per-dimension value ranges the grid is
    * trained on (deterministic, so fully oracle-checked).
    */
  def buildReport(spark: SparkSession, dir: String): DataFrame =
    dimStats(spark, dir)
      .select(col("dim").cast("long").as("dim"),
        round(col("lo").cast("double"), 4).as("lo"),
        round(col("hi").cast("double"), 4).as("hi"))
      .orderBy("dim")

  /** Per-query ADC table [dim][256]: (q(i) − (lo(i)+c·step(i)))². */
  private[graft] def adcTable(g: Grid, q: Array[Float]): Array[Array[Float]] =
    Array.tabulate(Dim, 256) { (i, c) =>
      val d = q(i) - (g.lo(i) + c * g.step(i)); d * d
    }

  /** B20 search: byte-scan short list + exact re-rank (same two-stage
    * shape as PQ search; the short list is the only thing that ever
    * touches raw vectors).
    */
  def search(spark: SparkSession, dir: String, topk: Int = 10,
             overfetch: Int = 50, qid: Long = 0): DataFrame = {
    val g = getOrBuild(spark, dir)
    val q = Ann.queryArray(spark, dir, qid)
    val adc = (code: Column) => ExpressionUtils.column(
      Sq8AdcDistance(ExpressionUtils.expression(code), adcTable(g, q)))
    val shortList = codes(spark, dir)
      .filter(col("vec_id") =!= qid)
      .withColumn("adc", adc(col("code")))
      .orderBy(col("adc"), col("vec_id"))
      .limit(overfetch)
      .select("vec_id")
    Ann.rerank(spark, dir, shortList, topk, qid)
  }
}
