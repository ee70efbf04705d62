package graft.ann

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.vector._

/** Random-hyperplane LSH for cosine similarity (B5).
  *
  * The signature is `nBits` sign bits of dot products against seeded
  * pseudo-random hyperplanes — deterministic across runs. Search scans
  * only the query's bucket plus all hamming-1 neighbor buckets
  * (multiprobe), then re-ranks exactly. The bucket scan is a partition
  * prune at scale (signature = partition key), same story as IVF.
  */
object Lsh {
  val NumBits = 12
  val Dim = 64

  /** Seeded deterministic hyperplanes (tiny: nBits × dim floats). */
  lazy val hyperplanes: Array[Array[Float]] = {
    val rnd = new Random(42)
    Array.fill(NumBits)(Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Column: the signature of an embedding column. */
  def signature(emb: Column): Column =
    (0 until NumBits).map { i =>
      when(dot(emb, typedLit(hyperplanes(i).toSeq)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  def signatureOf(v: Array[Float]): Int =
    (0 until NumBits).map { i =>
      val h = hyperplanes(i)
      var s = 0.0; var j = 0
      while (j < Dim) { s += v(j).toDouble * h(j); j += 1 }
      if (s > 0) 1 << i else 0
    }.sum

  /** Oracle sidecar (r11): the seeded hyperplane matrix (bit, plane) —
    * 12 rows of 64 floats. The signature is sign bits of double dot
    * products against these CONSTANTS, so given the sidecar DuckDB
    * replays the whole key — signatures, the multiprobe bucket set,
    * the bucket scan and the exact cosine re-rank — making B5 fully
    * oracle-checked (it was rows-only only because the seeded matrix
    * itself has no SQL derivation).
    */
  def hyperplaneFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    hyperplanes.zipWithIndex.toSeq
      .map { case (p, i) => (i, p.toSeq) }
      .toDF("bit", "plane")
  }

  /** B5: multiprobe LSH cosine search for query vec_id=0, top-k. */
  def search(spark: SparkSession, dir: String, topk: Int = 10, qid: Long = 0): DataFrame = {
    val q = Ann.queryArray(spark, dir, qid)
    val qsig = signatureOf(q)
    val probes = qsig +: (0 until NumBits).map(b => qsig ^ (1 << b))
    Ann.withQuery(Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .withColumn("sig", signature(col("embedding")))
      .filter(col("sig").isin(probes: _*))
      .filter(col("vec_id") =!= qid), q)
      .withColumn("sim", cosine_sim(col("embedding"), col("qvec")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(topk)
      .select("vec_id", "sig")
  }
}
