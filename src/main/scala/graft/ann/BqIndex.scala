package graft.ann

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.bits._

/** Binary quantization (BQ): the memory floor of the quantization
  * ladder — raw floats → SQ8 (4×) → PQ (32×) → BQ (256×). Each
  * dimension contributes one bit (`v > per-dim threshold`), so a
  * 64-dim vector scans as a single long; distance is a popcount.
  *
  * Public analogues: pgvector's binary_quantize + bit-vector hamming/
  * jaccard operators (src/bitvec.c:44,59, src/bitutils.c — the
  * reference's own vector engine), faiss IndexBinaryFlat.
  *
  * Thresholds are the per-dimension MEAN (rounded to 4dp), trained in
  * ONE corpus scan exactly like SQ8's grid — sign-bit-at-zero (what
  * pgvector hardcodes) would degenerate on non-centered data (a
  * uniform-positive corpus packs to all-ones). The mean splits every
  * dimension's mass in half, maximizing per-bit information with no
  * extra pass.
  *
  * Exactness split, mirroring SQ/PQ:
  *   - `hammingTopK` / `jaccardTopK` are EXACT top-k in code space —
  *     deterministic bits, fully DuckDB-oracle-checked;
  *   - `search` is the serving path: hamming short-list + exact L2
  *     re-rank on the raw vectors (recall-asserted in ScalaTest).
  */
object BqIndex {

  val Dim = 64

  private val cache = new graft.BuildOnce[Unit, Array[Double]]

  /** Per-dim mean thresholds — one posexplode + groupBy(dim) scan;
    * the shuffle carries dims × partitions partial rows, never corpus
    * data (map-side combine).
    */
  def getOrBuild(spark: SparkSession, dir: String): Array[Double] =
    cache.getOrElseUpdate(spark, dir, ()) {
      val out = new Array[Double](Dim)
      buildReport(spark, dir).collect().foreach(r => out(r.getLong(0).toInt) = r.getDouble(1))
      out
    }

  /** BQ build observable: (dim, thresh) — deterministic (4dp-rounded
    * double mean), fully oracle-checked.
    */
  def buildReport(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(round(avg(col("v").cast("double")), 4).as("thresh"))
      .select(col("dim").cast("long").as("dim"), col("thresh"))
      .orderBy("dim")

  /** (vec_id, bits) — the packed corpus: 1 long per 64 dims. */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val thr = getOrBuild(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), bq_encode(col("embedding"), thr).as("bits"))
  }

  /** Exact hamming top-k in code space (pgvector `<~>`): deterministic
    * bits → oracle replays the per-dim comparisons in DuckDB.
    */
  def hammingTopK(spark: SparkSession, dir: String, k: Int = 10,
                  qid: Long = 0): DataFrame = {
    val q = codes(spark, dir).filter(col("vec_id") === qid)
      .select(col("bits").as("qbits"))
    codes(spark, dir)
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .withColumn("hamming", hamming_dist(col("bits"), col("qbits")))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(k)
      .select("vec_id", "hamming")
  }

  /** Exact bit-jaccard top-k (pgvector `<%>` is the distance form). */
  def jaccardTopK(spark: SparkSession, dir: String, k: Int = 10,
                  qid: Long = 0): DataFrame = {
    val q = codes(spark, dir).filter(col("vec_id") === qid)
      .select(col("bits").as("qbits"))
    codes(spark, dir)
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .withColumn("jaccard", round(bit_jaccard(col("bits"), col("qbits")), 4))
      .orderBy(col("jaccard").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "jaccard")
  }

  /** BQ serving path: hamming short-list over the packed codes (the
    * 256×-smaller scan), exact L2 re-rank of the survivors on raw
    * vectors — the standard two-stage recovery that makes 1-bit codes
    * usable (recall asserted ≥ the fixed bound in BqSpec).
    */
  def search(spark: SparkSession, dir: String, topk: Int = 10,
             overfetch: Int = 100, qid: Long = 0): DataFrame =
    Ann.rerank(spark, dir, hammingTopK(spark, dir, k = overfetch, qid = qid).select("vec_id"),
      topk, qid)
}
