package graft.ann

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.half._
import graft.functions.vector._

/** B29 `ann_half_topk`: half-precision (fp16) vector search — the
  * 2× no-training rung of the quantization ladder and the analogue
  * of pgvector's `halfvec` type (src/halfvec.c: halfvec_l2_distance
  * runs on the fp16-rounded values). Search semantics are EXACT
  * top-k over the rounded vectors: corpus and query both pass
  * through binary16 RNE (`half_round`), distances in full precision
  * — precisely what a halfvec column serves. No build job, no
  * sidecar: encode is pure per-element rounding, so the at-scale
  * form is a 2-byte/dim stored column (`half_bits`) decoded in-scan.
  *
  * Plan shape: one corpus scan with the codegen'd rounding kernel
  * fused in, 1-row query broadcast, TakeOrderedAndProject top-k —
  * identical to the raw brute-force plan, half the scan bytes at
  * rest. Oracle-checked since r11: DuckDB has no fp16, but every
  * binary16 value IS exactly a float, so the rounded corpus persists
  * as a sidecar (the quantization — the only non-SQL step) and the
  * ranking replays as the standard double-accumulated L2 top-k over
  * it, query row included (same discipline as the simhash signature
  * sidecar). HalfSpec's table-search reference + boundary sweep stays
  * the CONVERSION's correctness gate; the oracle value-checks the
  * search over the converted values.
  */
object Half {

  /** Oracle sidecar frame: the rounded corpus (vec_id, hvec). */
  def halfVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), half_round(col("embedding")).as("hvec"))

  def halfTopK(spark: SparkSession, dir: String, k: Int = 10,
               qid: Long = 0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === qid)
      .select(half_round(col("embedding")).as("qvec"))
    emb.filter(col("vec_id") =!= qid)
      .select(col("vec_id"), half_round(col("embedding")).as("hvec"))
      .crossJoin(broadcast(q))
      .withColumn("dist", l2_dist(col("hvec"), col("qvec")))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
      .select("vec_id")
  }
}
