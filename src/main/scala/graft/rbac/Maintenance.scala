package graft.rbac

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.ann.Ann

/** Index/partition maintenance surface of the reference's dynamic
  * partitioning (controller/dynamic_partition/hnsw/deletion.py,
  * heavy_partition_refine.py, basic_benchmark/generate_queries.py).
  *
  * Spark-first: deletion is a tombstone anti-join (no in-place mutation
  * at 100 TB — you re-materialize or filter), refinement is a
  * deterministic re-keying of overloaded partitions, and workload
  * generation is pure column arithmetic.
  */
object Maintenance {

  /** Tombstoned documents: every 17th doc (deterministic stand-in for
    * the reference's deletion batches).
    */
  def tombstones(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("document_id"))
      .filter(col("document_id") % 17 === 0)

  /** A13: prefilter top-k AFTER applying deletions (deletion.py — the
    * search must not resurrect deleted blocks). Anti-join on the
    * tombstone set inside the scan stage.
    */
  def deleteAwareTopK(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame = {
    val live = Rbac.blocks(spark, dir)
      .join(broadcast(tombstones(spark, dir)), Seq("document_id"), "left_anti")
    Ann.firstK(Ann.scored(Rbac.restrict(live, spark, dir, userId), Rbac.queryVector(spark, dir)),
      k, "block_id")
      .select("block_id", "document_id")
  }

  /** A14: heavy-partition refinement (heavy_partition_refine.py):
    * partitions holding more than `threshold` blocks split by a second
    * deterministic hash digit; report the refined load map.
    */
  def partitionRefine(spark: SparkSession, dir: String, nParts: Int = 8,
                      threshold: Long = 80L): DataFrame = {
    val layout = Partitioned.dynamicLayout(spark, dir, nParts)
      .withColumn("sub_id", ascii(substring(md5(col("comb_key")), 2, 1)) % 4)
    val withLoad = Rbac.blocks(spark, dir).select("document_id")
      .join(layout, "document_id")
      .withColumn("load", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("partition_id")))
    withLoad
      .withColumn("refined_pid",
        when(col("load") > threshold, col("partition_id") * 100 + col("sub_id"))
          .otherwise(col("partition_id")))
      .groupBy("refined_pid")
      .agg(count(lit(1)).as("n_blocks"))
      .orderBy("refined_pid")
  }

  /** A15: deterministic query-workload generation
    * (generate_queries.py / services/rbac_generator): one query per
    * customer key 0..nQueries — nQueries + 1 queries, since keys start
    * at 0 — pairing user u with query vector (u*7) mod corpus-size.
    */
  def workloadGen(spark: SparkSession, dir: String, nQueries: Int = 20): DataFrame = {
    val total = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vecs"))
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"))
      .filter(col("user_id") <= nQueries)
      .crossJoin(broadcast(total))
      .select(
        col("user_id").as("query_id"),
        col("user_id"),
        ((col("user_id") * 7) % col("n_vecs")).as("vec_id"),
        lit(10).as("topk"))
      .orderBy("query_id")
  }
}
