package graft

import org.apache.spark.sql.functions._

import graft.functions.vector._
import graft.operators.TopKAgg.topk_ids

/** Large-SF equivalence harness (`sbt "runMain graft.Equivalence"`) —
  * re-proves, at whatever SF `SPARK_GRAFT_SF_DIR` points to, that the
  * blocked/cell-pruned operators equal their quadratic formulations
  * computed by INDEPENDENT plans (broadcast crossJoin + bounded-heap
  * aggregate — no shared code path with the blocked builds). The
  * ScalaTest suite asserts this at sf0.001 against driver-side brute
  * force; this main is the scale evidence (sf0.01/sf0.1 runs recorded
  * in SURVEY §7 per round). Prints one JSON line; exits non-zero on
  * any inequality.
  */
object Equivalence {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")

    // exact cell-bucketed kNN graph vs quadratic batch top-k
    val g = graft.ann.Ann.knnGraph(spark, sfDir, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val gt = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id")
      .agg(topk_ids(l2_dist(col("embedding"), col("qvec")), col("vec_id"), 5).as("ids"))
      .select(col("query_id").as("src"), explode(col("ids")).as("nbr"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val knnEqual = g == gt

    // blocked cosine near-dup vs quadratic pair scan
    val p = graft.dedup.Dedup.embeddingPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = e.select(col("vec_id").as("vec1"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("vec2"), col("embedding").as("e2"))
    val quad = a.crossJoin(b)
      .filter(col("vec1") < col("vec2"))
      .withColumn("cos_sim", round(cosine_sim(col("e1"), col("e2")), 4))
      .filter(col("cos_sim") >= 0.45)
      .select("vec1", "vec2", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairsEqual = p == quad

    // triangle-pruned range search vs plain range scan
    val pruned = graft.ann.IvfIndex.rangeSearchTriangle(spark, sfDir, 1.3)
      .collect().map(_.getLong(0)).toSeq
    val brute = graft.ann.Ann.rangeSearch(spark, sfDir, 1.3)
      .collect().map(_.getLong(0)).toSeq
    val rangeEqual = pruned == brute

    // bloom-prefiltered decontamination vs the exact broadcast gate
    val exact = graft.dedup.Dedup.decontaminate(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloomed = graft.dedup.Dedup.decontaminateBloom(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val decontamEqual = exact == bloomed

    // substring dedup: hash-prefiltered two-phase vs string-only
    // single-phase (the C9 exactness claim — a 64-bit collision could
    // only ever add verify work, never a row; proven per-SF here)
    val w = 6
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_words"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - w),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(w))))))
      .toDF("doc_id", "n_words", "pos", "gram")
    val sharedGrams = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1).select("gram")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val direct = grams.join(sharedGrams, Seq("gram"), "left_semi")
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("newrun",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("run", sum("newrun").over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("doc_id", "n_words", "run")
      .agg(count(lit(1)).as("nw"), (max("pos") + w - min("pos")).as("cov"))
      .groupBy("doc_id", "n_words")
      .agg(sum("nw").as("n_dup_windows"), sum("cov").as("covered_words"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val twoPhase = graft.dedup.Dedup.substringSpans(spark, sfDir, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val substrEqual = twoPhase == direct

    println(s"""{"sf":"${JsonOut.escape(sfDir)}","knn_graph_equal":$knnEqual,"knn_edges":${g.size},""" +
      s""""embedding_pairs_equal":$pairsEqual,"pairs":${p.size},""" +
      s""""range_triangle_equal":$rangeEqual,"range_rows":${brute.length},""" +
      s""""decontam_bloom_equal":$decontamEqual,"contaminated":${exact.size},""" +
      s""""substring_twophase_equal":$substrEqual,"substring_docs":${twoPhase.size}}""")
    spark.stop()
    if (!(knnEqual && pairsEqual && rangeEqual && decontamEqual && substrEqual)) sys.exit(1)
  }
}
