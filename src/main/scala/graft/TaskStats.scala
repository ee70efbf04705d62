package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Straggler instrumentation (`sbt "runMain graft.TaskStats [names...]"`).
  *
  * Runs heavy queries SERIALLY with a task listener and prints one JSON
  * line per query with the task-time distribution of its largest stage
  * and the worst per-stage skew (max/median task duration over stages
  * with ≥ 4 tasks). Skew near 1 means no partition straggles — the
  * property that decides whether a plan survives a 100× scale-up: at
  * 100 TB the max task IS the stage time, so a skewed key (hot role,
  * hot band, hot cell) shows up here first. Results recorded in
  * SKEW.md per round.
  */
object TaskStats {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_skew_sidecars") // see Bench — don't clobber the oracle path
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val byStage = TrieMap.empty[Int, ArrayBuffer[Long]]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null) synchronized {
          byStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
        }
    })

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "ann_knn_graph", "dedup_minhash_lsh", "dedup_ngram_jaccard",
      "dedup_embedding", "rbac_batch_ground_truth", "rbac_selectivity_stats",
      "events_sessionize", "q5_local_volume", "ann_batch_topk")

    // warm indexes + JVM so steady-state task times are measured
    try {
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
      graft.ann.IvfIndex.withCells(spark, sfDir, 16).count()
      graft.ann.IvfIndex.cellRadii(spark, sfDir, 16)
      graft.ann.IvfIndex.getOrBuildUnit(spark, sfDir, 8)
      graft.ann.IvfIndex.cellRadii(spark, sfDir, 8, unit = true)
    } catch { case _: Throwable => () }

    names.foreach { n =>
      byStage.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      val stages = byStage.toSeq.map { case (sid, ds) =>
        val sorted = ds.toArray.sorted
        (sid, sorted.length, sorted(sorted.length / 2), sorted.last)
      }
      val big = stages.maxBy(_._2) // the stage doing the real work
      val worstSkew = stages.filter(_._2 >= 4)
        .map { case (_, _, med, max) => max.toDouble / math.max(med, 1L) }
        .reduceOption(_ max _).getOrElse(1.0)
      // Locale.ROOT (the r10 scaleSidecarJson advice): a comma-decimal
      // default locale must not corrupt the JSON
      def rt2(d: Double) =
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      println(s"""{"query":"$n","stages":${stages.length},"big_stage_tasks":${big._2},"big_stage_median_ms":${big._3},"big_stage_max_ms":${big._4},"worst_stage_skew":${rt2(worstSkew)},"wall_s":${rt2(wall)}}""")
    }
    spark.stop()
  }
}
