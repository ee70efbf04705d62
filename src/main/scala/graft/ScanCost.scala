package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vector._

/** Quantized-scan cost measurement (`sbt "runMain graft.ScanCost"`) —
  * substantiates the quantization ladder's scan-byte claims (SQ8 = 4×
  * fewer bytes than raw floats, PQ = 32×) with measured full-scan
  * distance-kernel times over the SAME persisted row count: each scan
  * computes the per-row distance (raw L2 / SQ8 ADC / PQ ADC) and sums
  * it — no top-k, no re-rank, so the timing isolates scan + kernel.
  * Each frame is persisted and pre-counted; reported time is the
  * median of `reps` runs. One JSON line; recorded in CALIBRATION.md.
  */
object ScanCost {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_scancost_sidecars") // see Bench — don't clobber the oracle path
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val reps = 5
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val n = spark.sparkContext.defaultParallelism
    // the toy corpus is small enough that fixed per-query overhead
    // swamps the kernel; replicate it in-memory so per-row work
    // dominates and the kernel-time ratio becomes visible
    val rep = sys.env.getOrElse("SPARK_GRAFT_SCANCOST_REP", "4096").toInt
    val mult = spark.range(rep).select(col("id").as("__r"))
    val raw = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .crossJoin(mult).repartition(n).persist()
    val rows = raw.count()
    val q = graft.ann.Ann.queryArray(spark, sfDir, 0)
    val sqCodes = graft.ann.SqIndex.codes(spark, sfDir)
      .crossJoin(mult).repartition(n).persist()
    sqCodes.count()
    val pqCodes = graft.ann.PqIndex.codes(spark, sfDir)
      .crossJoin(mult).repartition(n).persist()
    pqCodes.count()

    val sqG = graft.ann.SqIndex.getOrBuild(spark, sfDir)
    import org.apache.spark.sql.graft.{GraftInternal => E}
    def timeMedian(df: => DataFrame): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.agg(sum("d")).head()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(reps / 2)
    }
    val tRaw = timeMedian(raw.select(
      l2_dist(col("embedding"), typedLit(q)).as("d")))
    // the SAME table builders the search paths use — no copy to drift
    val sqTable = graft.ann.SqIndex.adcTable(sqG, q)
    val tSq = timeMedian(sqCodes.select(E.column(
      graft.functions.Sq8AdcDistance(E.expression(col("code")), sqTable)).as("d")))
    val pqTable = graft.ann.PqIndex.adcTable(
      graft.ann.PqIndex.getOrBuild(spark, sfDir), q)
    val tPq = timeMedian(pqCodes.select(E.column(
      graft.functions.PqAdcDistance(E.expression(col("code")), pqTable)).as("d")))

    def r3(d: Double) = math.round(d * 1000) / 1000.0
    println(s"""{"sf":"${JsonOut.escape(sfDir)}","rows":$rows,""" +
      s""""raw_scan_s":${r3(tRaw)},"sq8_scan_s":${r3(tSq)},"pq_scan_s":${r3(tPq)},""" +
      s""""sq8_speedup":${r3(tRaw / tSq)},"pq_speedup":${r3(tRaw / tPq)}}""")
    spark.stop()
  }
}
