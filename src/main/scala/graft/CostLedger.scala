package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-key Spark cost ledger: one listener that charges every job, stage
  * and task to the key its job description names (`warm:<build>`,
  * `pool:<key>`, `serial:<key>`, the descriptions Bench sets). A job
  * with any other description, or none, counts as unattributed and is
  * charged to no key.
  */
private[graft] final class CostLedger extends SparkListener {
  import CostLedger._

  // written on the listener bus thread only; read after `drain`, whose
  // latch orders those writes before the reads
  private val rows = mutable.Map.empty[String, Row]
  private val stageKey = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var markerJob = -1
  private var unattributedJobs = 0
  @volatile private var marker: CountDownLatch = _

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc: String = Option(e.properties).map(_.getProperty(DescKey)).orNull
    if (desc == Marker) markerJob = e.jobId
    else if (desc != null && Phases.exists(p => desc.startsWith(p + ":"))) {
      rows.getOrElseUpdate(desc, new Row).jobs += 1
      e.stageIds.foreach(stageKey.getOrElseUpdate(_, desc))
    } else unattributedJobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageKey.get(e.stageInfo.stageId).foreach(rows(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageKey.get(e.stageId).foreach { k =>
      val r = rows(k)
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.diskBytesSpilled
      }
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) marker.countDown()

  /** Block until every event posted before now has been delivered: the
    * listener bus is FIFO, so seeing a marker job's end is enough.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    marker = new CountDownLatch(1)
    val prev = sc.getLocalProperty(DescKey)
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    marker.await(60, TimeUnit.SECONDS)
  }

  /** Jobs that ran under no Bench description (after `drain`). */
  def unattributed: Int = unattributedJobs

  /** The row of one description, e.g. `serial:q1_pricing_summary`
    * (after `drain`); absent when no job ran under it.
    */
  def row(desc: String): Option[Row] = rows.get(desc).map { r =>
    r.skew = skew(stageKey.collect { case (s, k) if k == desc => taskMs.get(s) }
      .flatten.map(_.toSeq))
    r
  }

  /** Rows of one phase keyed by the description's key part. */
  def phase(p: String): Map[String, Row] =
    rows.keys.filter(_.startsWith(p + ":")).toSeq
      .flatMap(d => row(d).map(d.drop(p.length + 1) -> _)).toMap
}

private[graft] object CostLedger {
  val Phases = Seq("warm", "pool", "serial")
  /** The local property `SparkContext.setJobDescription` sets. */
  val DescKey = "spark.job.description"
  private val Marker = "ledger:drain"

  /** A key's counters. `skew` is the worst stage's max/median task time
    * over the key's stages with at least 4 tasks (1 when none has 4):
    * near 1 no partition straggles; at scale the max task is the stage
    * time, so a hot role, band or cell shows here first.
    */
  final class Row {
    var jobs, stages, tasks = 0
    var cpuNs, runMs, shuffleBytes, spillBytes = 0L
    var skew = 1.0

    def json: String = {
      def f(d: Double) = Bench.fmt(d, 3)
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_s":${f(cpuNs / 1e9)},""" +
        s""""run_s":${f(runMs / 1e3)},"shuffle_mb":${f(shuffleBytes / 1048576.0)},""" +
        s""""spill_mb":${f(spillBytes / 1048576.0)},"skew":${Bench.fmt(skew, 2)}}"""
    }
  }

  def attach(spark: SparkSession): CostLedger = {
    val l = new CostLedger
    spark.sparkContext.addSparkListener(l)
    l
  }

  private[graft] def skew(stages: Iterable[Seq[Long]]): Double =
    stages.filter(_.size >= 4).map { ds =>
      val sorted = ds.sorted
      sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
    }.foldLeft(1.0)(math.max)
}
