package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** Times calls into the engine from the outside.
  *
  * Untraced, a call is timed as one interval: the public function plus
  * the action that forces its result. Traced, the same call is split at
  * the three layer boundaries (`graft.call`, `spark.plan`, `spark.exec`)
  * into spans, and a [[Ledger]] attributes every Spark job, stage and
  * task to the call through the `perfbench.qid` local property. Spans
  * stay in memory until the run writes them out.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]
  val ledger: Option[Ledger] = if (traced) {
    val l = new Ledger
    sc.addSparkListener(l)
    Some(l)
  } else None

  // one wall clock for harness spans and listener events (epoch ms),
  // refined below the millisecond with the monotonic clock
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def span(name: String, qid: Long, parent: Long, t0: Double, t1: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Map("id" -> id, "name" -> name, "qid" -> qid, "parent" -> parent,
      "start" -> t0, "end" -> t1))
    id
  }

  /** Time one call; `body` returns a DataFrame (planned and collected
    * here) or any other value (an index, a layout path). Exceptions are
    * recorded, never rethrown: a failed call counts against the run.
    */
  def call(phase: String, name: String, body: () => Any): Call = {
    val qid = ids.incrementAndGet()
    if (traced) sc.setLocalProperty(Ledger.QidKey, qid.toString)
    val t0 = now()
    var tCall, tPlan = t0
    try {
      val value = body()
      tCall = now()
      val rows = value match {
        case ds: Dataset[_] =>
          val df = ds.toDF()
          if (traced) df.queryExecution.executedPlan
          tPlan = now()
          df.collect().toSeq
        case _ =>
          tPlan = tCall
          Seq.empty[Row]
      }
      val t1 = now()
      if (traced) {
        val root = span("query", qid, 0L, t0, t1)
        span("graft.call", qid, root, t0, tCall)
        span("spark.plan", qid, root, tCall, tPlan)
        span("spark.exec", qid, root, tPlan, t1)
      }
      Call(phase, name, qid, t0, t1, None, value, rows)
    } catch {
      case e: Throwable =>
        Call(phase, name, qid, t0, now(), Some(s"${e.getClass.getName}: ${e.getMessage}"),
          null, Seq.empty)
    } finally if (traced) sc.setLocalProperty(Ledger.QidKey, null)
  }

  /** Every span recorded, with the listener's job spans, and the
    * per-call counters, once the listener has seen every event posted
    * before this call.
    */
  def finish(): Map[String, Any] = {
    ledger.foreach(_.drain(spark))
    Map("spans" -> (spans.asScala.toSeq ++ ledger.toSeq.flatMap(_.jobSpans)),
      "counters" -> ledger.map(_.counters).getOrElse(Map.empty))
  }
}

final case class Call(phase: String, name: String, qid: Long, t0: Double, t1: Double,
                      error: Option[String], value: Any, rows: Seq[Row]) {
  def toMap: Map[String, Any] = Map("phase" -> phase, "name" -> name, "qid" -> qid,
    "t0" -> t0, "t1" -> t1, "error" -> error.orNull, "rows" -> rows.size)
}

object Ledger {
  val QidKey = "perfbench.qid"
  private val Marker = "marker"
}

/** Per-call Spark counters, keyed by the `perfbench.qid` local property
  * that the calling thread carried when it submitted each job.
  */
final class Ledger extends SparkListener {
  import Ledger._
  private val stageQid = new ConcurrentHashMap[Int, String]
  private val stageSubmit = new ConcurrentHashMap[Int, Long]
  private val jobQid = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
  private val totals = new ConcurrentHashMap[String, Array[Double]]
  @volatile private var marker: CountDownLatch = _

  // counter slots per qid
  private val Names = Seq("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms",
    "task_wait_ms", "input_bytes", "input_records", "shuffle_bytes", "spill_bytes")
  // the listener bus delivers events on one thread; readers wait for
  // `drain`, whose latch orders these writes before their reads
  private def add(qid: String, slot: Int, v: Double): Unit =
    totals.computeIfAbsent(qid, _ => new Array[Double](Names.size))(slot) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val qid = Option(e.properties).flatMap(p => Option(p.getProperty(QidKey)))
    qid.foreach { q =>
      jobQid.put(e.jobId, q)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageQid.putIfAbsent(_, q))
      if (q != Marker) add(q, 0, 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageQid.get(e.stageInfo.stageId)).foreach(add(_, 1, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageQid.get(e.stageId)).foreach { q =>
      add(q, 2, 1)
      Option(e.taskMetrics).foreach { m =>
        add(q, 3, m.executorCpuTime / 1e6)
        add(q, 4, m.executorRunTime.toDouble)
        add(q, 6, m.inputMetrics.bytesRead.toDouble)
        add(q, 7, m.inputMetrics.recordsRead.toDouble)
        add(q, 8, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(q, 9, m.diskBytesSpilled.toDouble)
      }
      val submitted = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      add(q, 5, math.max(0L, e.taskInfo.launchTime - submitted).toDouble)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobQid.get(e.jobId)).foreach { q =>
      if (q == Marker) marker.countDown()
      else jobs.add(Map("id" -> (-e.jobId.toLong - 1), "name" -> "spark.job", "qid" -> q.toLong,
        "parent" -> -1L, "start" -> jobStart.get(e.jobId).toDouble, "end" -> e.time.toDouble))
    }

  /** Block until every event posted before now has been delivered: the
    * listener bus is FIFO, so seeing a marker job's end is enough.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    marker = new CountDownLatch(1)
    val prev = sc.getLocalProperty(QidKey)
    sc.setLocalProperty(QidKey, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(QidKey, prev)
    marker.await(60, TimeUnit.SECONDS)
  }

  def jobSpans: Seq[Map[String, Any]] = jobs.asScala.toSeq

  /** Counters per qid: name -> value. */
  def counters: Map[String, Map[String, Double]] =
    totals.asScala.map { case (q, a) => q -> Names.zip(a).toMap }.toMap
}
