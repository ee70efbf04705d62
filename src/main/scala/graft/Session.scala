package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** The one local-session bootstrap: every main and the test suite build
  * their session here (`Session.local(cpus)`).
  */
object Session {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    // bounded-heap aggregates (topk_ids/topk_kth) must stay on the
    // ObjectHashAggregate hash path: the default sort-based fallback
    // (128 keys) SORTS the full candidate-pair stream - at 10x scale
    // that spilled >79 GB on a count whose hash state is kilobytes
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `f` over `xs` concurrently on the global pool, each call under the
    * caller's job description: a pool thread otherwise keeps the
    * description of whichever thread created it, and the jobs `f`
    * submits would be charged to that thread's key (CostLedger).
    */
  def parMap[A, B](spark: SparkSession, xs: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    val desc = sc.getLocalProperty(CostLedger.DescKey)
    Await.result(Future.traverse(xs)(x => Future { sc.setJobDescription(desc); f(x) }),
      Duration.Inf)
  }
}
