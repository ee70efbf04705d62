package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Read-only view of the run plan (JSON) that perfbench/run.py writes. */
final case class Plan(node: JsonNode) {
  def apply(k: String): Plan =
    Plan(Option(node.get(k)).getOrElse(throw new IllegalArgumentException(s"plan has no '$k'")))
  def items: Seq[Plan] = node.elements.asScala.map(Plan(_)).toSeq
  def str: String = node.asText
  def int: Int = node.asInt
  def long: Long = node.asLong
  def bool: Boolean = node.asBoolean
}

/** Usage: perfbench.Main <plan.json> <result.json>
  *
  * Runs one workload of the plan against the engine's public API in
  * this JVM and writes the raw call records, spans and counters; the
  * runner (perfbench/run.py) checks them and derives the metrics.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = Plan(json.readTree(new File(args(0))))
    val cpus = plan("cpus").int
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the engine's bounded-heap aggregates need the hash path (see
      // graft.Bench): without it they fall back to sorting every row
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan("local_dir").str)
      .config("spark.sql.warehouse.dir", plan("warehouse_dir").str)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a usable session: the session half of setup_s
    val sessionMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val result = plan("workload").str match {
      case "serve" => Serve.run(spark, plan)
      case "batch" => Batch.run(spark, plan)
    }
    json.writeValue(new File(args(1)),
      result ++ Map("session_ms" -> sessionMs, "peak_rss_mb" -> peakRssMb()))
    spark.stop()
  }

  /** High-water mark of this process's resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}
