package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.GraphSearch
import graft.dedup.Dedup
import graft.operators.{Analytics, Pipeline}
import graft.sources.Layouts
import graft.text.TextOps

/** One cold pass over the write side: the build phase materializes every
  * layout and index the serving paths read, then the pipeline phase runs
  * the dedup, text and relational operators. Each step is one public
  * call, named `<module>.<function>`.
  *
  * The warm-up runs a few steps over a separate tiny corpus first: a
  * different directory means different cache keys, so no timed step can
  * reuse a result the warm-up computed, while the JIT and codegen
  * warm-up of the first jobs stays out of the first timed step.
  */
object Batch {

  def buildSteps(spark: SparkSession, dir: String, out: String,
                 queries: String): Seq[(String, () => Any)] = Seq(
    "sources.materializeRoleLayout" -> (() => Layouts.materializeRoleLayout(spark, dir, out)),
    "ann.servingGraph" -> (() => GraphSearch.servingGraph(spark, dir)),
    "ann.graphTopKFor" -> (() =>
      GraphSearch.graphTopKFor(spark, dir, spark.read.parquet(queries))))

  def pipelineSteps(spark: SparkSession, dir: String): Seq[(String, () => Any)] = Seq(
    "operators.docsTrainingPipeline" -> (() => Pipeline.docsTrainingPipeline(spark, dir)),
    "dedup.minhashLsh" -> (() => Dedup.minhashLsh(spark, dir)),
    "dedup.substringSpans" -> (() => Dedup.substringSpans(spark, dir)),
    "text.quality" -> (() => TextOps.quality(spark, dir)),
    "operators.q2MinCostSupplier" -> (() => Analytics.q2MinCostSupplier(spark, dir)),
    "operators.q5LocalVolume" -> (() => Analytics.q5LocalVolume(spark, dir)),
    "operators.q7NationVolume" -> (() => Analytics.q7NationVolume(spark, dir)),
    "operators.q8MarketShare" -> (() => Analytics.q8MarketShare(spark, dir)))

  /** Steps whose rows the checker reads; the rest report a row count. */
  private val Kept = Set("ann.graphTopKFor", "dedup.minhashLsh", "operators.docsTrainingPipeline",
    "operators.q2MinCostSupplier", "operators.q5LocalVolume", "operators.q7NationVolume",
    "operators.q8MarketShare")

  def run(spark: SparkSession, plan: Plan): Map[String, Any] = {
    val phases = Map.newBuilder[String, Seq[Double]]
    val calls = Vector.newBuilder[Call]
    def pass(prefix: String, rec: Recorder, p: Plan, keep: String => Boolean): Unit =
      Seq("build" -> buildSteps(spark, p("build").str, p("out").str, p("queries").str),
          "pipeline" -> pipelineSteps(spark, p("pipe").str)).foreach { case (phase, steps) =>
        val t0 = rec.now()
        steps.filter(s => keep(s._1))
          .foreach { case (n, f) => calls += rec.call(prefix + phase, n, f) }
        phases += (prefix + phase) -> Seq(t0, rec.now())
      }

    pass("warm.", new Recorder(spark, traced = false), plan("warm"),
      plan("warm_steps").items.map(_.str).toSet)
    val rec = new Recorder(spark, plan("trace").bool)
    pass("", rec, plan("main"), _ => true)
    if (rec.traced) calls ++= Serve.probes(spark, plan("main")("build").str, plan, rec)
    rec.finish() ++ Map(
      "calls" -> calls.result().map { c =>
        c.toMap ++ Map(
          "value" -> (c.value match {
            case s: String => s
            case _ => null
          }),
          "data" -> (if (Kept(c.name)) c.rows.map(_.toSeq) else Nil))
      },
      "phases" -> phases.result())
  }
}
