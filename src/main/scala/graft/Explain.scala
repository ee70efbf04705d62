package graft


/** Plan-shape inspector: prints the formatted physical plan of selected
  * queries so scan pruning / broadcast placement / TakeOrdered use can
  * be reviewed (`sbt "runMain graft.Explain [sfDir] [name ...]"`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_explain_sidecars") // see Bench — don't clobber the oracle path
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("rbac_prefilter_topk", "ann_batch_topk", "q1_pricing_summary")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
