package graft


/** Calibration appendix (`runMain graft.RecallCheck <dir>`): serving
  * recall vs exact ground truth at an arbitrary dataset dir, for the
  * NND-graph walk (B39) and the exact-graph walk (B31) — the number
  * CALIBRATION.md tables per scale rung. Specs pin floors at sf0.001;
  * this measures the same quantity where oracles don't run (the
  * ScaleGen 10×/100× dirs), so init/build changes show their recall
  * cost at the scale they matter.
  */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // optional 2nd arg:
    //   "nnd"   — skip the exact-graph walk (its serving graph is the
    //             exact BUILD, quadratic on the isotropic 100× dir —
    //             the regime the NND index exists for); brute-force
    //             ground truth stays (linear scan, affordable at every
    //             ScaleGen rung)
    //   "curve" — print the full ef→recall curve over a wide grid
    //             instead (the B38 tuning loop run at THIS dir: fixed
    //             ef decays as N grows, so the at-scale question is
    //             which ef the model must pick here, not what one ef
    //             scores)
    if (args.length > 1 && (args(1) == "curve" || args(1) == "curve_nnd")) {
      if (args(1) == "curve") {
        val curve = ann.GraphSearch.efRecallCurve(spark, dir,
          grid = Seq(8, 16, 32, 64, 128, 256, 512))
        println("CURVE " +
          curve.map { case (ef, r) => s"ef$ef=$r" }.mkString(" "))
      } else {
        // the NND serving walk's own ef sweep — the curve that matters
        // where the exact graph can't be built (its serving graph IS
        // the buildable-at-100× index)
        val gt = ann.GraphSearch.groundTruth(spark, dir, 8, 10)
        val grid = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
                   else Seq(64, 128, 256, 512)
        // optional 4th arg: descent iterations (build-quality knob);
        // optional 5th arg: walk expansion rounds (the graph-diameter
        // knob — r13: at 100× neither beam nor build iterations moved
        // recall past ~0.67, pointing at the FIXED 5-round frontier as
        // the binding constraint on a 200k-node short-link graph)
        val iters = if (args.length > 3) args(3).toInt else 2
        val rounds = if (args.length > 4) args(4).toInt
                     else ann.GraphSearch.Rounds
        // each point is a transient probe walk over the plain NND graph
        val curve = grid.map { ef =>
          ef -> ann.GraphSearch.probe(spark, dir, 8, 10, ef, rounds,
            ann.GraphSearch.nndServingGraph(spark, dir, iters = iters),
            ann.GraphSearch.cellMedoids(spark, dir), gt)
        }
        println(s"CURVE_NND rounds=$rounds iters=$iters " +
          curve.map { case (ef, r) => s"ef$ef=$r" }.mkString(" "))
      }
      spark.stop(); return
    }
    // "model_nnd" (r13): run the measured (iters, ef) serving policy —
    // the B43 key's model fit — at THIS dir and print the pick plus
    // the recall actually measured at it (the number VERDICT r12 #1
    // asked the at-scale serving story to close on)
    if (args.length > 1 && args(1) == "model_nnd") {
      val (iters, ef, recall) = ann.GraphSearch.nndServePolicy(spark, dir)
      println(s"MODEL_NND iters=$iters ef=$ef recall=$recall")
      // every point the sweep probed — the calibration table's rows
      ann.GraphSearch.nndProbedPoints(spark, dir).foreach { case (i, e, r) =>
        println(s"MODEL_NND_POINT iters=$i ef=$e recall=$r")
      }
      spark.stop(); return
    }
    // "partition" (r13, VERDICT r12 #7): end-to-end recall of the
    // PARTITIONED serving path (A21 — the reference's literal
    // architecture: route to the user's dynamic partition, walk its
    // own graph, permission-filter at merge) vs the exact prefilter
    // ground truth, per sweep user — the one quality axis previously
    // asserted from components but never measured above sf0.1
    if (args.length > 1 && args(1) == "partition") {
      // optional 3rd arg: beam width (attribution probe — a fixed
      // ef=64 beam decays as the routed partitions grow, the same
      // fixed-beam decay B38's efFor closes on the global graph).
      // WITHOUT it (r14): serve at the measured per-partition policy
      // — the shipped default — and print each user's pick.
      val efArg = if (args.length > 2) Some(args(2).toInt) else None
      val rows = ann.GraphSearch.SweepUsers.map { u =>
        val exact = rbac.Rbac.prefilterTopK(spark, dir, u, 10)
          .collect().map(_.getLong(0)).toSet
        // ADVICE r13: a sweep user with zero accessible documents has
        // no denominator — print a named marker, never recall=NaN
        if (exact.isEmpty) s"u$u=no_accessible_docs"
        else {
          val got = ann.GraphSearch.partitionGraphTopK(
              spark, dir, u, ef = efArg.getOrElse(-1))
            .collect().map(_.getLong(0)).toSet
          val pick = if (efArg.isDefined) "" else {
            val (i, e, r) = ann.GraphSearch.partitionServePolicy(spark, dir, u)
            s"(iters=$i,ef=$e,batch_recall=$r)"
          }
          s"u$u=${ann.GraphSearch.recall(got, exact)}$pick"
        }
      }
      println(s"PARTITION_RECALL ef=${efArg.map(_.toString).getOrElse("policy")} "
        + rows.mkString(" "))
      // every point the per-partition policy probed — the calibration
      // rows (r15: keyed by routed partition set; sharing users print
      // the same rows, labeled by the partition key)
      ann.GraphSearch.SweepUsers.foreach { u =>
        val pk = ann.GraphSearch.routedPartitionKey(spark, dir, u)
        ann.GraphSearch.partitionProbed(spark, dir, u).foreach { case (i, e, r) =>
          println(s"PARTITION_POINT u=$u pid=$pk iters=$i ef=$e batch_recall=$r")
        }
      }
      println(s"PARTITION_PROBE_TOTAL ${ann.GraphSearch.partitionProbeCount(spark, dir)}")
      // the r15 sharing demo (VERDICT r14 #2 done-criterion): serve a
      // SECOND user routed to an already-probed partition set and show
      // the probe counter does not move — the policy row is layout
      // metadata of the partition, not of the user who asked first
      val sweepKeys = ann.GraphSearch.SweepUsers
        .map(u => ann.GraphSearch.routedPartitionKey(spark, dir, u)).toSet
      val sharer = (0L to 20L)
        .filterNot(ann.GraphSearch.SweepUsers.contains)
        .find(u =>
          graft.rbac.Partitioned.routedPartitionIds(spark, dir, u).nonEmpty &&
            sweepKeys(ann.GraphSearch.routedPartitionKey(spark, dir, u)))
      sharer match {
        case Some(u) =>
          val before = ann.GraphSearch.partitionProbeCount(spark, dir)
          val (i, e, r) = ann.GraphSearch.partitionServePolicy(spark, dir, u)
          val after = ann.GraphSearch.partitionProbeCount(spark, dir)
          println(s"PARTITION_SHARED_USER u=$u " +
            s"pid=${ann.GraphSearch.routedPartitionKey(spark, dir, u)} " +
            s"(iters=$i,ef=$e,recall=$r) probes_before=$before probes_after=$after")
        case None =>
          println("PARTITION_SHARED_USER none_in_sample")
      }
      spark.stop(); return
    }
    val nndOnly = args.length > 1 && args(1) == "nnd"
    val exact = ann.GraphSearch.groundTruth(spark, dir, 8, 10)
    val nnd = ann.GraphSearch.pairs(ann.GraphSearch.graphTopKNnd(spark, dir))
    val exactPart = if (nndOnly) "" else {
      val exactGraph = ann.GraphSearch.pairs(ann.GraphSearch.graphTopK(spark, dir))
      s" exactgraph=${ann.GraphSearch.recall(exactGraph, exact)}"
    }
    println(s"RECALL nnd=${ann.GraphSearch.recall(nnd, exact)}" + exactPart)
    spark.stop()
  }
}
