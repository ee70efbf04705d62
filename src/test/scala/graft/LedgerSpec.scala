package graft

import java.util.concurrent.Executors

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, GraphSearch, IvfIndex}

/** `CostLedger`, the per-key cost ledger Bench reads: attribution by job
  * description under concurrency, unattributed jobs, stage skew, and the
  * job count of one iterative-build round (graph walk, NN-Descent)
  * pinned at the values the ledger measures today, so a change to those
  * rounds moves a visible number.
  */
class LedgerSpec extends AnyFunSuite {
  import SparkTest._

  private def withLedger[A](body: CostLedger => A): A = {
    val l = CostLedger.attach(spark)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def under[A](desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(null)
  }

  // two shapes with different job and task counts, so a job charged to
  // the wrong key changes both keys' rows
  private def shuffled(): Unit =
    spark.range(0, 20000, 1, 8).groupBy((col("id") % 13).as("g")).count().collect()
  private def scanned(): Unit =
    spark.range(0, 30000, 1, 3).filter(col("id") % 7 === 0).count()

  test("keys run concurrently are charged what each costs alone") {
    withLedger { l =>
      under("serial:a")(shuffled())
      under("serial:b")(scanned())
      val pool = Executors.newFixedThreadPool(2)
      try {
        Seq[(String, () => Unit)]("a" -> (() => shuffled()), "b" -> (() => scanned()))
          .map { case (k, f) => pool.submit[Unit](() => under(s"pool:$k")(f())) }
          .foreach(_.get())
      } finally pool.shutdown()
      l.drain(spark)
      for (k <- Seq("a", "b")) {
        val alone = l.row(s"serial:$k").get
        val together = l.row(s"pool:$k").get
        assert(alone.jobs > 0 && alone.tasks > 0, s"$k: nothing charged")
        assert((together.jobs, together.tasks) == (alone.jobs, alone.tasks),
          s"$k: concurrent (${together.jobs} jobs, ${together.tasks} tasks) vs alone " +
            s"(${alone.jobs}, ${alone.tasks})")
      }
      assert(l.row("serial:a").get.tasks != l.row("serial:b").get.tasks,
        "the two shapes must differ for the check to see a mis-charged job")
      assert(l.phase("pool").keySet == Set("a", "b"))
    }
  }

  test("a job with no Bench description is unattributed, not charged to a key") {
    withLedger { l =>
      under("serial:x")(scanned())
      l.drain(spark)
      val (jobs, tasks, before) =
        (l.row("serial:x").get.jobs, l.row("serial:x").get.tasks, l.unattributed)
      scanned()
      under("report:x")(scanned()) // not a Bench phase
      l.drain(spark)
      assert(l.unattributed >= before + 2, s"unattributed ${l.unattributed} after $before")
      assert((l.row("serial:x").get.jobs, l.row("serial:x").get.tasks) == (jobs, tasks),
        "an undescribed job was charged to the last key")
      assert(l.row("report:x").isEmpty && l.phase("serial").keySet == Set("x"))
    }
  }

  test("a stage with one 10x partition reports skew above 1; a balanced one does not") {
    withLedger { l =>
      // task time follows the partition's row count (20 ms a row)
      def stage(desc: String, rows: Int => Int): Unit = under(desc) {
        spark.sparkContext.parallelize(0 until 8, 8)
          .flatMap(p => Iterator.fill(rows(p))(p))
          .foreach(_ => Thread.sleep(20))
      }
      stage("serial:skewed", p => if (p == 0) 50 else 5)
      stage("serial:balanced", _ => 5)
      l.drain(spark)
      val skewed = l.row("serial:skewed").get.skew
      val balanced = l.row("serial:balanced").get.skew
      assert(skewed > 4.0, s"10x partition read skew $skewed")
      assert(balanced < 2.0, s"balanced stage read skew $balanced")
    }
    assert(CostLedger.skew(Seq(Seq(5L, 5L, 5L))) == 1.0, "stages under 4 tasks count")
  }

  test("one graph-walk round runs the pinned job count") {
    val q = Ann.queryBatch(spark, sf, GraphSearch.Nq)
    val edges = GraphSearch.servingGraph(spark, sf)
    val medoids = GraphSearch.cellMedoids(spark, sf)
    withLedger { l =>
      def walk(rounds: Int): Int = {
        val d = s"serial:walk_r$rounds"
        under(d)(PlanCut.releaseDisk(
          GraphSearch.buildVisited(spark, sf, q, GraphSearch.Ef, rounds, edges, medoids)))
        l.drain(spark)
        l.row(d).get.jobs
      }
      // today: 7 jobs a round at sf0.001 (ROADMAP item 4 aims at 2)
      val perRound = walk(3) - walk(2)
      assert(perRound == 7, s"one walk round ran $perRound jobs")
    }
  }

  test("one NN-Descent round runs the pinned job count") {
    val c = Ann.descentCells(spark, sf)
    IvfIndex.withCells(spark, sf, c).count()
    IvfIndex.getOrBuild(spark, sf, c)
    withLedger { l =>
      // k = 4: a graph no other spec or key builds, so neither build is
      // a session-cache hit and neither writes the oracle sidecar
      def descent(iters: Int): Int = {
        val d = s"serial:nnd_i$iters"
        under(d)(Ann.knnGraphDescent(spark, sf, k = 4, iters = iters))
        l.drain(spark)
        l.row(d).get.jobs
      }
      // today: 18 jobs a round at sf0.001 (ROADMAP item 4 aims at 2)
      val perRound = descent(2) - descent(1)
      assert(perRound == 18, s"one NN-Descent round ran $perRound jobs")
    }
  }
}
