package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The index-model stores build each key once: racing first touches of
  * one key share a single build instead of each running it.
  */
class BuildOnceSpec extends AnyFunSuite {
  import SparkTest._
  import JobLog._

  /** A dataset directory no store has seen: a copy of the corpus table. */
  private def freshDir(): String = {
    val d = Files.createTempDirectory("build_once")
    Files.copy(Paths.get(sf, "embeddings.parquet"), d.resolve("embeddings.parquet"))
    d.toString
  }

  test("two threads first-touching SqIndex.getOrBuild submit the jobs of one build") {
    val sp = spark
    val one = jobsOf(sp)(ann.SqIndex.getOrBuild(sp, freshDir()))
    assert(one.nonEmpty)
    val dir = freshDir()
    val start = new CountDownLatch(1)
    val grids = new java.util.concurrent.ConcurrentLinkedQueue[ann.SqIndex.Grid]
    val raced = jobsOf(sp) {
      // threads started here inherit the job tag of jobsOf
      val threads = (1 to 2).map(_ => new Thread(() => {
        start.await()
        grids.add(ann.SqIndex.getOrBuild(sp, dir))
      }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
    }
    assert(grids.size == 2)
    assert(grids.peek() eq ann.SqIndex.getOrBuild(sp, dir), "racers got different grids")
    assert(raced.map(_.name).sorted == one.map(_.name).sorted,
      s"one build: $one; two racing first touches: $raced")
  }

  test("different keys build concurrently, each once") {
    val store = new BuildOnce[Int, Int]
    val inA = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val a = new Thread(() => {
      store.getOrElseUpdate(1) { builds.incrementAndGet(); inA.countDown(); release.await(); 10 }
    })
    a.start()
    inA.await()
    // key 1's build is still running: key 2 must not wait for it
    val b = new Thread(() => { store.getOrElseUpdate(2) { builds.incrementAndGet(); 20 } })
    b.start()
    b.join(30000)
    val bDone = !b.isAlive
    release.countDown()
    a.join()
    b.join()
    assert(bDone, "key 2 waited for key 1's build")
    assert(store.getOrElseUpdate(2)(sys.error("rebuilt")) == 20)
    assert(store.getOrElseUpdate(1)(sys.error("rebuilt")) == 10)
    assert(builds.get == 2)
  }

  test("two threads measuring one point run the slow probe once") {
    val dir = freshDir() // a key no other spec has measured
    val start = new CountDownLatch(1)
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val threads = (1 to 2).map(_ => new Thread(() => {
      start.await()
      got.add(ann.GraphSearch.measure(dir, "race", 2, 64) {
        runs.incrementAndGet()
        Thread.sleep(500) // a probe walk: long enough for the racer to arrive
        0.5
      })
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(got.asScala.toSeq == Seq(0.5, 0.5))
    assert(runs.get == 1, s"the probe body ran ${runs.get} times for one point")
  }
}
