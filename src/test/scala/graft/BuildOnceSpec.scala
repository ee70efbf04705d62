package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The index-model stores build each key once: racing first touches of
  * one key share a single build instead of each running it, and a new
  * data version replaces the entries of the old one.
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
    val (sp, dir) = (spark, freshDir())
    val inA = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val a = new Thread(() => {
      store.getOrElseUpdate(sp, dir, 1) { builds.incrementAndGet(); inA.countDown(); release.await(); 10 }
    })
    a.start()
    inA.await()
    // key 1's build is still running: key 2 must not wait for it
    val b = new Thread(() => { store.getOrElseUpdate(sp, dir, 2) { builds.incrementAndGet(); 20 } })
    b.start()
    b.join(30000)
    val bDone = !b.isAlive
    release.countDown()
    a.join()
    b.join()
    assert(bDone, "key 2 waited for key 1's build")
    assert(store.getOrElseUpdate(sp, dir, 2)(sys.error("rebuilt")) == 20)
    assert(store.getOrElseUpdate(sp, dir, 1)(sys.error("rebuilt")) == 10)
    assert(builds.get == 2)
  }

  test("a superseded version drops its entry and its lock") {
    val sp = spark
    val (dir, other) = (freshDir(), freshDir())
    val store = new BuildOnce[Int, Int]
    store.getOrElseUpdate(sp, dir, 1)(10)
    store.getOrElseUpdate(sp, dir, 2)(20)
    store.getOrElseUpdate(sp, other, 1)(30)
    val f = Paths.get(dir, "embeddings.parquet")
    Files.setLastModifiedTime(f, FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 60000))
    assert(store.getOrElseUpdate(sp, dir, 1)(11) == 11, "served the superseded entry")
    assert(store.entries(sp, dir) == Seq(1 -> 11))
    assert(store.entries(sp, other) == Seq(1 -> 30), "another dir's entry was dropped")
    // dir's two old entries and their locks are gone: one entry and one
    // lock per live (dir, key) remain
    def held(field: String): Int = {
      val f = classOf[Store[_, _]].getDeclaredField(field)
      f.setAccessible(true)
      f.get(store).asInstanceOf[scala.collection.concurrent.TrieMap[_, _]].size
    }
    assert((held("m"), held("locks")) == ((2, 2)))
  }

  test("two threads measuring one point run the slow probe once") {
    val dir = freshDir() // a key no other spec has measured
    val start = new CountDownLatch(1)
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val threads = (1 to 2).map(_ => new Thread(() => {
      start.await()
      got.add(ann.GraphSearch.measure(spark, dir, "race", 2, 64) {
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
