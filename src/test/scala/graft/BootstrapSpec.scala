package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Session.local`, the one session bootstrap, and the bench's warm
  * phase reporting its failure instead of swallowing it.
  */
class BootstrapSpec extends AnyFunSuite {
  import SparkTest._

  test("Session.local sets the shared session config") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "1048576")
  }

  test("a failed warm-up returns its first line") {
    val missing = Files.createTempDirectory("warm_missing").resolve("nope").toString
    val err = Bench.warmUp(spark, missing, None)
    assert(err.isDefined, "warm-up against a missing directory reported no failure")
    assert(err.get.nonEmpty && !err.get.contains('\n'), s"not one line: $err")
    assert(err.get.contains("nope"), s"the failure does not name the missing path: $err")
  }
}
