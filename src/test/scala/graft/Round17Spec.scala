package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

/** Round-17 optimization invariants: every restructure this round must
  * be result-invisible — these specs pin the dispatch/rewrite branches
  * equal where the oracle alone can't exercise both sides.
  */
class Round17Spec extends AnyFunSuite {
  import SparkTest._

  test("exact-quantile distributed rank equals the single-task window rank (E8/E41 dispatch)") {
    // the dispatch threshold (~40M rows) never fires at the test SFs —
    // force the distributed branch and pin it row-identical to the
    // default plan on both consumers' quantile grids
    for (grid <- Seq(
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99),
        Seq("q1" -> 0.25, "q3" -> 0.75))) {
      val cols = "event_type" +: grid.map(_._1)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.head, cols.tail: _*)
          .collect().map(_.toSeq.map(v => Option(v))).toSet
      val single = rows(Analytics.typeQuantilesForTest(spark, sf, grid))
      val dist = rows(Analytics.typeQuantilesDistributed(spark, sf, grid))
      assert(single == dist, s"rank dispatch diverges on grid $grid")
    }
  }

  test("distributed exact rank on a small frame equals the single-task rank, as a long") {
    // a frame built to stress the distributed branch: ties that straddle
    // range boundaries, one type far larger than the others, a null type.
    // 20k rows in 4 parquet files, so each read partition holds more
    // rows than the range partitioner samples from it (300 at 4 output
    // partitions) and the bounds come from a sample, not every row
    val sp = spark
    val path = java.nio.file.Files.createTempDirectory("typeranks").resolve("f").toString
    sp.range(20000)
      .select(
        when(col("id") % 10 === 9, lit(null).cast("string"))
          .when(col("id") % 10 < 6, lit("big"))
          .otherwise(concat(lit("t"), (col("id") % 3).cast("string"))).as("event_type"),
        (col("id") % 13).cast("double").as("value"))
      .repartition(4).write.parquet(path)
    val f = Tables.parquet(sp, path)
    assert(f.inputFiles.length >= 4, s"${f.inputFiles.length} parquet files")
    val n = f.count()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "value", "rn").collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getAs[Number](2).longValue)).sorted.toSeq
    val single = Analytics.typeRanks(sp, f, n, distRankMinRows = n + 1)
    val dist = Analytics.typeRanks(sp, f, n, distRankMinRows = 2L)
    assert(dist.schema("rn").dataType == org.apache.spark.sql.types.LongType,
      "the distributed rank must not narrow to int")
    val (s, d) = (rows(single), rows(dist))
    assert(d.length == n, s"offset join changed the row count: ${d.length} of $n")
    assert(s == d, "distributed rank diverges from the single-task rank")
  }

  test("cost-model layout fails before ranking past Int.MaxValue combs (int partition_id)") {
    import graft.rbac.Partitioned
    Partitioned.requireIntRank(Int.MaxValue.toLong)
    val e = intercept[IllegalArgumentException] {
      Partitioned.requireIntRank(Int.MaxValue.toLong + 1)
    }
    assert(e.getMessage.contains("int partition_id"), e.getMessage)
  }

  test("events_quantiles result is unchanged by the rank-dispatch refactor") {
    val got = Analytics.valueQuantiles(spark, sf).collect()
    assert(got.length > 0)
    // every per-type row must carry non-decreasing quantiles
    got.filter(r => !r.isNullAt(1)).foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3),
        s"non-monotone quantiles in $r")
    }
  }
}
