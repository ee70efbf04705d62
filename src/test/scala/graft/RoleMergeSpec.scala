package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rbac.{Partitioned, Rbac}

/** The role-partition merge (`Partitioned.roleMergeTopK`) over-fetches
  * k × (held roles) rows and drops a block's copies from them: that is
  * exact only because a block sits at most once in each held role's
  * partition. Checked against the prefilter answer, in order, for every
  * user of a range and for k below and above a user's accessible count;
  * the comb strategy's persisted `comb_key` against the per-call
  * permission-row aggregate it replaced.
  */
class RoleMergeSpec extends AnyFunSuite {
  import SparkTest._

  private val users = 0L to 40L
  // ...and k = the whole corpus, above every user's accessible count
  private lazy val ks = Seq(1, 10, 100, Rbac.blocks(spark, sf).count().toInt)

  private def ids(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))

  test("role-partition merges equal the prefilter top-k, in order, for every k") {
    val sp = spark
    var short = 0
    for (u <- users; k <- ks) {
      val pre = ids(Rbac.prefilterTopK(sp, sf, u, k).collect())
      val role = ids(Partitioned.rolePartitionTopK(sp, sf, u, k).collect())
      val pruned = ids(sources.Layouts.prefilterPruned(sp, sf, u, k).collect())
      assert(role == pre, s"user $u k $k: rolePartitionTopK $role vs prefilter $pre")
      assert(pruned == pre, s"user $u k $k: prefilterPruned $pruned vs prefilter $pre")
      // B21 probing every cell of its 4-cell role indexes is lossless
      val ivf = ann.GroupedKMeans.partitionIvfTopK(sp, sf, u, k, k = 4, nprobe = 4)
        .collect().map(_.getLong(0)).toSeq
      assert(ivf == pre.map(_._1), s"user $u k $k: partitionIvfTopK $ivf vs prefilter $pre")
      if (pre.size < k) short += 1
    }
    assert(short > 0, "no user holds fewer accessible blocks than k")
  }

  test("comb results carry the comb_key of their documents' granting role sets") {
    val sp = spark
    for (u <- users; k <- ks) {
      val comb = Partitioned.combPartitionTopK(sp, sf, u, k).collect().toSeq
      val pre = ids(Rbac.prefilterTopK(sp, sf, u, k).collect())
      assert(comb.map(r => (r.getLong(0), r.getLong(1))) == pre, s"user $u k $k: comb rows")
      if (comb.nonEmpty) {
        // the per-call form: the result docs' permission rows, grouped
        val expected = Rbac.permissions(sp, sf)
          .filter(col("document_id").isin(comb.map(_.getLong(1)): _*))
          .groupBy("document_id").agg(Rbac.combKey(Rbac.roleSet).as("comb_key"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        for (r <- comb)
          assert(r.getString(2) == expected(r.getLong(1)),
            s"user $u k $k doc ${r.getLong(1)}: ${r.getString(2)} vs ${expected(r.getLong(1))}")
      }
    }
  }

  test("the materialized role merge stays exact over a partition's duplicated files") {
    // a mid-swap crash leaves a partition's old and new files side by
    // side; here every held role's partition is in that state, so a
    // block both roles grant has four rows where held roles bound two
    val sp = spark
    val path = sources.Layouts.materializeRoleLayout(sp, sf,
      java.nio.file.Files.createTempDirectory("graft_merge_dup").toString)
    val u = 1L
    for (r <- Rbac.heldRoleIds(sp, sf, u)) {
      val partDir = java.nio.file.Paths.get(path, s"partition_role=$r")
      val ls = java.nio.file.Files.list(partDir)
      val files = try ls.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        finally ls.close()
      files.foreach(f => java.nio.file.Files.copy(f, partDir.resolve("dup-" + f.getFileName)))
    }
    for (k <- ks) {
      val pre = ids(Rbac.prefilterTopK(sp, sf, u, k).collect())
      val pruned = ids(sources.Layouts.prunedRoleSearch(sp, sf, path, u, k).collect())
      assert(pruned == pre, s"k $k: duplicated-file merge $pruned vs prefilter $pre")
    }
  }
}
