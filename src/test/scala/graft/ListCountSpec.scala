package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, IvfIndex}
import graft.rbac.Rbac

/** B12's per-comb list counts (`IvfIndex.accessibleListCounts`, a
  * lookup of the user's held role ids) against the per-call counter
  * they replace: the user's accessible cell-layout rows per list. Both
  * the counts and the search answers must agree for every user, on
  * both grant paths.
  */
class ListCountSpec extends AnyFunSuite {
  import SparkTest._

  private val K = 16 // predicateAwareSearch's default list count
  private val users = (0L to 40L) :+ 4321L // the last holds no role

  /** The per-call counter: the user's accessible rows of the cell layout, per list. */
  private def counted(u: Long): Map[Int, Long] = {
    val sp = spark
    Rbac.restrict(IvfIndex.withCells(sp, sf, K).select(col("vec_id"), col("cell").as("list_id")),
      sp, sf, u, key = "vec_id")
      .groupBy("list_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** `predicateAwareSearch` in its counter form: widen the probe
    * prefix over `counted`, then search the probed lists. */
  private def counterSearch(u: Long, nprobe: Int = 2, topk: Int = 10): Seq[Row] = {
    val sp = spark
    val q = Ann.queryArray(sp, sf, 0)
    val acc = counted(u)
    val ordered = IvfIndex.probeLists(IvfIndex.getOrBuild(sp, sf, K), q, K)
    var probes = nprobe
    while (probes < K && ordered.take(probes).map(acc.getOrElse(_, 0L)).sum < topk) probes += 1
    val probed = Rbac.restrict(
      IvfIndex.withCells(sp, sf, K).filter(col("cell").isin(ordered.take(probes): _*)),
      sp, sf, u, key = "vec_id")
    Ann.firstK(Ann.scored(probed, q), topk, "vec_id")
      .select(col("vec_id"), col("cell").as("list_id")).collect().toSeq
  }

  private def check(path: String): Unit = {
    val sp = spark
    val counts = users.map { u =>
      val want = counted(u)
      assert(IvfIndex.accessibleListCounts(sp, sf, u, K) == want, s"$path user $u: list counts")
      val got = IvfIndex.predicateAwareSearch(sp, sf, u).collect().toSeq
      assert(got == counterSearch(u), s"$path user $u: search rows")
      want
    }
    assert(counts.last.isEmpty, s"$path: the role-less user counts ${counts.last}")
    assert(counts.init.count(_.nonEmpty) >= 40, s"$path: users with no accessible row")
  }

  test("the per-comb list counts equal the per-call counter on the grant-index path") {
    check("index")
  }

  test("the per-comb list counts equal the per-call counter on the broadcast grant path") {
    Rbac.withBroadcastGrants(check("broadcast"))
  }
}
