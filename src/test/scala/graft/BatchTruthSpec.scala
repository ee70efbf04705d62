package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, RecallModel}
import graft.rbac.{Maintenance, Partitioned, Rbac}

/** The batched exact top-k (`Ann.exactTopK`) and its callers against a
  * driver-side brute force: the embeddings collected, sorted by (L2,
  * id) in Scala, grants taken from `Rbac.accessibleDocs`. Each caller's
  * self-exclusion is pinned: `batchTopK` and `RecallModel` leave the
  * query's own vector out, `batchGroundTruth` and `recallReport` keep it.
  */
class BatchTruthSpec extends AnyFunSuite {
  import SparkTest._

  private lazy val corpus: Seq[(Long, Array[Float])] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)

  private def vec(id: Long): Array[Float] = corpus.find(_._1 == id).get._2

  /** The k ids nearest `q` among the corpus ids `keep` admits, in (L2, id) order. */
  private def nearest(q: Array[Float], k: Int)(keep: Long => Boolean): Seq[Long] =
    corpus.collect { case (id, v) if keep(id) => (refL2(v, q), id) }.sorted.take(k).map(_._2)

  private def grants(u: Long): Set[Long] =
    Rbac.accessibleDocs(spark, sf, u).collect().map(_.getLong(0)).toSet

  /** (key, id) rows as key → sorted ids. */
  private def byKey(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq.sorted }

  test("ann_batch_topk: each query's 10 nearest vectors, its own left out") {
    val got = byKey(SparkEntry.queries("ann_batch_topk")(spark, sf).collect())
    val want = (0L until 8L).map(q => q -> nearest(vec(q), 10)(_ != q).sorted).toMap
    assert(got == want)
  }

  test("rbac_batch_ground_truth: users 1..8 over their grants, the query's own vector kept") {
    val got = byKey(SparkEntry.queries("rbac_batch_ground_truth")(spark, sf).collect())
    val want = (1L to 8L).map(u => u -> nearest(vec(u - 1), 5)(grants(u)).sorted).toMap
    assert(got == want)
    // the self-match is live here: users 3 and 4 may read their query's doc
    assert(Seq(3L, 4L).forall(u => grants(u)(u - 1) && want(u).contains(u - 1)))
  }

  test("batchTopK(userId = Some(3)): user 3's grants, each query's own vector left out") {
    val g = grants(3)
    val got = byKey(Ann.batchTopK(spark, sf, 8, 10, Some(3L)).collect())
    val want = (0L until 8L).map(q => q -> nearest(vec(q), 10)(id => id != q && g(id)).sorted).toMap
    assert(got == want)
    assert((0L until 8L).forall(g), "user 3 reads every query doc, so self-exclusion shows")
  }

  test("rbac_recall_report: post-filter over-fetch (query's own vector kept) vs the exact set") {
    val got = Partitioned.recallReport(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = (1L to 8L).map { u =>
      val g = grants(u)
      val exact = nearest(vec(u - 1), 5)(g).toSet
      val approx = nearest(vec(u - 1), 50)(_ => true).filter(g).take(5)
      u -> math.round(approx.count(exact).toDouble / 5 * 10000) / 10000.0
    }.toMap
    assert(got == want)
  }

  test("userLayout: one partition per customer key 0..32, each exactly its user's grants") {
    val got = byKey(Partitioned.userLayout(spark, sf).select("partition_user", "block_id").collect())
    assert(got == (0L to 32L).map(u => u -> grants(u).toSeq.sorted).toMap)
  }

  test("RecallModel's exact set: the workload queries, each query's own vector left out") {
    val workload = Maintenance.workloadGen(spark, sf).collect()
      .map(r => r.getAs[Number]("query_id").longValue -> r.getAs[Number]("vec_id").longValue).toMap
    // custkeys 0..20: query_id 0 reads vector 0, the others vector 7·q
    assert(workload.size == 21 && workload.count { case (q, v) => q != v } == 20)
    val got = RecallModel.exact(spark, sf, 10).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    val want = workload.map { case (q, v) => q -> nearest(vec(v), 10)(_ != v).sorted }
    assert(got == want)
  }
}
