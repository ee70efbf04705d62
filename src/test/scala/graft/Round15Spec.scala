package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ann.GraphSearch

/** Round-15 pins — the partition serve policy becomes LAYOUT metadata
  * (VERDICT r14 #2): one measured (iters, ef) row per routed partition
  * set, not per user.
  *
  *  1. the policy cache key is the routed partition set: users whose
  *     combs land on the same partitions read the SAME policy row —
  *     the second user adds zero probe walks.
  *  2. the routed-partition key is canonical (sorted, stable) and
  *     agrees with A7's routing.
  *  3. the oracle-SF pin survives the re-keying: every sweep user
  *     still serves the shipped default unprobed (Round14Spec's
  *     contract, re-asserted through the new key).
  */
class Round15Spec extends AnyFunSuite {
  import SparkTest._

  test("routedPartitionKey is canonical over A7's routing") {
    for (u <- GraphSearch.SweepUsers) {
      val pids = graft.rbac.Partitioned.routedPartitionIds(spark, sf, u)
        .map(_.intValue).sorted
      assert(GraphSearch.routedPartitionKey(spark, sf, u) == pids.mkString(","),
        s"user $u key diverged from routing")
      assert(pids.nonEmpty, s"sweep user $u routed to no partition")
    }
  }

  test("users sharing a routed partition share one policy row, zero new probes") {
    // the workload sample population (A15: user_id <= 20) — partitions
    // are far fewer than users by the cost model's design, so sharing
    // pairs must exist; this asserts the premise rather than assuming it
    val byKey = (0L to 20L)
      .filter(u => graft.rbac.Partitioned.routedPartitionIds(spark, sf, u).nonEmpty)
      .groupBy(u => GraphSearch.routedPartitionKey(spark, sf, u))
    val sharing = byKey.values.filter(_.size >= 2)
    assert(sharing.nonEmpty,
      "no two sample users share a routed partition set at the oracle SF — " +
        "the sharing contract has nothing to bind to")
    val before = GraphSearch.partitionProbeCount(spark, sf)
    for (us <- sharing; a = us.head; b <- us.tail) {
      val pa = GraphSearch.partitionServePolicy(spark, sf, a)
      val pb = GraphSearch.partitionServePolicy(spark, sf, b)
      assert(pa == pb, s"users $a/$b share partition set but got different policies")
    }
    assert(GraphSearch.partitionProbeCount(spark, sf) == before,
      "serving sharing users added probe walks at the oracle SF (pin violated)")
  }

  test("probed-point lookup routes through the partition key") {
    // below the ceiling nothing probes; the lookup must agree for
    // sharing users (same key → same — here empty — probe rows)
    val u = GraphSearch.SweepUsers.head
    assert(GraphSearch.partitionProbed(spark, sf, u).isEmpty,
      "oracle-SF policy recorded probe points despite the pin")
  }

  test("users sharing a routed partition set share one partition graph index, built once") {
    val sharing = (0L to 20L)
      .groupBy(u => GraphSearch.routedPartitionKey(spark, sf, u))
      .collect { case (key, us) if key.nonEmpty && us.size >= 2 => us.sorted }
    assert(sharing.nonEmpty, "no two sample users share a routed partition set")
    val us = sharing.minBy(_.head)
    val (a, b) = (us(0), us(1))
    val (ga, ma) = GraphSearch.partitionGraphIndex(spark, sf, a)
    val jobs = JobLog.jobsOf(spark)(GraphSearch.partitionGraphIndex(spark, sf, b))
    val (gb, mb) = GraphSearch.partitionGraphIndex(spark, sf, b)
    assert((gb eq ga) && (mb eq ma),
      s"users $a/$b route to one partition set but got different graph indexes")
    assert(jobs.isEmpty, s"user $b's index rebuilt what user $a's built: $jobs")
  }
}
