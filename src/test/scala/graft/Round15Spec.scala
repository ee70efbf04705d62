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
    val before = GraphSearch.partitionProbeCount(sf)
    for (us <- sharing; a = us.head; b <- us.tail) {
      val pa = GraphSearch.partitionServePolicy(spark, sf, a)
      val pb = GraphSearch.partitionServePolicy(spark, sf, b)
      assert(pa == pb, s"users $a/$b share partition set but got different policies")
    }
    assert(GraphSearch.partitionProbeCount(sf) == before,
      "serving sharing users added probe walks at the oracle SF (pin violated)")
  }

  test("ambientStats: a saturated-but-quiet phase reads ambient ~0; external load surfaces") {
    // 5 s cadence, self runs a steady 12 cores (cumulative CPU ramps
    // 60 s per sample); host load = self + ambient
    def series(ambient: Double): Seq[(Double, Double, Double)] =
      (0 to 24).map(i => (i * 5.0, 12.0 + ambient, i * 5.0 * 12.0))
    val Some((aQuiet, _, selfQuiet)) = Bench.ambientStats(series(0.5))
    assert(math.abs(aQuiet - 0.5) < 0.01 && math.abs(selfQuiet - 12.0) < 0.01,
      s"quiet phase misread: ambient=$aQuiet self=$selfQuiet")
    val Some((aLoaded, aPeak, _)) = Bench.ambientStats(series(11.0))
    assert(math.abs(aLoaded - 11.0) < 0.01 && aPeak >= aLoaded,
      s"external load not surfaced: ambient=$aLoaded")
    // the r14 rule saw the SAME mean in both once self crossed the
    // whole-process ceiling — the ambient rule separates them
    assert(aQuiet <= 8.0 && aLoaded > 8.0,
      "ambient rule failed to split quiet from loaded at the driver threshold")
    assert(Bench.ambientStats(Seq((0.0, 5.0, 0.0))).isEmpty, "single sample must rate nothing")
  }

  test("ambientStats uses the trailing-60s self window, not the phase cumulative") {
    // 120 s idle then 120 s at 16 self-cores: by the tail, cumulative
    // self (~8) would misread half the phase's own work as ambient;
    // the trailing window sees the true 16
    val s = (0 to 48).map { i =>
      val w = i * 5.0
      val cpu = if (w <= 120) 0.0 else (w - 120) * 16.0
      (w, if (w <= 120) 1.0 else 17.0, cpu)
    }
    val Some((mean, _, _)) = Bench.ambientStats(s)
    assert(mean < 4.0, s"tail self-work misattributed to ambient: mean=$mean")
  }

  test("probed-point lookup routes through the partition key") {
    // below the ceiling nothing probes; the lookup must agree for
    // sharing users (same key → same — here empty — probe rows)
    val u = GraphSearch.SweepUsers.head
    assert(GraphSearch.partitionProbed(spark, sf, u).isEmpty,
      "oracle-SF policy recorded probe points despite the pin")
  }
}
