package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, IvfIndex}
import graft.dedup.Dedup

/** Round-12 pins — the premises the new dispatch/breaker machinery
  * stands on, asserted independently of DuckDB:
  *
  *  1. the C5 circuit breaker's candidate ESTIMATE is exact: the
  *     histogram-sum prediction equals a from-scratch driver
  *     recomputation of the blocked join's pre-filter cardinality
  *     (unit-normalize, argmin cell assignment, triangle cell-pair
  *     set — all replicated in plain Scala, no engine expressions).
  *     This is what lets the breaker veto a 4×10¹⁰-row stream in
  *     seconds instead of discovering it at ENOSPC (the r11 100×
  *     outage).
  *  2. the breaker TRIPS: over budget, C5 fails fast with a
  *     diagnostic naming the at-scale path (C10), before any join
  *     executes.
  *  3. the dispatchers are IDENTITY at the oracle SFs: knnGraphAuto
  *     == the exact B11 build, embeddingPairsAuto == the exact C5
  *     miner — the premise behind both auto keys carrying the exact
  *     branches' quadratic SQL oracles verbatim.
  *  4. the descent branch of knnGraphAuto is the NND graph itself
  *     (forced via maxExactN = 0), so past the ceiling callers get
  *     the 100×-measured build, not a third code path.
  *  5. the within-cell fallback trades only RECALL: its pairs are a
  *     subset of C5's with bit-identical cosines (precision exact).
  *  6. descentCells floors at 16 for every oracle SF, keeping the
  *     r11 nnd_graph_k5/k8 sidecar-replay oracles bit-identical
  *     under the cells ∝ √N rule.
  */
class Round12Spec extends AnyFunSuite {
  import SparkTest._

  private def driverCellPairs(idx: IvfIndex.Index, radii: Map[Int, Double],
                              tau: Double): Seq[(Int, Int)] = {
    val tauDist = math.sqrt(math.max(2.0 - 2.0 * (tau - 0.00005), 0.0))
    def d(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
      math.sqrt(s)
    }
    for {
      ca <- idx.centroids.indices
      cb <- idx.centroids.indices
      if d(idx.centroids(ca), idx.centroids(cb)) <=
        radii.getOrElse(ca, 0.0) + radii.getOrElse(cb, 0.0) + tauDist + 1e-9
    } yield (ca, cb)
  }

  test("C5 candidate estimate == driver-recomputed blocked-join cardinality (breaker exactness)") {
    val sp = spark
    val cells = 8
    val tau = 0.45
    val idx = IvfIndex.getOrBuildUnit(sp, sf, cells)
    val radii = IvfIndex.cellRadii(sp, sf, cells, unit = true)
    // from-scratch replica of the engine's assignment arithmetic:
    // double-accumulated norm, (float * double).toFloat normalize,
    // double-subtract argmin with strict < (ties → first index)
    val assigned = Tables.embeddings(sp, sf)
      .select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
        val inv = if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
        val u = v.map(x => (x * inv).toFloat)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < idx.centroids.length) {
          val cent = idx.centroids(c)
          var d2 = 0.0; i = 0
          while (i < cent.length) {
            val d = u(i).toDouble - cent(i).toDouble; d2 += d * d; i += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        best
      }
    val hist = assigned.groupBy(identity).map { case (c, a) => c -> a.length.toLong }
    val expect = driverCellPairs(idx, radii, tau).iterator
      .map { case (a, b) => hist.getOrElse(a, 0L) * hist.getOrElse(b, 0L) }
      .sum
    val got = Dedup.embeddingCandidateEstimate(sp, sf, tau, cells)
    assert(got == expect, s"estimate must be exact: $got vs $expect")
    assert(got > 0, "sf0.001 has candidate cell pairs by construction")
  }

  test("C5 breaker trips fast over budget, naming the C10 escape") {
    val sp = spark
    val ex = intercept[IllegalStateException] {
      Dedup.embeddingPairs(sp, sf, budget = 10L)
    }
    assert(ex.getMessage.contains("dedup_semantic"),
      s"diagnostic must name the at-scale path: ${ex.getMessage}")
    assert(ex.getMessage.contains("SPARK_GRAFT_C5_MAX_PAIRS"),
      "diagnostic must name the override knob")
  }

  test("embeddingPairsAuto == exact C5 at the oracle SF (dispatch identity)") {
    val sp = spark
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(Dedup.embeddingPairsAuto(sp, sf)) ==
           rows(Dedup.embeddingPairs(sp, sf)),
      "the auto dispatch must BE the exact miner below the budget")
  }

  test("within-cell fallback: pair subset of C5 with bit-identical cosines (recall-only trade)") {
    val sp = spark
    val exact = Dedup.embeddingPairs(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val within = Dedup.embeddingPairsWithin(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(within.nonEmpty, "sf0.001 has within-cell near-dup pairs")
    within.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos),
        s"within-cell pair $pair must appear in C5 with the same cosine")
    }
  }

  test("knnGraphAuto == exact B11 build at the oracle SF (dispatch identity)") {
    val sp = spark
    def edges(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges(Ann.knnGraphAuto(sp, sf, 5)) == edges(Ann.knnGraph(sp, sf, 5)),
      "below the corpus ceiling the dispatch must BE the exact build")
  }

  test("knnGraphAuto past the ceiling == the NND graph (no third path)") {
    val sp = spark
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(Ann.knnGraphAuto(sp, sf, 5, maxExactN = 0)) ==
           edges(Ann.knnGraphDescent(sp, sf, 5)),
      "past the ceiling the dispatch must BE the descent build")
  }

  test("G18 default drains all staged files in ONE trigger (the measured batching operating point)") {
    // CALIBRATION r11 measured the same 50 rows at 152 s across 5
    // triggers vs 26 s in 1 — so the SHIPPED default must be the
    // 1-trigger point: no maxFilesPerTrigger, AvailableNow drains
    // everything staged into a single micro-batch. The correctness
    // gate (drained == batch composition) holds at any batching.
    val sp = spark
    import graft.ann.GraphSearch
    import org.apache.spark.sql.{functions => F}
    val cutoff = GraphSearch.insertCutoff(sp, sf)
    val tailIds = (cutoff until cutoff + GraphSearch.InsertTail).toSet
    val half = cutoff + GraphSearch.InsertTail / 2
    val tmp = java.nio.file.Files.createTempDirectory("g18b_").toString
    val tail = Tables.embeddings(sp, sf).filter(F.col("vec_id") >= cutoff)
    def stage(df: org.apache.spark.sql.DataFrame, scratch: String, name: String): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val target = java.nio.file.Paths.get(tmp, "vecs", name)
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.move(part.toPath, target)
      ()
    }
    stage(tail.filter(F.col("vec_id") < half), s"$tmp/s0", "b0.parquet")
    stage(tail.filter(F.col("vec_id") >= half), s"$tmp/s1", "b1.parquet")
    val base = GraphSearch.servingGraph(sp, sf, baseMax = cutoff)
    val medoids = GraphSearch.cellMedoids(sp, sf, baseMax = cutoff)
    val (q, h) = graft.streaming.VectorStream.graphInsertStream(
      sp, sf, s"$tmp/vecs", s"$tmp/ckpt")
    q.awaitTermination()
    assert(h.triggerBatches.size == 1,
      s"default batching must drain both files in one trigger, got ${h.triggerBatches.size}")
    assert(h.triggerBatches.head.toSet == tailIds)
    // gate: the single-trigger graph == one batch insertStep
    val batch = Tables.embeddings(sp, sf)
      .filter(F.col("vec_id").isin(tailIds.toSeq: _*))
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
    val want = GraphSearch.insertStep(sp, sf, base, medoids, batch)
    def edgesOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgesOf(h.currentGraph) == edgesOf(want),
      "single-trigger stream graph must equal the one-batch composition")
    want.unpersist(blocking = true)
    h.release()
  }

  test("G18 NND-base mode: drained stream == batch composition over the descent graph (re-arrival repair)") {
    // the 100× maintenance row runs over the NN-Descent serving graph
    // (the index buildable there — CALIBRATION.md round 11 served
    // point queries over it first). The
    // descent build is full-corpus, so the arriving tail ids ALREADY
    // have lists: the cycle exercises repairEdges' spec-pinned
    // re-arrival idempotence, and the drained==batch gate must hold
    // against the same NND base.
    val sp = spark
    import graft.ann.GraphSearch
    import org.apache.spark.sql.{functions => F}
    val cutoff = GraphSearch.insertCutoff(sp, sf)
    val tailIds = (cutoff until cutoff + GraphSearch.InsertTail).toSet
    val tmp = java.nio.file.Files.createTempDirectory("g18n_").toString
    val tail = Tables.embeddings(sp, sf).filter(F.col("vec_id") >= cutoff)
      .select("vec_id", "embedding")
    tail.coalesce(1).write.mode("overwrite").parquet(s"$tmp/s0")
    val part = new java.io.File(s"$tmp/s0").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = java.nio.file.Paths.get(tmp, "vecs", "b0.parquet")
    java.nio.file.Files.createDirectories(target.getParent)
    java.nio.file.Files.move(part.toPath, target)
    val base = GraphSearch.nndServingGraph(sp, sf)
    val medoids = GraphSearch.cellMedoids(sp, sf)
    val (q, h) = graft.streaming.VectorStream.graphInsertStream(
      sp, sf, s"$tmp/vecs", s"$tmp/ckpt", nndBase = true)
    q.awaitTermination()
    assert(h.triggerBatches.flatMap(identity).toSet == tailIds)
    val batch = Tables.embeddings(sp, sf)
      .filter(F.col("vec_id").isin(tailIds.toSeq: _*))
      .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
    val want = GraphSearch.insertStep(sp, sf, base, medoids, batch)
    def edgesOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("src", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgesOf(h.currentGraph) == edgesOf(want),
      "NND-base stream graph must equal the one-batch composition")
    want.unpersist(blocking = true)
    h.release()
  }

  test("efFor extends past the grid edge until the target is met (no silent under-serving)") {
    // measured at the 10× dir: ef=64 (the old grid edge) scores 0.55
    // where the 0.9 target needs ef=256 — a fixed grid returns its max
    // and silently under-serves at scale. Force the same shape at
    // sf0.001 with a tiny grid: the tuning loop must DOUBLE past it to
    // an ef whose measured recall actually meets the target.
    val sp = spark
    val picked = graft.ann.GraphSearch.efFor(sp, sf, 0.9, grid = Seq(2))
    assert(picked > 2, "must extend past the grid edge")
    val rec = graft.ann.GraphSearch.efRecallCurve(sp, sf, grid = Seq(picked)).head._2
    assert(rec >= 0.9, s"extended pick ef=$picked must meet the target, got $rec")
  }

  test("descentCells floors at 16 at every oracle SF (sidecar oracles stay bit-identical)") {
    val sp = spark
    // sf0.001 N=500 → √(500/8)=7.9 → floor 16; the largest oracle SF
    // (sf0.1, N=2000) derives √250=15.8 → floor 16 too
    assert(Ann.descentCells(sp, sf) == 16)
  }
}
