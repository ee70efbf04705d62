package graft


/** Scale-exponent measurement main (round 10): prints ONE JSON line of
  * the engine's internal work volumes at a dataset dir, so running it
  * at sf0.1 and the ScaleGen 10× dir turns every "this stays
  * subquadratic / this fraction vanishes" claim into a measured
  * exponent (CALIBRATION.md tables the ratios).
  *
  * Quantities (all counts of actual distributed work, not estimates):
  *   - walk_visited: rows visited by the standing nq=8 serving walk —
  *     the claim is the ABSOLUTE bound seeds + rounds·ef·2gk per query,
  *     so visited/corpus must fall ~1/N as the corpus grows;
  *   - knn_ring_pairs / knn_joined_pairs / knn_kernel_pairs: the exact
  *     kNN build's work volumes (O(k·N) ring-bound pairs; cell-joined
  *     row stream pre pivot filter; 64-dim kernel evaluations after
  *     the lossless pivot filter) — the subquadratic-build claim;
  *   - nnd_init_pairs / nnd_cand_rows: NN-Descent's init candidates
  *     (ring ∪ long-range — the r11 ring-seeded init's O(bigK·N)
  *     claim; the r10 table counted only descent rounds and the old
  *     all-pairs init term was invisible) and the last descent round's
  *     candidate rows — the O(iters·k·N) local-join claim;
  *   - lsh_cand_pairs / lsh_verified_pairs: MinHash-LSH band-collision
  *     candidates and exact-verified near-dup pairs — the
  *     banding-not-all-pairs claim;
  *   - walk_visited_nnd (r11): visited rows of the SAME walk over the
  *     NN-Descent graph — the at-scale serving pair of walk_visited.
  *
  * Usage: runMain graft.ScaleStats <dir> [mode]
  *
  * mode "atscale" (r11, for the 100× dir) skips the EXACT-build
  * stages — knnCandidateCounts streams the within-cell joined
  * candidate rows (≈2.5e9 rows ≈ 1.2 TB of vector payload at 200k
  * isotropic vectors: the design-rejected regime whose replacement is
  * the NND family), and the exact-graph walk needs that same build.
  * Everything measured at 100× (NND init/descent volumes, NND-walk
  * visited, LSH candidates) is the designated at-scale path; the
  * exact-build exponents are measured to 10× in mode "full".
  */
object ScaleStats {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_scalestats_sidecars")
    val dir = args(0)
    val atScale = args.length > 1 && args(1) == "atscale"
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    def stage[T](name: String)(f: => T): T = {
      System.err.println(s"[scalestats] $name ...")
      val t0 = System.nanoTime()
      val r = f
      System.err.println(s"[scalestats] $name done ${(System.nanoTime() - t0) / 1e9}s")
      r
    }
    val n = Tables.embeddings(spark, dir).count()
    val d = Tables.documents(spark, dir).count()
    // exact-build stages: full mode only (see the mode note above)
    val exactJson = if (atScale) "" else {
      val visited = stage("walk")(ann.GraphSearch.visited(spark, dir).count())
      val (ringPairs, joinedPairs, kernelPairs) = stage("knn_pairs")(
        ann.Ann.knnCandidateCounts(spark, dir, ann.GraphSearch.GraphK, ann.GraphSearch.Cells))
      s""""walk_visited":$visited,""" +
        s""""knn_ring_pairs":$ringPairs,"knn_joined_pairs":$joinedPairs,"knn_kernel_pairs":$kernelPairs,"""
    }
    // stats key carries the DERIVED descent cell count (r12: cells ∝
    // √N, no longer the fixed serving-knob Cells)
    val dcells = ann.Ann.descentCells(spark, dir)
    stage("nnd")(ann.Ann.knnGraphDescent(spark, dir, ann.GraphSearch.GraphK,
      iters = 2, collectStats = true).count())
    val nndKey = (dir, ann.GraphSearch.GraphK, 2, dcells, 50)
    val nndCand = ann.Ann.descentCandStats(nndKey)
    val nndInit = ann.Ann.descentInitStats(nndKey)
    val visitedNnd = stage("walk_nnd")(ann.GraphSearch.visitedNnd(spark, dir).count())
    val lshCand = stage("lsh_cand")(dedup.Dedup.lshCandidateCount(spark, dir))
    val lshVerified = stage("lsh_verify")(dedup.Dedup.minhashLsh(spark, dir).count())
    println(s"""{"dir":"$dir","mode":"${if (atScale) "atscale" else "full"}",""" +
      s""""n_embeddings":$n,"n_documents":$d,"walk_nq":${ann.GraphSearch.Nq},""" +
      exactJson +
      s""""nnd_init_pairs":$nndInit,"nnd_cand_rows":$nndCand,""" +
      s""""walk_visited_nnd":$visitedNnd,""" +
      s""""lsh_cand_pairs":$lshCand,"lsh_verified_pairs":$lshVerified}""")
    spark.stop()
  }
}
