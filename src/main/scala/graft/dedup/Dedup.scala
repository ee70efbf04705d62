package graft.dedup

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.hashes._
import graft.functions.vector._

/** Deduplication operators over `documents` (SURVEY.md §2.C) — the
  * LLM-training-pipeline surface. The corpus here is small; the shapes
  * are the at-scale ones:
  *   - exact dedup: one hash-shuffle (groupBy content hash);
  *   - MinHash LSH: shingle → signature → band-bucket shuffle → verify,
  *     the standard near-linear near-dup join (vs the quadratic exact
  *     pairwise, kept as the oracle baseline);
  *   - SimHash: 64-bit sketch + banded hamming join.
  */
object Dedup {

  /** Distinct word n-shingles (native kernel; single-space
    * tokenization, mirrored by the DuckDB oracles).
    */
  private[graft] def wordShingles(text: Column, n: Int): Column =
    graft.functions.ngrams.word_nshingles(text, n)

  /** C1: exact dedup via content hash — every doc with its group size
    * and the canonical (minimum) doc id of its group.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("n_dups", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .withColumn("keep_id", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .select("doc_id", "h", "n_dups", "keep_id")
      .orderBy("doc_id")

  /** Word-3-shingle HASH sets per doc (sorted array<long>): the set
    * representation the banding and the exact verify both run on —
    * primitive arrays, no shingle strings materialized. Hashed-distinct
    * Jaccard equals string-distinct Jaccard up to 64-bit collisions
    * (~|g|²/2⁶⁴ per doc, irrelevant).
    */
  private def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.ngrams.word_nshingle_hashes(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)

  /** C2: MinHash-LSH near-dup pairs, exact-verified.
    *
    * Pipeline (the at-scale one): 64 minhashes from the shingle set →
    * 16 bands × 4 rows → explode band keys → self-join on band key
    * (the ONLY shuffle touches `docs × 16` rows, never pairs) →
    * candidate pairs → exact Jaccard verify ≥ 0.8.
    *
    * With sims ≥ 0.9 in this corpus, 16×4 banding has recall ~1-1e-7,
    * so the verified output equals the exact pairwise result — which is
    * what the DuckDB oracle computes.
    */
  private val pairsCache = new graft.SessionCache[Double, DataFrame]

  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    // compute-once + persist: `dedup_clusters` consumes the same verified
    // pair set — without the cache it would re-run the whole
    // shingle→minhash→band→verify pipeline before its connected
    // components pass (the pair set is tiny; the pipeline is not)
    pairsCache.getOrElseUpdate(spark, dir, threshold) {
      val sets = shingleSets(spark, dir)
        .transform(graft.Tables.spread(spark, _))
      verifiedPairs(candidatePairs(sets, "s", bands = 16, rowsPerBand = 4),
        sets, "s", threshold)
    }

  /** LSH band-collision candidate volume (pre-verify) — ScaleStats
    * instrumentation for the r10 scale run: the "banding keeps
    * candidates subquadratic" claim's measured quantity.
    */
  private[graft] def lshCandidateCount(spark: SparkSession, dir: String): Long =
    candidatePairs(shingleSets(spark, dir)
      .transform(graft.Tables.spread(spark, _)), "s",
      bands = 16, rowsPerBand = 4).count()

  /** Exact-verify candidate (doc1, doc2) pairs: attach both token sets,
    * apply the size-ratio bound implied by `jaccard >= threshold` (free
    * pruning), then exact Jaccard.
    *
    * The doc→set dictionary is corpus-sized, so it is never broadcast
    * (bounded-frame policy, Analytics.scala:16). Instead it is first
    * semi-joined down to the docs that actually appear in a candidate
    * pair — candidates ≪ corpus by the banding FP math (see the band
    * tuning notes at `ngramJaccard`) — and the attach joins are left
    * unhinted: AQE broadcasts the reduced dictionary when it is small
    * and falls back to a shuffle join at scale.
    */
  private def verifiedPairs(pairs: DataFrame, sets: DataFrame, setCol: String,
                            threshold: Double): DataFrame = {
    // the candidate-id frame is persisted: it feeds BOTH semi-join
    // branches, and without the cache the whole banding pipeline
    // (pairs' lineage) would be embedded once per branch on top of the
    // main join's copy — ids is doc-id-slim, so the cache cost is
    // negligible next to re-running candidate generation. It is a
    // build-local scratch frame, so the verified output is materialized
    // HERE (persist + one count job) and ids unpersisted before
    // returning — otherwise every invocation would orphan a persisted
    // frame until the ContextCleaner happens to run.
    val ids = pairs.select(col("doc1").as("doc_id"))
      .union(pairs.select(col("doc2").as("doc_id"))).distinct()
      .persist()
    val needed = sets.join(ids, Seq("doc_id"), "left_semi")
    val verified = pairs
      .join(needed.select(col("doc_id").as("doc1"), col(setCol).as("x1")), "doc1")
      .join(needed.select(col("doc_id").as("doc2"), col(setCol).as("x2")), "doc2")
      .filter(size(col("x1")) * threshold <= size(col("x2")) &&
        size(col("x2")) * threshold <= size(col("x1")))
      .withColumn("jaccard", round(
        graft.functions.ngrams.sorted_jaccard(col("x1"), col("x2")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc1", "doc2", "jaccard")
      .orderBy("doc1", "doc2")
      .persist()
    verified.count() // materialize so ids' blocks are no longer needed
    ids.unpersist(blocking = false)
    verified
  }

  /** C6: dup-cluster assembly — near-dup PAIRS are not actionable until
    * they become CLUSTERS with one canonical doc each (what an actual
    * dedup pass deletes against). Connected components over the verified
    * pair graph via GraphX (Pregel-based, scales to the 100 TB edge
    * set); canonical = minimum doc id in the component.
    */
  def dupClusters(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val pairsDf = minhashLsh(spark, dir, threshold)
    // the verified pair frame is session-persisted (see minhashLsh), so
    // this count is a cache scan, and it sizes the GraphX edge RDD from
    // the DATA instead of the session's shuffle-partition constant —
    // Pregel's per-round jobs otherwise launch |shuffle.partitions|
    // near-empty tasks per stage at the small SFs (guide §2.2; same
    // rule as Ann.graphEdgeParts)
    val nPairs = pairsDf.count()
    val pairs = pairsDf
      .select("doc1", "doc2").as[(Long, Long)].rdd
      .coalesce(graft.ann.Ann.graphEdgeParts(spark, nPairs))
    val graph = org.apache.spark.graphx.Graph.fromEdgeTuples(pairs, defaultValue = 0)
    val components = graph.connectedComponents().vertices // (doc_id, min reachable id)
    components.toDF("doc_id", "cluster_rep")
      .orderBy("doc_id")
  }

  /** Oracle sidecar frame (r11): the per-doc 64-bit sketch
    * (doc_id, sig) — the xxhash64 half with no SQL derivation. Given
    * stored signatures DuckDB replays the pair search exactly
    * (bit_count(xor()) over the quadratic pair space == the banded
    * join, which is LOSSLESS for hamming <= 3 by pigeonhole over the
    * 4x16 bands), so C3 is fully oracle-checked downstream of the
    * sketch.
    */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"), simhash64(wordShingles(col("text"), 2)).as("sig"))

  /** C3: SimHash near-dup pairs (custom sketch expression + banded
    * hamming join). Pairs with hamming distance ≤ maxHamming over
    * 64-bit simhash of word bigrams. Oracle-checked since r11 via the
    * signature sidecar.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSigs(spark, dir)
    // 4 bands × 16 bits: ≤3 differing bits leave ≥1 band identical.
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(bnd =>
        shiftrightunsigned(col("sig"), bnd * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val a = banded.select(col("band"), col("band_key"), col("doc_id").as("doc1"), col("sig").as("sig1"))
    val b = banded.select(col("band"), col("band_key"), col("doc_id").as("doc2"), col("sig").as("sig2"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2", "sig1", "sig2").distinct()
      .withColumn("hamming", bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc1"), col("doc2"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc1", "doc2")
  }

  /** C4: character-3-gram Jaccard pairs at `threshold`.
    *
    * Semantically the exact quadratic pairwise join (the DuckDB oracle
    * computes it that way); physically candidates come from MinHash
    * banding over the char-gram sets and are then EXACTLY verified, so
    * the output is identical while the pair space never materializes —
    * the naive crossJoin is O(n²·|g|) in ONE task here (12.5M × 550-el
    * intersects at sf0.1) and is the thing you cannot run at 100 TB.
    * A size-ratio prefilter (|g1|/|g2| ≥ t, implied by Jaccard ≥ t)
    * prunes candidates for free.
    */
  private val ngramPairsCache = new graft.SessionCache[Double, DataFrame]

  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    // cached like minhashLsh: verifiedPairs persists its (tiny) output,
    // so the cache both reuses the verified pair set and guarantees
    // repeated invocations don't accrete persisted frames
    ngramPairsCache.getOrElseUpdate(spark, dir, threshold) {
      val par = spark.sparkContext.defaultParallelism
      val g = Tables.documents(spark, dir)
        .repartition(par) // testdata = 1 row group; spread the heavy map
        .select(col("doc_id"),
          graft.functions.ngrams.char_ngram_hashes(col("text"), 5).as("g"))
      // 12 bands × 5 rows: this corpus has background char-gram sim up to
      // ~0.27 (tiny vocab), so banding must reject j≈0.27 hard
      // (FP ≈ 0.27^5×12 ≈ 1.7%) while keeping j≥0.9 recall ≈ 1-2e-6.
      verifiedPairs(candidatePairs(g, "g", bands = 12, rowsPerBand = 5),
        g, "g", threshold)
    }

  /** MinHash-banded candidate (doc1, doc2) pairs over a token-set
    * column. Only slim (band_key, doc_id) rows are shuffled — the token
    * arrays are attached AFTER pair dedup (verifiedPairs), so the
    * band join never ships arrays.
    *
    * Hash family: one xxhash64 per token, then per-signature-row remix
    * with the row index — one string hash per token instead of
    * `numHashes` of them.
    */
  private def candidatePairs(df: DataFrame, setCol: String,
                             bands: Int, rowsPerBand: Int): DataFrame = {
    val withSig = df.withColumn("sig",
      graft.functions.ngrams.minhash_sigs_long(col(setCol), bands * rowsPerBand))
    val banded = withSig.select(col("doc_id"),
      posexplode(array((0 until bands).map(bnd =>
        xxhash64(slice(col("sig"), bnd * rowsPerBand + 1, rowsPerBand), lit(bnd))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    banded.select(col("band"), col("band_key"), col("doc_id").as("doc1"))
      .join(banded.select(col("band"), col("band_key"), col("doc_id").as("doc2")),
        Seq("band", "band_key"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
  }

  /** C7: decontamination — the cross-set containment check every
    * training pipeline runs before a benchmark is trusted: a train doc
    * is contaminated iff it shares ≥ `minHits` distinct word-`n`-gram
    * shingles with ANY doc of the eval set (here: source = 'src0', the
    * deterministic stand-in for a held-out benchmark).
    *
    * Shape at 100 TB: the eval set is always tiny relative to the
    * training corpus, so its distinct shingle hashes BROADCAST and the
    * corpus side is one scan + map-side-combined aggregation — no
    * corpus shuffle keyed on shingles. Exact (no LSH) — a
    * contamination gate must not have false negatives; hashes are the
    * same codegen'd kernel the MinHash path uses, and the ScalaTest
    * verifies against brute-force string-shingle intersection.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8,
                    minHits: Long = 1L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evalShingles = docs.filter(col("source") === "src0")
      .select(explode(
        graft.functions.ngrams.word_nshingle_hashes(col("text"), n)).as("h"))
      .distinct()
    docs.filter(col("source") =!= "src0")
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"),
        explode(graft.functions.ngrams.word_nshingle_hashes(col("text"), n)).as("h"))
      .join(broadcast(evalShingles), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits")) // hashes are distinct per doc
      .filter(col("n_hits") >= minHits)
      .orderBy("doc_id")
  }

  /** C7b: decontamination with a Bloom pre-filter — the at-scale form
    * of `decontaminate` for when the eval dictionary outgrows a
    * comfortable broadcast. The exact distinct-hash set ships at
    * 8 B/element + hash-table overhead; a 1%-fpp Bloom filter is
    * ~1.2 B/element, and it rides INSIDE the corpus scan (a codegen'd
    * plan-time-constant kernel, functions.BloomMightContain). Bloom
    * has no false negatives, so exactness is preserved by re-verifying
    * the surviving trickle against the true set — deliberately as a
    * SHUFFLE equi-join here (the at-scale shape: post-bloom survivors
    * are ~the true hits plus fpp·corpus, a tiny fraction of the
    * corpus-shingle stream that would otherwise hit the shuffle).
    * Asserted row-identical to `decontaminate` in DecontaminateSpec.
    */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 8,
                         minHits: Long = 1L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    val docs = Tables.documents(spark, dir)
    // persisted for the duration of the BUILD only: the count and the
    // filter aggregation share one materialization, then the cache is
    // released — the verify join recomputes the eval aggregation at
    // query time (the same cost the plain gate pays) instead of
    // pinning the hash set in a long-lived session's storage memory
    val evalShingles = docs.filter(col("source") === "src0")
      .select(explode(
        graft.functions.ngrams.word_nshingle_hashes(col("text"), n)).as("h"))
      .distinct()
    evalShingles.persist()
    // DISTRIBUTED build (per-partition filters merged by the executor
    // aggregate) — the driver only ever holds the ~1.2 B/element
    // bitmap, never the hash set itself
    val bf: BloomFilter =
      try evalShingles.stat.bloomFilter("h", math.max(evalShingles.count(), 1L), fpp)
      finally evalShingles.unpersist()
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    docs.filter(col("source") =!= "src0")
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"),
        explode(graft.functions.ngrams.word_nshingle_hashes(col("text"), n)).as("h"))
      .filter(graft.functions.bloom.bloom_might_contain(col("h"), bos.toByteArray))
      .join(evalShingles, Seq("h"), "left_semi") // exact verify of survivors
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .orderBy("doc_id")
  }

  /** C5: embedding-cosine similar-pair mining (cos ≥ tau) — exact
    * SEMANTICS (the oracle stays the quadratic pairwise SQL), blocked
    * EXECUTION: cos(x,y) ≥ τ iff the unit-normalized vectors satisfy
    * ‖x̂−ŷ‖ ≤ √(2−2τ), so a pair can only cross the threshold when its
    * two unit-sphere IVF cells satisfy d(c_a,c_b) ≤ r_a + r_b + √(2−2τ)
    * (triangle inequality — lossless). Candidate CELL pairs are decided
    * driver-side over the tiny centroid set; the corpus joins cell-to-
    * cell (shuffle equi-join on cell id, no crossJoin anywhere in the
    * plan) and survivors are verified with exact cosine on the RAW
    * embeddings. Mirrors what C2/C4 do for token sets, in vector space.
    */
  /** C5's candidate CELL pairs (both directions for a≠b, once for
    * a=b): an unordered vec pair in cells {x,y} survives exactly once
    * after the downstream vec1 < vec2 filter. Blocking must cover the
    * ROUNDING band, not just cos ≥ τ: the final filter accepts
    * round(cos,4) ≥ τ, i.e. raw cosine down to τ − 5e-5, whose unit
    * distance slightly exceeds √(2−2τ) — block for the widened
    * threshold so those pairs can't be cell-pruned (lossless).
    */
  private def candidateCellPairs(spark: SparkSession, dir: String,
                                 tau: Double, cells: Int): Seq[(Int, Int)] = {
    import graft.ann.IvfIndex
    val idx = IvfIndex.getOrBuildUnit(spark, dir, cells)
    val radii = IvfIndex.cellRadii(spark, dir, cells, unit = true)
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

  /** EXACT cardinality of C5's blocked candidate stream, computed
    * BEFORE executing the join (r12 circuit breaker, VERDICT r11 #3a):
    * a cell-to-cell equi-join's pre-filter output is BY DEFINITION
    * Σ_{(a,b)∈cellPairs} n_a·n_b over the per-cell histogram, so one
    * linear assignment pass + a cells-sized driver sum predicts the
    * stream the r11 100× run discovered by filling the disk (>70 GB
    * spill, ENOSPC). Exactness is spec-pinned against the executed
    * join's pre-filter count at the oracle SFs.
    */
  private val estimateCache = new graft.SessionCache[(Int, Int), Long]

  def embeddingCandidateEstimate(spark: SparkSession, dir: String,
                                 tau: Double = 0.45, cells: Int = 8): Long =
    // session-cached (r13, ADVICE r12): the auto dispatch, the exact
    // branch's breaker, and the bench artifact's estimate log all ask
    // for the same number — one histogram pass per (dir, τ, cells)
    // serves them all
    estimateCache.getOrElseUpdate(spark, dir, ((tau * 1000).toInt, cells)) {
      import graft.ann.IvfIndex
      val idx = IvfIndex.getOrBuildUnit(spark, dir, cells)
      val hist = Tables.embeddings(spark, dir)
        .select(nearest_centroid(vec_normalize(col("embedding")), idx.centroids).as("cell"))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      candidateCellPairs(spark, dir, tau, cells).iterator
        .map { case (a, b) => hist.getOrElse(a, 0L) * hist.getOrElse(b, 0L) }
        .sum
    }

  /** Candidate-volume budget for C5 (overridable for tests). Default
    * 10⁹ rows ≈ the largest stream the 10× run actually verified
    * (measured ~4×10⁸ worst case there) with headroom; the 100×
    * isotropic stream (~4×10¹⁰) trips it in seconds instead of
    * spilling the disk to ENOSPC.
    */
  private[graft] def c5Budget: Long =
    graft.Env.long("SPARK_GRAFT_C5_MAX_PAIRS", 1000000000L)

  def embeddingPairs(spark: SparkSession, dir: String, tau: Double = 0.45,
                     cells: Int = 8, budget: Long = c5Budget): DataFrame =
    embeddingPairsEstimated(spark, dir, tau, cells, budget,
      embeddingCandidateEstimate(spark, dir, tau, cells))

  /** C5 with a PRE-computed candidate estimate (r13, ADVICE r12): the
    * auto dispatch already paid the histogram pass to decide the
    * branch — threading the number through avoids a second full
    * corpus assignment+groupBy per invocation (linear but not free at
    * the scaled dirs).
    */
  private def embeddingPairsEstimated(spark: SparkSession, dir: String,
                                      tau: Double, cells: Int, budget: Long,
                                      est: Long): DataFrame = {
    // fail FAST when the blocked stream would be quadratic-at-scale
    // (isotropic corpora defeat cell pruning): a diagnostic naming the
    // at-scale path beats an ENOSPC outage three hours in
    if (est > budget) throw new IllegalStateException(
      s"dedup_embedding (C5): estimated candidate stream ($est rows) exceeds " +
      s"the budget ($budget). Exact cosine pair mining is cell-pair-" +
      "quadratic on this corpus (blocking is not selective at cos >= " +
      s"$tau); use dedup_semantic (C10, SemDeDup within-cell blocking) or " +
      "embeddingPairsAuto at this scale, or raise SPARK_GRAFT_C5_MAX_PAIRS.")
    blockedPairs(spark, dir, tau, cells,
      candidateCellPairs(spark, dir, tau, cells))
  }

  /** The SemDeDup-blocked APPROXIMATION of C5's pair output: identical
    * schema and verify kernel, candidate cell pairs restricted to
    * a = b (within-cell only — the C10 blocking applied to the pair-
    * mining output shape). With cells ∝ corpus (`semanticCells`) the
    * stream is Σ n_c² ≈ N·(N/cells) = O(N·250) — linear — where the
    * exact cross-cell block is quadratic on isotropic data. Recall is
    * what SemDeDup trades (only pairs whose members share a cell
    * surface); precision stays exact (every emitted cosine is
    * verified on raw embeddings).
    */
  def embeddingPairsWithin(spark: SparkSession, dir: String,
                           tau: Double = 0.45, cells: Int = 8): DataFrame =
    blockedPairs(spark, dir, tau, cells,
      candidateCellPairs(spark, dir, tau, cells).filter(p => p._1 == p._2))

  /** C5/C10 dispatch (r12, VERDICT r11 #7): run the EXACT blocked pair
    * miner when its pre-measured candidate stream fits the budget,
    * else the within-cell SemDeDup blocking — same output schema, so
    * the caller sees one operator whose exactness degrades only where
    * exactness is unpayable (the measured 100× isotropic point:
    * ~4×10¹⁰ candidate rows, ENOSPC in r11). At every oracle SF the
    * dispatch picks the exact branch, so the key is fully
    * oracle-checked by C5's quadratic SQL.
    */
  def embeddingPairsAuto(spark: SparkSession, dir: String,
                         tau: Double = 0.45,
                         budget: Long = c5Budget): DataFrame = {
    val cells = semanticCells(spark, dir)
    // one histogram pass decides the branch AND feeds the exact
    // branch's breaker (r13): est ≤ budget by construction there, so
    // the threaded value never trips — it exists to avoid recomputing
    val est = embeddingCandidateEstimate(spark, dir, tau, cells)
    if (est <= budget) embeddingPairsEstimated(spark, dir, tau, cells, budget, est)
    else embeddingPairsWithin(spark, dir, tau, cells)
  }

  /** The shared execution shape of C5 and its within-cell variant:
    * broadcast the (tiny) candidate cell-pair list, shuffle equi-join
    * the corpus cell-to-cell, verify survivors with exact cosine on
    * the raw embeddings. No crossJoin anywhere in the plan.
    */
  private def blockedPairs(spark: SparkSession, dir: String, tau: Double,
                           cells: Int, cellPairs: Seq[(Int, Int)]): DataFrame = {
    val pairsDf = broadcast(spark.createDataFrame(cellPairs)
      .toDF("cell_a", "cell_b"))
    import graft.ann.IvfIndex
    val idx = IvfIndex.getOrBuildUnit(spark, dir, cells)
    val e = Tables.embeddings(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("vec_id"), col("embedding"),
        nearest_centroid(vec_normalize(col("embedding")), idx.centroids).as("cell"))
    val a = e.select(col("vec_id").as("vec1"), col("embedding").as("e1"),
      col("cell").as("cell_a"))
    val b = e.select(col("vec_id").as("vec2"), col("embedding").as("e2"),
      col("cell").as("cell_b"))
    a.join(pairsDf, "cell_a")
      .join(b, "cell_b")
      .filter(col("vec1") < col("vec2"))
      .withColumn("cos_sim", round(cosine_sim(col("e1"), col("e2")), 4))
      .filter(col("cos_sim") >= tau)
      .select("vec1", "vec2", "cos_sim")
      .orderBy("vec1", "vec2")
  }

  /** C9: duplicated-substring spans — EXACT substring-level dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): a W-word window is duplicated iff the identical
    * window occurs in at least one OTHER document; overlapping or
    * adjacent duplicated windows merge into maximal spans, and each
    * affected doc reports its duplicated-window count, covered word
    * count, and coverage fraction — the signal substring dedup cuts on
    * (the reference paper removes spans ≥ 50 tokens; the
    * count/coverage report is the policy-free form of the same
    * computation).
    *
    * The reference implementation builds a corpus-wide suffix array —
    * a single-machine structure. The Spark-native shape is a two-phase
    * duplicated-window join, exact end to end:
    *   1. SLIM candidate pass: every window position emits only
    *      (xxhash64(window), doc_id) into a map-side-combined count —
    *      the shuffle carries 16 bytes per window, never window text.
    *      Hashes appearing in one doc only (the overwhelming majority
    *      by the same FP math as the MinHash bands) are discarded.
    *   2. STRING verify on the surviving trickle: candidate windows
    *      re-grouped by their literal text, so a 64-bit hash collision
    *      can only ever cause extra verify work, never a wrong row —
    *      same exactness discipline as `verifiedPairs`.
    * Span merge is a per-doc window function over marked positions
    * (positions per doc ≤ doc length — the partition is a document,
    * never the corpus), then two aggregations. No corpus broadcast,
    * no crossJoin, no global window.
    */
  def substringSpans(spark: SparkSession, dir: String, w: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
    // ordered window grams with their 0-based start position
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_words"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - w),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(w))))))
      .toDF("doc_id", "n_words", "pos", "gram")
    val g = grams.withColumn("h", xxhash64(col("gram")))
    val candHashes = g.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("h")
    val cand = g.join(candHashes, Seq("h"), "left_semi")
    val sharedGrams = cand.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("gram")
    val marked = cand.join(sharedGrams, Seq("gram"), "left_semi")
      .select("doc_id", "n_words", "pos")
    // maximal-span merge: a new run starts when the gap to the previous
    // marked position exceeds W (pos − prev ≤ W keeps word coverage
    // contiguous, including exactly-adjacent windows)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val runs = marked
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("newrun",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("run", sum("newrun").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy("doc_id", "n_words", "run")
      .agg(count(lit(1)).as("nw"), (max("pos") + w - min("pos")).as("cov"))
      .groupBy("doc_id", "n_words")
      .agg(sum("nw").as("n_dup_windows"), sum("cov").as("covered_words"))
      .select(col("doc_id"),
        col("n_dup_windows").cast("bigint").as("n_dup_windows"),
        col("covered_words").cast("bigint").as("covered_words"),
        col("n_words"),
        round(col("covered_words").cast("double") / col("n_words"), 4).as("coverage"))
      .orderBy("doc_id")
  }

  /** C10: SemDeDup semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication") — k-means cluster the embeddings, compare pairs
    * only WITHIN a cluster, and for each duplicate pair (cos ≥ τ)
    * remove the member closer to its centroid (the paper's rule: keep
    * the low-centroid-similarity "outlier" representative, drop the
    * redundant near-centroid copy). This is the deliberately-lossy,
    * near-linear sibling of C5: C5's triangle-inequality cell-pair
    * blocking is exact (a near-dup pair straddling two cells is still
    * found); SemDeDup trades those straddling pairs away for a strictly
    * within-cluster O(Σ|cellᵢ|²) comparison bound — the knob web-scale
    * dedup actually ships (the paper runs 50k clusters over 12.8 B
    * docs; cluster count caps the quadratic term). DedupSemanticSpec
    * pins the contract: every reported pair is also found by exact C5
    * (subset), coverage vs C5 is reported and floored, and the removal
    * rule is re-verified row by row.
    *
    * Plan shape: one broadcast of the k-row centroid table (bounded —
    * policy-compliant), one cell equi-join self-pairing (no crossJoin),
    * aggregation-reduced loser set. At 100 TB, `cells` scales with the
    * corpus to hold per-cell membership ~constant.
    *
    * Output: the REMOVED rows — (vec_id, cell, centroid_sim, n_dups),
    * deterministic under the seeded k-means + (sim, vec_id) tie-break.
    */
  /** SemDeDup's cluster-count knob scaled the way the paper ships it
    * (50k clusters at 12.8 B docs): cells ∝ corpus, holding per-cell
    * membership ~constant (≈250, the sf0.1 operating point), so the
    * within-cluster quadratic term stays bounded as N grows — the r10
    * scale run measured fixed cells=8 going superlinear (10.6× serial
    * at 10× data) for exactly this reason. The floor of 8 keeps every
    * oracle-checked SF bit-identical: max(8, N/250) = 8 for N ≤ 2000,
    * and the oracle's `k8` centroid sidecar only exists there.
    */
  def semanticCells(spark: SparkSession, dir: String): Int =
    math.max(8, (Tables.embeddings(spark, dir).count() / 250).toInt)

  def semanticDedup(spark: SparkSession, dir: String, tau: Double = 0.45,
                    cells: Int = 8): DataFrame = {
    import graft.ann.IvfIndex
    val idx = IvfIndex.getOrBuildUnit(spark, dir, cells)
    val cents = broadcast(
      spark.createDataFrame(idx.centroids.toIndexedSeq.zipWithIndex.map {
        case (c, i) => (i, c)
      }).toDF("cell", "centroid"))
    val e = Tables.embeddings(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("vec_id"), col("embedding"),
        nearest_centroid(vec_normalize(col("embedding")), idx.centroids).as("cell"))
      .join(cents, "cell")
      .select(col("vec_id"), col("embedding"), col("cell"),
        round(cosine_sim(col("embedding"), col("centroid")), 4).as("centroid_sim"))
    val a = e.select(col("cell"), col("vec_id").as("vec1"),
      col("embedding").as("e1"), col("centroid_sim").as("cs1"))
    val b = e.select(col("cell"), col("vec_id").as("vec2"),
      col("embedding").as("e2"), col("centroid_sim").as("cs2"))
    val pairs = a.join(b, "cell")
      .filter(col("vec1") < col("vec2"))
      .withColumn("cos_sim", round(cosine_sim(col("e1"), col("e2")), 4))
      .filter(col("cos_sim") >= tau)
    // the paper's keep rule: the HIGHER-centroid-sim member of a dup
    // pair is redundant; ties fall to the larger vec_id so the result
    // is a function of the data alone. The pair rows already carry the
    // loser's cell and centroid_sim — projecting them here saves a
    // third corpus scan + assignment pass
    val loserWins = col("cs1") > col("cs2") ||
      (col("cs1") === col("cs2") && col("vec1") > col("vec2"))
    pairs.select(
        when(loserWins, col("vec1")).otherwise(col("vec2")).as("vec_id"),
        col("cell"),
        when(loserWins, col("cs1")).otherwise(col("cs2")).as("centroid_sim"))
      .groupBy("vec_id", "cell", "centroid_sim")
      .agg(count(lit(1)).as("n_dups"))
      .select("vec_id", "cell", "centroid_sim", "n_dups")
      .orderBy("vec_id")
  }
}
