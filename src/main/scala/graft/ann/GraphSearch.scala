package graft.ann

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{PlanCut, Tables}
import graft.functions.vector._

/** B31/B32: batch graph-walk ANN serving — the Spark re-expression of
  * the reference's graph-index serving loop: hnswlib's `knn_query` with
  * an `efSearch` beam (logical_partition_benchmark/benchmark/src/
  * global_hnsw_index.cpp:151) and ACORN's predicate-blind filtered walk
  * (acorn_benchmark/src/acorn_search.cpp:64 — efSearch beam over the
  * WHOLE graph, the RBAC predicate applied to results, not traversal).
  *
  * The reference walks a pointer graph one query at a time; the Spark
  * half of that system is the BATCH form: a synchronous fixed-round
  * beam search where every query advances one expansion per round.
  *
  *   - Serving graph: B11's exact kNN edges symmetrized (HNSW keeps
  *     bidirectional links) and degree-capped at 2·gk per node by
  *     distance (hnswlib's M_max pruning — the cap is what makes every
  *     per-round bound below CONSTRUCTIVE, not just expected; a hub's
  *     raw in-degree is unbounded on clustered data). Built once per
  *     session and persisted — at scale this is the graph index
  *     written as parquet bucketed by `src`, so each round's frontier
  *     join is a co-located equi-join.
  *   - Entry points: per-IVF-cell medoids (the member nearest its cell
  *     centroid) — deterministic, geometry-covering seeds, the batch
  *     analogue of HNSW's upper-layer descent to a good entry point.
  *   - Round: beam = top-`ef` of everything visited so far (by L2 to
  *     the query, ties to the smaller id); expand the beam's out-edges;
  *     distances are computed only for NEWLY visited nodes (anti-join).
  *     `visited` grows monotonically, so "top-ef of visited" equals the
  *     classic "top-ef of beam ∪ new neighbors" — eviction is permanent
  *     either way — but needs no per-round eviction bookkeeping.
  *   - Fixed `rounds` keeps the whole walk deterministic and lets the
  *     DuckDB oracle replay it exactly as unrolled round CTEs (both
  *     keys are fully value-checked, not recall-only).
  *
  * Per-round cost at scale: |frontier| = nq·ef slim rows shuffled onto
  * the graph's `src` partitioning, ≤ nq·ef·2k distance kernels, one
  * bounded per-query top-ef (window over ≤ visited-size groups, which
  * is ≤ seeds + rounds·ef·2k rows by construction — never corpus-sized).
  * The corpus is touched only to fetch embeddings of newly visited ids
  * (an equi-join on vec_id against the vector table).
  */
object GraphSearch {

  /** Beam width (hnswlib efSearch; global_hnsw_index.cpp:22 defaults
    * 100 on 100k-1M corpora; 64 here for the 500-2000-row testdata). */
  val Ef = 64
  /** Synchronous expansion rounds (fixed → deterministic + replayable). */
  val Rounds = 5
  /** Degree of the underlying exact kNN graph (B11's k). */
  val GraphK = 8
  /** IVF cell count for the medoid entry points. */
  val Cells = 16
  /** Batch width of the serving walk (matches ann_batch_topk's nq). */
  val Nq = 8

  private val graphCache = new graft.SessionCache[(Int, Int, String), DataFrame]
  private val medoidCache = new graft.SessionCache[(Int, String), DataFrame]
  private val visitedCache = new graft.SessionCache[(String, Int, Int, Int, Int), DataFrame]

  private def baseTag(baseMax: Long): String =
    if (baseMax < 0) "full" else s"prefix$baseMax"

  /** Undirected serving graph: B11's exact kNN edges plus their
    * reverses, deduplicated, then DEGREE-CAPPED at 2·gk per node by
    * (distance, nbr) — hnswlib's M_max reverse-link pruning
    * (hnswalg.h mutuallyConnectNewElement shrinks a node's list to
    * M_max by distance). The cap is what makes the walk's visited
    * bound constructive: without it a hub vector's in-degree (how many
    * nodes list IT among their top-gk) is unbounded on clustered data.
    * Built from the un-sorted edge set (the union+distinct and cap
    * repartition anyway — B11's query-surface sort would be a wasted
    * k·N range-exchange). (src, nbr) slim longs, persisted once per
    * session (the graph-index build step). `baseMax` restricts the
    * graph to the base prefix an insert batch walks (B33); -1 = full.
    */
  def servingGraph(spark: SparkSession, dir: String, gk: Int = GraphK,
                   cells: Int = Cells, baseMax: Long = -1L): DataFrame =
    graphCache.getOrElseUpdate(spark, dir, (gk, cells, baseTag(baseMax))) {
      buildGraph(spark, dir, gk,
        Ann.knnEdges(spark, dir, gk, cells,
          if (baseMax < 0) None else Some(baseMax)))
    }

  /** The serving graph over an ARBITRARY member subset (A21's routed
    * dynamic partition). `tag` names the subset for the session cache —
    * it must determine `members` (e.g. "dynpart[<partition ids>]").
    *
    * DISPATCHED like B42 (r14, VERDICT r13 #1): below the measured
    * exact-build ceiling the subset gets exact kNN edges + the
    * symmetrize/M_max cap (unchanged — the regime every oracle SF
    * lands in, so A21's replay CTEs stay valid verbatim); above it —
    * where a large SHARED partition used to re-enter both the
    * quadratic exact build and the fixed-beam decay — the member set
    * gets the same treatment the global at-scale index earned in r13:
    * an NN-Descent build (rank-remapped, linear) plus NSW long links
    * (`links` deterministic hash edges per node, added after the cap,
    * restoring reachability on the converged short-link graph).
    */
  def servingGraphOn(spark: SparkSession, dir: String, tag: String,
                     members: DataFrame, gk: Int = GraphK,
                     cells: Int = Cells, iters: Int = 2,
                     links: Int = 2): DataFrame =
    graphCache.getOrElseUpdate(spark, dir, (gk, cells, tag)) {
      val m = members.select(col("vec_id"))
      val n = m.count()
      if (n <= Ann.KnnExactMaxN) {
        val e = IvfIndex.withCells(spark, dir, cells)
          .join(m, Seq("vec_id"), "left_semi")
        buildGraph(spark, dir, gk, Ann.knnEdgesFrom(spark, dir, gk, cells, e))
      } else {
        val ranked = Ann.denseRanks(spark, m)
        val base = buildGraph(spark, dir, gk,
          Ann.knnGraphDescentOnRanked(spark, dir, ranked, n, gk, iters))
        val nav = subsetNavLinks(ranked, n, links)
        val out = PlanCut.checkpointed(spark, base.unionAll(nav).distinct())
        base.unpersist(blocking = true)
        ranked.unpersist(blocking = true)
        out
      }
    }

  /** NSW long links over a rank-remapped member subset: `links`
    * deterministic hash edges per node in rank space (uniform over the
    * contiguous [0, m) modulus), mapped back to real ids,
    * bidirectional. The subset twin of `nndNavServingGraph`'s
    * long-link derivation.
    */
  private def subsetNavLinks(ranked: DataFrame, m: Long, links: Int): DataFrame = {
    val lr = ranked
      .select(col("vec_id").as("src"), col("rid"),
        explode(array((1 to links).map(j =>
          pmod(xxhash64(col("rid"), lit(j)), lit(m))): _*)).as("nbrr"))
      .filter(col("rid") =!= col("nbrr"))
      .join(ranked.select(col("rid").as("nbrr"), col("vec_id").as("nbr")), "nbrr")
      .select("src", "nbr")
    lr.unionAll(lr.select(col("nbr").as("src"), col("src").as("nbr")))
  }

  private def buildGraph(spark: SparkSession, dir: String, gk: Int,
                         edges: DataFrame): DataFrame = {
      val g = edges.select("src", "nbr")
      val und = degreeCap(spark, dir,
        g.union(g.select(col("nbr").as("src"), col("src").as("nbr"))).distinct(), gk)
      // lineage-cut (r10): the edge set is referenced once per walk
      // round and composed by the repair family — without the rebase
      // every consumer re-pays plan analysis of the whole build tree
      // (ruinous for the NND build, whose plan grows per descent round)
      PlanCut.checkpointed(spark, und)
  }

  /** THE degree cap (hnswlib's M_max prune), shared by the graph build
    * and the insert repair: each src's candidate edges ranked by
    * (endpoint L2 distance, nbr), the first 2·gk kept.
    */
  private def degreeCap(spark: SparkSession, dir: String, cand: DataFrame,
                        gk: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val w = Window.partitionBy("src").orderBy(col("dist"), col("nbr"))
    cand
      .join(e.select(col("vec_id").as("src"), col("embedding").as("es")), "src")
      .join(e.select(col("vec_id").as("nbr"), col("embedding").as("en")), "nbr")
      .withColumn("dist", l2_dist(col("es"), col("en")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 * gk)
      .select("src", "nbr")
  }

  /** Entry points: for every non-empty IVF cell, the member closest to
    * its centroid (ties to the smaller vec_id). min_by partial-aggregates
    * — one scan, `cells` output rows, no per-cell sort. `baseMax`
    * restricts candidates to the base prefix (-1 = full corpus).
    */
  def cellMedoids(spark: SparkSession, dir: String, cells: Int = Cells,
                  baseMax: Long = -1L): DataFrame = {
    val all = IvfIndex.withCells(spark, dir, cells)
    cellMedoidsFrom(spark, dir, cells, baseTag(baseMax),
      if (baseMax < 0) all else all.filter(col("vec_id") < baseMax))
  }

  /** Medoid entry points of an arbitrary member subset (keyed by tag). */
  def cellMedoidsOn(spark: SparkSession, dir: String, tag: String,
                    members: DataFrame, cells: Int = Cells): DataFrame =
    cellMedoidsFrom(spark, dir, cells, tag,
      IvfIndex.withCells(spark, dir, cells)
        .join(members.select(col("vec_id")), Seq("vec_id"), "left_semi"))

  private def cellMedoidsFrom(spark: SparkSession, dir: String, cells: Int,
                              tag: String, base: DataFrame): DataFrame =
    medoidCache.getOrElseUpdate(spark, dir, (cells, tag)) {
      val idx = IvfIndex.getOrBuild(spark, dir, cells)
      val m = base
        // the own-cell distance IS the min over centroids (that is what
        // assigned the cell), so no element_at indexing is needed
        .withColumn("d", array_min(centroid_dists(col("embedding"), idx.centroids)))
        .groupBy("cell")
        .agg(min_by(col("vec_id"), struct(col("d"), col("vec_id"))).as("cand_id"))
        .select("cand_id")
        .persist()
      m.count()
      m
    }

  /** The serving walk for queries vec_id < Nq over the full graph —
    * the shared state the three serving keys read (plain top-k,
    * mark-deleted top-k, the RBAC-filtered ACORN form), built once.
    */
  def visited(spark: SparkSession, dir: String, nq: Int = Nq, ef: Int = Ef,
              rounds: Int = Rounds, gk: Int = GraphK, cells: Int = Cells): DataFrame =
    visitedCache.getOrElseUpdate(spark, dir, (s"serve$nq", ef, rounds, gk, cells)) {
      buildVisited(spark, dir, Ann.queryBatch(spark, dir, nq), ef, rounds,
        servingGraph(spark, dir, gk, cells), cellMedoids(spark, dir, cells))
    }

  /** One fixed-round beam walk for an arbitrary bounded query frame
    * (query_id, qvec) over the (possibly base-restricted) graph.
    * Returns the final round as an UNPERSISTED flat parquet read-back
    * (PlanCut.diskCutBounded): downstream re-ranks scan a handful of
    * slim files, and a caller's unpersist() is a harmless no-op. Each
    * superseded round's parquet dir is released (PlanCut.releaseDisk)
    * the moment the next round's cut is written, so a walk leaves ONE
    * live dir — the final round's, which backs the returned frame for
    * the session (transient sweep walks release it too, via
    * releaseDisk at their call sites). With `inspectPlan = true` the
    * final round is returned raw instead (un-truncated, un-executed)
    * so plan-policy specs can audit the per-round join shape.
    */
  private[graft] def buildVisited(spark: SparkSession, dir: String, queries: DataFrame,
                                  ef: Int, rounds: Int,
                                  edges: DataFrame, medoids: DataFrame,
                                  inspectPlan: Boolean = false,
                                  excludeSelf: Boolean = true): DataFrame = {
      val e = Tables.embeddings(spark, dir)
      val corpus = e.select(col("vec_id").as("cand_id"), col("embedding"))

      // attach exact L2 distances to (query_id, cand_id) pairs.
      // excludeSelf drops the candidate whose id EQUALS the query id —
      // correct only for the benchmark walks, whose queries ARE corpus
      // rows (the ann-family self-exclusion convention). Arbitrary
      // arriving queries (graphTopKFor / G17) carry ids from their own
      // space, where id-equality is a spurious collision — they serve
      // hnswlib-style (an indexed twin of the query ranks first).
      def withDist(cand: DataFrame): DataFrame = {
        val c = if (excludeSelf) cand.filter(col("cand_id") =!= col("query_id")) else cand
        c.join(corpus, "cand_id")
          .join(queries, "query_id")
          .select(col("query_id"), col("cand_id"),
            l2_dist(col("embedding"), col("qvec")).as("dist"))
      }

      val seeds = queries.select("query_id").crossJoin(medoids)
      // each round references the previous one THREE times (beam rank,
      // anti-join, union) and the union carries it twice — without
      // truncation the logical tree doubles per round (2^rounds copies
      // of the graph-build subtree), exploding analysis and plan-string
      // cost even though execution would reuse the cache (observed: an
      // 8 GiB plan-string OOM before truncation). r16 cut each round to
      // DISK (a slim parquet round-trip truncates both the plan and the
      // task binary; see PlanCut.diskCutBounded's rationale). r17: the
      // cut is now BOUNDED — the visited set's size is known by
      // construction (|seeds| + r·ef·maxdeg per query), so the
      // per-round persist + count that existed only to size the output
      // files is dropped and each round costs exactly ONE job (the
      // parquet write, which is also the round's one
      // materialization). Measured on the 5-key
      // serving subset at 32 cores: group wall 11.7 s → 8.3 s.
      val nq = math.max(1L, queries.count())
      val nSeeds = math.max(1L, medoids.count())
      // degree bound of the serving graphs: M_max cap 2·gk plus the
      // NSW long links (2 per node, bidirectional) — generous is fine,
      // an over-estimate only costs slightly-small output files
      val maxDeg = 2L * GraphK + 4L
      def roundBound(r: Int): Long = nq * (nSeeds + r.toLong * ef * maxDeg)
      def cutRound(df: DataFrame, r: Int): DataFrame =
        PlanCut.diskCutBounded(spark, df, roundBound(r))
      var vis = cutRound(withDist(seeds), 0)
      val w = Window.partitionBy("query_id").orderBy(col("dist"), col("cand_id"))
      var last: DataFrame = vis
      for (r <- 1 to rounds) {
        val beam = vis.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= ef)
          .select(col("query_id"), col("cand_id").as("src"))
        val fresh = beam.join(edges, "src")
          .select(col("query_id"), col("nbr").as("cand_id"))
          .distinct()
          .join(vis.select("query_id", "cand_id"), Seq("query_id", "cand_id"), "left_anti")
        last = vis.union(withDist(fresh))
        if (r < rounds) {
          val next = cutRound(last, r)
          // the superseded round no longer feeds anything (the cut is a
          // flat scan of its OWN parquet) — reclaim its dir now, not at
          // JVM exit (ADVICE r16: ef/recall sweeps built rounds+1 dirs
          // per transient walk for the session's lifetime)
          PlanCut.releaseDisk(vis)
          vis = next
        }
      }
      if (inspectPlan) { // raw final round, for (non-executing) plan audits
        return last
      }
      // final round lineage-cut too: every serving key re-ranks this
      // frame per action (topOf windows) — the disk cut both truncates
      // the plan AND keeps the frame's partition/file count sized to
      // its slim rows, so re-rank stages launch a handful of tasks
      // instead of rounds × shuffle.partitions
      val out = PlanCut.diskCutBounded(spark, last, roundBound(rounds))
      PlanCut.releaseDisk(vis)
      out
  }

  /** The walk's result-ranking convention — ONE definition of the
    * (dist, cand_id) tie rule every serving key, oracle replay, and
    * driver reference shares: per-query top-n of a visited frame.
    */
  private[graft] def topOf(vis: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("cand_id"))
    vis.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** The merge-time permission filter of the graph serving keys: the
    * visited candidates (`cand_id`) the user may read, under
    * `Rbac.restrict`'s walk-bounded policy (no forced broadcast).
    */
  private def mergeFilter(vis: DataFrame, spark: SparkSession, dir: String,
                          userId: Long): DataFrame =
    graft.rbac.Rbac.restrict(vis, spark, dir, userId, key = "cand_id", walkBounded = true)

  /** B31 `ann_graph_topk`: per-query top-k of the walk — the batch form
    * of hnswlib knn_query over the whole corpus. */
  def graphTopK(spark: SparkSession, dir: String, nq: Int = Nq, k: Int = 10): DataFrame =
    topOf(visited(spark, dir, nq), k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")

  /** B32 `rbac_graph_topk`: ACORN's filtered search — the SAME
    * predicate-blind walk (query 0's slice of the shared visited set),
    * with the user's permission predicate applied to the RESULT ranking
    * only (acorn_search.cpp applies the accessible-id bitmap to hits,
    * never to traversal). May return < k rows when the walk visited
    * fewer accessible nodes — exactly ACORN's recall behavior.
    */
  def rbacGraphTopK(spark: SparkSession, dir: String, userId: Long = 1,
                    k: Int = 10): DataFrame = {
    Ann.firstK(mergeFilter(visited(spark, dir).filter(col("query_id") === 0), spark, dir, userId),
      k, "cand_id")
      .select(col("cand_id").as("block_id"), col("cand_id").as("document_id"))
  }

  /** B34 `ann_graph_delete_topk`: hnswlib's mark_deleted serving
    * semantics (hnswalg.h markDelete / knn_query interplay): deleted
    * nodes STAY in the graph — traversal walks through them, keeping
    * the graph navigable — and are excluded from results only. Same
    * tombstone rule as A13 (`vec_id % 17 = 0`), same shared walk state
    * as B31: the delete costs one ranking filter, zero index surgery.
    */
  def graphDeleteTopK(spark: SparkSession, dir: String, nq: Int = Nq,
                      k: Int = 10): DataFrame =
    topOf(visited(spark, dir, nq).filter(pmod(col("cand_id"), lit(17)) =!= 0), k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")

  /** Insert-batch size for B33 (the trailing vec_ids play the role of
    * newly arriving vectors; the rest are the already-indexed base). */
  val InsertTail = 50

  /** First vec_id of the insert batch: corpus size minus the tail. */
  def insertCutoff(spark: SparkSession, dir: String): Long =
    Tables.embeddings(spark, dir).count() - InsertTail

  /** B33 `ann_graph_insert`: incremental graph insertion — hnswlib's
    * add_items neighbor-finding step (hnswalg.h addPoint: beam-search
    * the EXISTING graph for each new point, link to its top-M
    * results). The trailing `InsertTail` vectors walk the BASE-prefix
    * graph (base kNN edges + base medoid seeds) and each new node's
    * neighbor list is the top-GraphK of its walk — the batch
    * formulation: all inserts advance one synchronous expansion per
    * round, so an arriving batch costs `rounds` frontier joins total,
    * not |batch| pointer chases. (The reciprocal half of the link
    * update is a union + per-node bounded re-prune over the touched
    * nodes — the same topk machinery — omitted from the report, which
    * checks the hard part: where the walk lands.) Deterministic given
    * the base graph, so fully oracle-replayable.
    */
  def insertNeighbors(spark: SparkSession, dir: String, ef: Int = Ef,
                      rounds: Int = Rounds, gk: Int = GraphK,
                      cells: Int = Cells): DataFrame = {
    val cutoff = insertCutoff(spark, dir)
    val vis = visitedCache.getOrElseUpdate(
      spark, dir, (s"insert$InsertTail", ef, rounds, gk, cells)) {
      val batch = broadcast(Ann.queryFrame(Tables.embeddings(spark, dir)
        .filter(col("vec_id") >= cutoff)))
      buildVisited(spark, dir, batch, ef, rounds,
        servingGraph(spark, dir, gk, cells, baseMax = cutoff),
        cellMedoids(spark, dir, cells, baseMax = cutoff))
    }
    topOf(vis, gk)
      .select(col("query_id").as("src"), col("cand_id").as("nbr"))
      .orderBy("src", "nbr")
  }

  /** A routed partition set's member docs (A7's routing) — the id set
    * whose serving graph A21 builds. One definition shared by the index
    * build and the serve policy's ceiling check.
    */
  private def partitionMembers(spark: SparkSession, dir: String, pids: Seq[Int],
                               alpha: Double): DataFrame =
    graft.rbac.Partitioned.costModelPartitionDocs(spark, dir, alpha)
      .filter(col("partition_id").isin(pids: _*))
      .select(col("document_id").as("vec_id")).distinct()

  /** Routed member-set size, session-cached — read by the serve
    * policy (the exact-ceiling pin) and by every A21 key's dispatch.
    */
  private val memberCountCache = new graft.SessionCache[(Seq[Int], Double), Long]
  def partitionMemberCount(spark: SparkSession, dir: String, userId: Long,
                           alpha: Double = 2.0): Long = {
    val pids = routedPartitions(spark, dir, userId, alpha)
    memberCountCache.getOrElseUpdate(spark, dir, (pids, alpha))(
      partitionMembers(spark, dir, pids, alpha).count())
  }

  /** A21's per-partition index state (graph + medoid seeds over the
    * user's routed member docs) WITHOUT the walk — what the layout job
    * builds at scale, and what Bench's warm-up pre-builds (the walk
    * itself stays timed: it is the search, as for B31-B37). The index
    * belongs to the PARTITION (search.py:31): the cache tag carries the
    * routed partition set and alpha, which determine the member set.
    */
  def partitionGraphIndex(spark: SparkSession, dir: String, userId: Long = 1,
                          gk: Int = GraphK, cells: Int = Cells,
                          alpha: Double = 2.0, iters: Int = 2): (DataFrame, DataFrame) =
    graphIndexOf(spark, dir, routedPartitions(spark, dir, userId, alpha), gk, cells, alpha, iters)

  /** `partitionGraphIndex` of a resolved routed partition set. */
  private def graphIndexOf(spark: SparkSession, dir: String, pids: Seq[Int], gk: Int,
                           cells: Int, alpha: Double, iters: Int): (DataFrame, DataFrame) = {
    // iters (the descent build-quality knob) only exists above the
    // exact ceiling; the medoid seeds don't depend on it
    val tag = s"dynpart[${pids.mkString(",")}]_a$alpha"
    val gtag = if (iters == 2) tag else s"${tag}_i$iters"
    val members = partitionMembers(spark, dir, pids, alpha)
    (servingGraphOn(spark, dir, gtag, members, gk, cells, iters),
      cellMedoidsOn(spark, dir, tag, members, cells))
  }

  /** The user's routed partition ids, sorted — the key of every A21
    * structure (r15, VERDICT r14 #2): users whose combs land on the same
    * partitions share one member set, serving graph, walk and measured
    * (iters, ef) policy row. Rendered by `routedPartitionKey`.
    */
  private def routedPartitions(spark: SparkSession, dir: String, userId: Long,
                               alpha: Double): Seq[Int] =
    graft.rbac.Partitioned.routedPartitionIds(spark, dir, userId, alpha).map(_.intValue).sorted

  private[graft] def routedPartitionKey(spark: SparkSession, dir: String,
                                        userId: Long, alpha: Double = 2.0): String =
    routedPartitions(spark, dir, userId, alpha).mkString(",")

  /** Deterministic probe representative per routed partition set: the
    * SMALLEST user id in A15's workload sample (users 0–20, the
    * workloadGen population) routing to each partition set — so the
    * measured policy row does not depend on WHICH sharing user asked
    * first (call-order-dependent picks would make the pick itself
    * nondeterministic across Verify/Bench orderings). Read from the
    * routes, like every routing lookup.
    */
  private def policyProbeUsers(spark: SparkSession, dir: String,
                               alpha: Double): Map[String, Long] =
    (0L to 20L).groupBy(u => routedPartitionKey(spark, dir, u, alpha))
      .map { case (k, us) => k -> us.min }

  /** The point-memo identity of a routed partition set's graph. */
  private def partitionGraphKey(pkey: String, alpha: Double): String =
    s"dynpart $pkey a$alpha"

  private val partPolicyCache = new graft.BuildOnce[(String, Double, Double), (Int, Int, Double)]

  /** A21's measured per-partition serving policy (r14, VERDICT r13
    * #1): (iters, ef) for THIS user's routed partition, the
    * `nndServePolicy` discipline applied to the partitioned path —
    * the one serving surface still at fixed r8-era defaults after r13
    * (its shipped ef=64 measured 0.30 recall for the shared-partition
    * user at 10×, CALIBRATION r13; "the beam, not the routing").
    *
    * Below the exact-build ceiling the policy is PINNED to the
    * shipped default (iters=2, ef=Ef) without probing — the regime
    * every oracle SF lands in, so the replay CTEs stay valid and
    * Verify never pays probe walks. Above it: `tune` with the
    * per-query cost cap min(1024, m). Recall is measured END-TO-END:
    * the Nq-batch walk over the partition graph, permission filter at
    * merge, vs the exact accessible ground truth — the quantity
    * RecallCheck's partition mode reports. Returned recall -1.0 =
    * pinned, unprobed (below the ceiling).
    */
  def partitionServePolicy(spark: SparkSession, dir: String, userId: Long,
                           alpha: Double = 2.0,
                           target: Double = RecallTarget): (Int, Int, Double) =
    policyOf(spark, dir, routedPartitions(spark, dir, userId, alpha), userId, alpha, target)

  /** `partitionServePolicy` of a resolved routed partition set, which
    * `userId` routes to. */
  private def policyOf(spark: SparkSession, dir: String, pids: Seq[Int], userId: Long,
                       alpha: Double, target: Double): (Int, Int, Double) = {
    val pkey = pids.mkString(",")
    partPolicyCache.getOrElseUpdate(spark, dir, (pkey, alpha, target)) {
      val m = partitionMemberCount(spark, dir, userId, alpha)
      if (m <= Ann.KnnExactMaxN) (2, Ef, -1.0)
      else {
        // probe through the partition's deterministic representative —
        // the probe cost is charged to the PARTITION once; any other
        // user routing here serves off its measured points with zero
        // new probes
        val pu = policyProbeUsers(spark, dir, alpha).getOrElse(pkey, userId)
        lazy val gt = groundTruth(spark, dir, Nq, 10, Some(pu))
        tune(math.min(1024L, m).toInt, target, (iters, ef) =>
          measure(spark, dir, partitionGraphKey(pkey, alpha), iters, ef) {
            val (edges, medoids) =
              graphIndexOf(spark, dir, pids, GraphK, Cells, alpha, iters)
            probe(spark, dir, Nq, 10, ef, Rounds, edges, medoids, gt, Some(pu))
          })
      }
    }
  }

  /** Every (iters, ef, recall) point the policy probed for the
    * partition set `userId` routes to at `dir` — the calibration
    * table's rows. Keyed through the routed partition set (r15): two
    * users sharing a partition read the SAME probe rows.
    */
  def partitionProbed(spark: SparkSession, dir: String, userId: Long,
                      alpha: Double = 2.0): Seq[(Int, Int, Double)] =
    measuredPoints(spark, dir, partitionGraphKey(routedPartitionKey(spark, dir, userId, alpha), alpha))

  /** Total probe walks taken across every partition policy at `dir` —
    * the quantity the partition-keyed memo bounds (a second user on a
    * shared partition must add ZERO to it; the calibration demo's
    * counter).
    */
  def partitionProbeCount(spark: SparkSession, dir: String): Int =
    measured.entries(spark, dir).count(_._1._1.startsWith("dynpart "))

  /** A21 `rbac_partition_graph_topk`: the reference's LITERAL serving
    * architecture in graph form — cost-model dynamic partitions with a
    * graph index PER PARTITION, searched via the routed partition only,
    * permissions applied at merge (controller/dynamic_partition/
    * search.py:31: user roles → RolePartitions → per-partition HNSW
    * top-k → merge_results_with_filter; the per-partition index build
    * is initialize/partition index creation). The user's comb routes to
    * its partition ids (bounded driver metadata, as A7); the routed
    * partitions' member docs get their OWN exact-kNN serving graph +
    * medoid seeds (session-cached per partition set — at scale these are the
    * per-partition graph indexes built by the layout job); query 0
    * walks that graph; the permission semi-join runs at merge time
    * (the shared partition holds other combs' blocks).
    */
  def partitionGraphTopK(spark: SparkSession, dir: String, userId: Long = 1,
                         k: Int = 10, ef: Int = -1, rounds: Int = Rounds,
                         gk: Int = GraphK, cells: Int = Cells,
                         alpha: Double = 2.0): DataFrame =
    Ann.firstK(partitionWalk(spark, dir, userId, 1, ef, rounds, gk, cells, alpha), k, "cand_id")
      .select(col("cand_id").as("block_id"), col("cand_id").as("document_id"))

  /** One A21-family walk, shared by the single-user key, the policy key
    * and the user sweep: the first `nq` queries walk the user's routed
    * partition graph, permission-filtered at merge. ef = -1 (the
    * shipped default) serves at the MEASURED per-partition policy; an
    * explicit ef is an attribution probe (RecallCheck's sweep) and
    * walks the default-quality graph. The walk is session-cached per
    * routed partition set, batch width, alpha and build level (the beam
    * rides in the cache key itself); only the merge filter is per user.
    */
  private def partitionWalk(spark: SparkSession, dir: String, userId: Long, nq: Int,
                            ef: Int, rounds: Int, gk: Int, cells: Int,
                            alpha: Double): DataFrame = {
    // the user's routing, resolved once: the policy, the walk tag and
    // the graph all key on it
    val pids = routedPartitions(spark, dir, userId, alpha)
    val (iters, efR) =
      if (ef > 0) (2, ef)
      else { val (i, e, _) = policyOf(spark, dir, pids, userId, alpha, RecallTarget); (i, e) }
    val tag = s"dynpart[${pids.mkString(",")}]_q${nq}_a${alpha}_i$iters"
    val vis = visitedCache.getOrElseUpdate(spark, dir, (tag, efR, rounds, gk, cells)) {
      val (edges, medoids) = graphIndexOf(spark, dir, pids, gk, cells, alpha, iters)
      buildVisited(spark, dir, Ann.queryBatch(spark, dir, nq), efR, rounds, edges, medoids)
    }
    mergeFilter(vis, spark, dir, userId)
  }

  /** Sidecars for A22's oracle replay — B43's convention applied to
    * the PARTITIONED serving path: the user's routed partition graph
    * (whatever branch the size dispatch built — exact at the oracle
    * SFs, descent+nav above the ceiling) persists verbatim, plus a
    * one-row (iters, ef) table with the measured policy pick. The
    * oracle replays routing, medoid seeding, the walk, and the
    * merge-time permission filter independently in SQL; the sidecar
    * carries the FINAL undirected edge set of the routed serving
    * graph, walked verbatim with no symmetrize/cap replay (B43's
    * convention — at the oracle SFs those edges are the exact kNN
    * build's, above the ceiling the descent+nav build's).
    */
  def partitionServeGraph(spark: SparkSession, dir: String,
                          userId: Long, alpha: Double): DataFrame = {
    val (iters, _, _) = partitionServePolicy(spark, dir, userId, alpha)
    partitionGraphIndex(spark, dir, userId, GraphK, Cells, alpha, iters)._1
  }

  def partitionServeFrame(spark: SparkSession, dir: String,
                          userId: Long, alpha: Double): DataFrame = {
    val (iters, ef, _) = partitionServePolicy(spark, dir, userId, alpha)
    policyRow(spark, iters, ef)
  }

  /** The one-row (iters, ef) parameter table of a policy replay. */
  private def policyRow(spark: SparkSession, iters: Int, ef: Int): DataFrame =
    spark.range(1).select(lit(iters).as("iters"), lit(ef).as("ef"))

  /** A22 `rbac_partition_graph_policy_topk` (r14): the partitioned
    * serving surface (the reference's dynamic-partition search,
    * controller/dynamic_partition/search.py:31) served AT the measured
    * per-partition (iters, ef) policy over the full benchmark query
    * batch, permission-filtered at merge — the at-scale form of A21
    * that stays value-checkable at ANY corpus size via the sidecar
    * replay (A21 itself keeps the stronger full-SQL exact-build oracle
    * at the oracle SFs, where the two coincide by the dispatch pin).
    */
  def partitionGraphPolicyTopK(spark: SparkSession, dir: String,
                               userId: Long = 1, nq: Int = Nq, k: Int = 10,
                               alpha: Double = 2.0): DataFrame =
    topOf(partitionWalk(spark, dir, userId, nq, -1, Rounds, GraphK, Cells, alpha), k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")

  /** B39 (r9): serving over the NN-DESCENT graph — B17's documented
    * escape hatch made REAL for serving. At 100 TB the exact
    * cell-bucketed kNN build (B11) is the expensive half of the graph
    * index (quadratic within cells); NN-Descent builds an approximate
    * graph in O(iters·k·N) local joins. The identical symmetrize +
    * M_max cap + medoid-seeded walk runs over that graph: same serving
    * plan, same constructive visited bounds, approximate only in WHICH
    * edges exist. Oracle-checked since r11: the descent edge set (the
    * only xxhash64-derived part) persists as the `nnd_graph_k8`
    * sidecar and the identical walk CTEs replay the serving path; the
    * spec additionally walks the COLLECTED graph on the driver (the
    * walk is exact GIVEN the edges) and pins recall vs exact ground
    * truth.
    */
  def nndServingGraph(spark: SparkSession, dir: String, gk: Int = GraphK,
                      cells: Int = Cells, iters: Int = 2): DataFrame =
    graphCache.getOrElseUpdate(spark, dir, (gk, cells, s"nnd$iters")) {
      // `cells` here is the SERVING knob (medoid entry points, walk
      // seeds) and stays fixed at Cells; the descent build derives its
      // own partition count from the corpus (Ann.descentCells, r12) —
      // the two were conflated when both were hardwired to 16.
      // `iters` is the build-QUALITY knob (hnswlib's efConstruction
      // analogue): 2 is the shipped default; at 100× the walk's recall
      // saturates on the 2-iter graph (CALIBRATION r12), so the knob
      // is plumbed for measurement and larger corpora.
      buildGraph(spark, dir, gk,
        Ann.knnGraphDescent(spark, dir, gk, iters = iters))
    }

  /** NAVIGABLE NND serving graph (r13): the descent graph's capped
    * short links ∪ `links` hash-derived LONG-RANGE links per node
    * (bidirectional) — the Kleinberg/NSW construction. Why: the r13
    * knob sweep measured the plain NND walk PLATEAUING at 0.6 recall
    * on the 200k low-intrinsic-dim dir with recall FLAT in ef and
    * FALLING as descent converged (iters 3 < iters 2) — the
    * signature of REACHABILITY binding, not edge quality: the closer
    * the graph gets to exact kNN, the shorter its links and the more
    * it fragments into metric neighborhoods the 16-seed walk cannot
    * cross (the same disconnect this engine already measured on
    * clique-structured data, CALIBRATION r10). hnswlib solves
    * navigability with its layer hierarchy (upper layers ARE sparse
    * long links); a flat engine gets the same property from O(1)
    * deterministic long links per node, which survive the M_max cap
    * by construction (they are added AFTER it, bounding degree at
    * 2·gk + 2·links). Deterministic → the whole edge set persists as
    * the model sidecar and the oracle walks it verbatim.
    */
  def nndNavServingGraph(spark: SparkSession, dir: String, gk: Int = GraphK,
                         cells: Int = Cells, iters: Int = 2,
                         links: Int = 2): DataFrame =
    graphCache.getOrElseUpdate(spark, dir, (gk, cells, s"nndnav$iters-$links")) {
      val base = nndServingGraph(spark, dir, gk, cells, iters)
      val ids = Tables.embeddings(spark, dir).select(col("vec_id"))
      val n = Tables.embeddings(spark, dir).count()
      val lr = ids.select(col("vec_id").as("src"),
          explode(array((1 to links).map(j =>
            pmod(xxhash64(col("vec_id"), lit(j)), lit(n))): _*)).as("nbr"))
        .filter(col("src") =!= col("nbr"))
      val und = lr.unionAll(lr.select(col("nbr").as("src"), col("src").as("nbr")))
      PlanCut.checkpointed(spark, base.unionAll(und).distinct())
    }

  /** The NND serving walk's visited state — shared by B39's top-k and
    * ScaleStats' at-scale visited-fraction measurement (the exact
    * graph's `visited` twin for the regime where the exact build is
    * out of budget).
    */
  def visitedNnd(spark: SparkSession, dir: String, nq: Int = Nq,
                 ef: Int = Ef, rounds: Int = Rounds,
                 gk: Int = GraphK, cells: Int = Cells,
                 iters: Int = 2): DataFrame =
    visitedCache.getOrElseUpdate(
      spark, dir, (s"nndserve$nq-i$iters", ef, rounds, gk, cells)) {
      buildVisited(spark, dir, Ann.queryBatch(spark, dir, nq), ef, rounds,
        nndServingGraph(spark, dir, gk, cells, iters),
        cellMedoids(spark, dir, cells))
    }

  def graphTopKNnd(spark: SparkSession, dir: String, nq: Int = Nq,
                   k: Int = 10, ef: Int = Ef, rounds: Int = Rounds,
                   gk: Int = GraphK, cells: Int = Cells): DataFrame =
    topOf(visitedNnd(spark, dir, nq, ef, rounds, gk, cells), k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")

  /** The NN-Descent policy's probe: a transient walk over the NAVIGABLE
    * graph (the index B43 serves) at build level `iters`, memoized as a
    * measured point.
    */
  private def nndProbe(spark: SparkSession, dir: String, nq: Int,
                       k: Int): (Int, Int) => Double = {
    lazy val gt = groundTruth(spark, dir, nq, k)
    (iters, ef) => measure(spark, dir, s"nndnav q$nq k$k", iters, ef)(
      probe(spark, dir, nq, k, ef, Rounds,
        nndNavServingGraph(spark, dir, GraphK, Cells, iters), cellMedoids(spark, dir, Cells), gt))
  }

  /** B43 (r13, VERDICT r12 #1): the MEASURED serving policy for the
    * NND index — (iters, ef) jointly, closing the 100× recall
    * boundary r12 left open. hnswlib has exactly these two knobs:
    * efConstruction (build quality) and efSearch (beam width); r12
    * showed they bind at DIFFERENT scales — at 10× the beam is the
    * binding knob (efFor's doubling suffices), at 100× the 2-iter
    * descent graph is too sparse in true neighbors for ANY beam (walk
    * saturates at 0.56 even at ef=2048, CALIBRATION r12) and build
    * CONVERGENCE binds. The pick is `tune` over the navigable-graph
    * probe with the per-query cost cap min(1024, N).
    */
  def nndServePolicy(spark: SparkSession, dir: String,
                     target: Double = RecallTarget): (Int, Int, Double) =
    servePolicyCache.getOrElseUpdate(spark, dir, target)(
      tune(math.min(1024L, Tables.embeddings(spark, dir).count()).toInt, target,
        nndProbe(spark, dir, Nq, 10)))

  private val servePolicyCache = new graft.BuildOnce[Double, (Int, Int, Double)]

  /** Every (iters, ef, recall) point this process probed at `dir` —
    * the calibration table's rows. Measured points only, never fits.
    */
  def nndProbedPoints(spark: SparkSession, dir: String): Seq[(Int, Int, Double)] =
    measuredPoints(spark, dir, s"nndnav q$Nq k10")

  /** Sidecars for the model-NND oracle replay: the descent graph at
    * the POLICY-picked iters (the only hash-derived part) plus a
    * one-row (iters, ef) parameter table — B38's graph_ef convention
    * extended to the pair of knobs. Their own paths (never the iters=2
    * `nnd_graph_k8` pin), so the oracle replays whatever the policy
    * picked at THIS dir. The graph is the FINAL navigable edge set —
    * the graph IS the index and the oracle walks it verbatim (no SQL
    * symmetrize/cap replay: long links are added after the cap).
    */
  def nndServeGraph(spark: SparkSession, dir: String): DataFrame =
    nndNavServingGraph(spark, dir, iters = nndServePolicy(spark, dir)._1)

  def nndServeFrame(spark: SparkSession, dir: String): DataFrame = {
    val (iters, ef, _) = nndServePolicy(spark, dir)
    policyRow(spark, iters, ef)
  }

  /** B43: the walk over the NAVIGABLE NND graph at the measured
    * (iters, ef) policy — what a user should run at ANY corpus size:
    * long links restore reachability where the converged kNN graph
    * fragments, the policy escalates the beam (and, where it still
    * pays, build iterations) from measured points only.
    */
  def graphTopKNndModel(spark: SparkSession, dir: String, nq: Int = Nq,
                        k: Int = 10): DataFrame = {
    val (iters, ef, _) = nndServePolicy(spark, dir)
    val vis = visitedCache.getOrElseUpdate(
      spark, dir, (s"nndnavserve$nq-i$iters", ef, Rounds, GraphK, Cells)) {
      buildVisited(spark, dir, Ann.queryBatch(spark, dir, nq), ef, Rounds,
        nndNavServingGraph(spark, dir, iters = iters),
        cellMedoids(spark, dir, Cells))
    }
    topOf(vis, k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")
  }

  /** The re-pruned adjacency of the nodes TOUCHED by `links` (reverse
    * edges unioned into their current lists, through `degreeCap`).
    * Base edges and reverse edges are deduplicated before ranking: on a
    * RE-insert a touched node's current list may already carry the
    * reverse edge from the batch node's previous insertion, and a
    * duplicate (src, nbr) row would occupy two window ranks — the
    * distinct (over a touched-bounded set, never corpus-sized) makes
    * the re-prune idempotent. Shared by B33b, B40, and G18's
    * per-batch repair.
    */
  private def repruneTouched(spark: SparkSession, dir: String, g: DataFrame,
                             links: DataFrame, gk: Int): DataFrame = {
    val rev = links.select(col("nbr").as("src"), col("src").as("nbr"))
    val touched = rev.select("src").distinct()
    degreeCap(spark, dir,
      g.join(touched, Seq("src"), "left_semi").unionAll(rev).distinct(), gk)
  }

  /** One full repair: `g` with every touched node's list replaced by
    * its re-pruned version, plus the new nodes' own out-links — the
    * graph hnswlib serves after add_items. Shared by B40 and G18.
    *
    * RE-insert safe: any out-links the batch's src ids already hold in
    * `g` (a node inserted before arriving again) are dropped first, so
    * the new links REPLACE the old list instead of accumulating beside
    * it — without this anti-join a re-inserted node's adjacency would
    * carry duplicate edges and exceed the 2·gk cap. Together with
    * repruneTouched's dedup this makes the repair idempotent:
    * repairEdges(repairEdges(g, links), links) == repairEdges(g, links)
    * exactly (spec-pinned).
    */
  private[graft] def repairEdges(spark: SparkSession, dir: String, g: DataFrame,
                                 links: DataFrame, gk: Int = GraphK): DataFrame = {
    val srcs = links.select("src").distinct()
    val base = g.join(srcs, Seq("src"), "left_anti")
    val touched = links.select(col("nbr").as("src")).distinct()
    // batch srcs' adjacency comes ONLY from `links` — a re-inserted
    // node that is itself a walk result of another re-insert would
    // otherwise appear in BOTH the re-pruned reverse edges and its own
    // out-links; the three unioned relations are disjoint by src
    base.join(touched, Seq("src"), "left_anti")
      .unionAll(repruneTouched(spark, dir, base, links, gk)
        .join(srcs, Seq("src"), "left_anti"))
      .unionAll(links.select(col("src"), col("nbr")))
  }

  /** B33's reciprocal half (r9): hnswlib's mutuallyConnectNewElement
    * (hnswalg.h) — after a new node links to its walk's top-gk, the
    * REVERSE edge is added to each of those base neighbors, and every
    * TOUCHED node's list is re-pruned to the M_max cap (2·gk) by
    * (distance, nbr). Output: the re-pruned adjacency of the touched
    * base nodes — bounded at |batch|·gk touched rows ∪ their existing
    * edges; the re-prune window never leaves the touched set, so an
    * arriving batch costs one bounded union + one bounded rank, no
    * full-graph rebuild. Deterministic given the base graph → fully
    * oracle-replayable (the insert-walk CTEs extended by the re-prune).
    */
  def insertReciprocalLinks(spark: SparkSession, dir: String, ef: Int = Ef,
                            rounds: Int = Rounds, gk: Int = GraphK,
                            cells: Int = Cells): DataFrame = {
    val cutoff = insertCutoff(spark, dir)
    val links = insertNeighbors(spark, dir, ef, rounds, gk, cells)
    repruneTouched(spark, dir,
      servingGraph(spark, dir, gk, cells, baseMax = cutoff), links, gk)
      .orderBy("src", "nbr")
  }

  /** B40 (r9): the maintained index SERVES — one maintenance cycle
    * (B33 insert links + B33b reciprocal re-prune + B34 tombstones)
    * composed into the graph hnswlib actually searches after
    * add_items + markDelete: the base graph with every TOUCHED node's
    * list replaced by its re-pruned version, plus the new nodes' own
    * out-links. B33 checks where the links LAND; this key checks the
    * repaired graph answers queries — new nodes are reachable (via the
    * reciprocal edges) and returnable, tombstones stay navigable but
    * out of results. Fully deterministic → oracle-replayable by
    * composing the insert-walk CTEs with a second serving walk over
    * the repaired edge relation.
    */
  def repairedGraph(spark: SparkSession, dir: String, ef: Int = Ef,
                    rounds: Int = Rounds, gk: Int = GraphK,
                    cells: Int = Cells): DataFrame =
    // the cache tag must carry EVERY parameter the built edges depend
    // on: insertNeighbors walks with (ef, rounds), so two callers with
    // different walk parameters must get DIFFERENT repaired graphs
    // (the r8 alpha-in-key lesson, re-applied to r9's own cache)
    graphCache.getOrElseUpdate(spark, dir, (gk, cells, s"repaired_e${ef}_r$rounds")) {
      val cutoff = insertCutoff(spark, dir)
      val links = insertNeighbors(spark, dir, ef, rounds, gk, cells)
      PlanCut.checkpointed(spark, repairEdges(spark, dir,
        servingGraph(spark, dir, gk, cells, baseMax = cutoff), links, gk))
    }

  /** One incremental insert step for an ARBITRARY arriving batch
    * (query_id, qvec) against a GIVEN current graph (G18's per-trigger
    * unit; B33's fixed-tail key is this step applied once to the base
    * graph): beam-walk the graph from the given seeds, link each new
    * vector to its walk's top-gk, repair (reciprocal re-prune of the
    * touched lists + the new out-links). Returns the repaired graph
    * PERSISTED and materialized, all walk scratch released — the
    * caller owns the swap (and must not unpersist a shared base it
    * passed in). Every arriving id must resolve in the corpus table
    * (the distance attaches are vec_id equi-joins).
    */
  def insertStep(spark: SparkSession, dir: String, g: DataFrame,
                 medoids: DataFrame, batch: DataFrame, ef: Int = Ef,
                 rounds: Int = Rounds, gk: Int = GraphK): DataFrame = {
    val vis = buildVisited(spark, dir, broadcast(batch), ef, rounds, g, medoids)
    val links = topOf(vis, gk)
      .select(col("query_id").as("src"), col("cand_id").as("nbr"))
    // lineage-cut, not just persist: each G18 trigger's graph embeds
    // the previous trigger's plan several times — over a long-running
    // maintenance stream the un-rebased plan would grow without bound
    val next = PlanCut.checkpointed(spark, repairEdges(spark, dir, g, links, gk))
    PlanCut.releaseDisk(vis) // the walk's checkpoint dir, not only its blocks
    next
  }

  def graphUpsertTopK(spark: SparkSession, dir: String, nq: Int = Nq,
                      k: Int = 10, ef: Int = Ef, rounds: Int = Rounds,
                      gk: Int = GraphK, cells: Int = Cells): DataFrame = {
    val vis = visitedCache.getOrElseUpdate(
      spark, dir, (s"upsert$nq", ef, rounds, gk, cells)) {
      // seeds = FULL-corpus medoids (the maintained index covers the
      // new nodes' cells too); tombstones stay in the traversal
      buildVisited(spark, dir, Ann.queryBatch(spark, dir, nq), ef, rounds,
        repairedGraph(spark, dir, ef, rounds, gk, cells),
        cellMedoids(spark, dir, cells))
    }
    topOf(vis.filter(pmod(col("cand_id"), lit(17)) =!= 0), k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")
  }

  /** A21 sweep users (r9): the reference's dynamic-partition benchmark
    * sweeps users, not one fixed principal
    * (test_dynamic_partition.py) — these three span structurally
    * different routings at the test scales: users 0 and 2 route to
    * DEDICATED partitions, user 1 to the SHARED partition 0 (where the
    * merge-time permission filter actually bites: the shared partition
    * holds other combs' blocks). The oracle replays the routing per
    * user, so correctness is independent of which partition a user
    * lands in at any given scale.
    */
  val SweepUsers: Seq[Long] = Seq(0L, 1L, 2L)

  /** A21 widened: dynamic-partition graph serving swept over users and
    * a query BATCH (B31's nq) — per user: A7's routing → that user's
    * per-partition graph index → one batch walk → permission semi-join
    * at merge → per-query top-k. Output (user_id, query_id, block_id).
    * Each walk is session-cached per routed partition set like the
    * single-user key's (the per-partition indexes are layout-job
    * artifacts at scale).
    */
  def partitionGraphSweep(spark: SparkSession, dir: String,
                          userIds: Seq[Long] = SweepUsers, nq: Int = Nq,
                          k: Int = 10, ef: Int = -1, rounds: Int = Rounds,
                          gk: Int = GraphK, cells: Int = Cells,
                          alpha: Double = 2.0): DataFrame = {
    // walks of different partition sets are INDEPENDENT jobs (distinct
    // routed graphs, distinct visited caches) — overlap them (r17): the
    // sequential map serialized 3 × rounds of frontier-round latency
    // even though each round leaves most cores idle; the session
    // caches underneath take per-key locks, so racing users is safe
    // and the per-user results are cache-keyed and deterministic.
    graft.Session.parMap(spark, userIds) { u =>
      // ef = -1: each user's walk serves at ITS partition's measured
      // policy (partition sizes differ per routing, so one fixed beam
      // cannot fit all three sweep users — the r13 measurement)
      topOf(partitionWalk(spark, dir, u, nq, ef, rounds, gk, cells, alpha), k)
        .select(lit(u).as("user_id"), col("query_id"),
          col("cand_id").as("block_id"))
    }
      .reduce(_.unionAll(_))
      .orderBy("user_id", "query_id", "block_id")
  }

  /** The one memo of measured points: (dir version; graph, iters, ef) → recall
    * of the walk over that graph at that build level and beam. Points
    * are constants of the dataset, kept as plain driver data, NOT as
    * persisted walk frames: every probe walk is transient and released
    * after measuring (the round-8 advice: a wide sweep must not
    * accumulate persisted walk states for the session lifetime). Every
    * curve, policy pick and probe count reads it.
    */
  private val measured = new graft.BuildOnce[(String, Int, Int), Double]

  private[graft] def measure(spark: SparkSession, dir: String, graph: String,
                             iters: Int, ef: Int)(recall: => Double): Double =
    measured.getOrElseUpdate(spark, dir, (graph, iters, ef))(recall)

  private def measuredPoints(spark: SparkSession, dir: String,
                             graph: String): Seq[(Int, Int, Double)] =
    measured.entries(spark, dir).collect { case ((`graph`, i, e), r) => (i, e, r) }
      .sortBy(p => (p._1, p._2))

  /** Fraction of the exact answer set a result recovers. */
  private[graft] def recall[A](got: Set[A], exact: Set[A]): Double =
    got.intersect(exact).size.toDouble / exact.size

  /** (query_id, id) rows of a two-column frame, as a driver set. */
  private[graft] def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact per-query top-k of the benchmark batch (over `userId`'s
    * accessible docs when given): the ground truth every probe scores
    * against.
    */
  private[graft] def groundTruth(spark: SparkSession, dir: String, nq: Int, k: Int,
                                 userId: Option[Long] = None): Set[(Long, Long)] =
    pairs(Ann.batchTopK(spark, dir, nq, k, userId))

  /** THE probe: one transient walk of the first `nq` queries over
    * (edges, medoids) at (ef, rounds), optionally permission-filtered
    * at merge for `userId`, ranked top-k, collected and scored against
    * `gt`. The walk's directory is released once the result is in hand.
    */
  private[graft] def probe(spark: SparkSession, dir: String, nq: Int, k: Int,
                           ef: Int, rounds: Int, edges: DataFrame, medoids: DataFrame,
                           gt: Set[(Long, Long)], userId: Option[Long] = None): Double = {
    val vis = buildVisited(spark, dir, Ann.queryBatch(spark, dir, nq), ef, rounds,
      edges, medoids)
    val got = pairs(topOf(userId.fold(vis)(mergeFilter(vis, spark, dir, _)), k)
      .select("query_id", "cand_id"))
    PlanCut.releaseDisk(vis)
    recall(got, gt)
  }

  /** Build levels the tuning loop may escalate to (descent iterations). */
  val MaxDescentIters = 5

  /** THE tuning loop — hnswlib's: walk at a beam, measure recall
    * against exact top-k, take the smallest setting that meets
    * `target`. From build level iters = 2, ef doubles from
    * min(from, cap) up to the per-query cost cap; if even the capped
    * beam misses, the next build level is tried (up to `maxIters`).
    * The preference order is the at-scale cost argument: an extra
    * descent round is a ONE-TIME linear build pass (O(k·N) candidate
    * rows), while beam width is a PER-QUERY serving cost — past the
    * cap, build quality is the cheaper lever. Returns (iters, ef,
    * recall): every returned pair is a probed point and the recall is
    * the one measured at it.
    */
  private[graft] def tune(cap: Int, target: Double, probe: (Int, Int) => Double,
                          from: Int = Ef,
                          maxIters: Int = MaxDescentIters): (Int, Int, Double) = {
    @annotation.tailrec
    def sweep(iters: Int, ef: Int): (Int, Double) = {
      val r = probe(iters, ef)
      if (r >= target || ef >= cap) (ef, r) else sweep(iters, math.min(ef * 2, cap))
    }
    @annotation.tailrec
    def climb(iters: Int, ef: Int, recall: Double): (Int, Int, Double) =
      if (recall >= target || iters >= maxIters) (iters, ef, recall)
      else {
        val (e2, r2) = sweep(iters + 1, math.min(from, cap))
        // SATURATION rule (r13, measured): on the isotropic 100× dir
        // iters 2→5 moved capped-beam recall only 0.56→0.66 — the
        // concentration-of-measure ceiling, not convergence. Paying
        // a build level must buy ≥0.05 recall or the policy keeps
        // the CHEAPER build and reports the honest saturation point
        // (Dong et al.'s delta-convergence stop, applied to the
        // serving target).
        if (r2 - recall < 0.05 && r2 < target) (iters, ef, recall)
        else climb(iters + 1, e2, r2)
      }
    val (ef, recall) = sweep(2, math.min(from, cap))
    climb(2, ef, recall)
  }

  /** The exact graph's probe (it has no build level): at ef == Ef the
    * standing serving walk is read (and kept), any other beam walks
    * transiently.
    */
  private def exactProbe(spark: SparkSession, dir: String, nq: Int,
                         k: Int): (Int, Int) => Double = {
    lazy val gt = groundTruth(spark, dir, nq, k)
    (_, ef) => measure(spark, dir, s"exact q$nq k$k", 0, ef) {
      if (ef == Ef)
        recall(pairs(topOf(visited(spark, dir, nq), k).select("query_id", "cand_id")), gt)
      else probe(spark, dir, nq, k, ef, Rounds, servingGraph(spark, dir),
        cellMedoids(spark, dir), gt)
    }
  }

  /** Measured ef→recall curve and target inversion — B22's
    * measured-points-beat-the-fit convention applied to the graph
    * index (hnswlib tunes efSearch the same way: sweep, measure
    * recall, pick). Returns (ef, recall) per grid point; `efFor` picks
    * the SMALLEST measured ef meeting the target. Deterministic: the
    * walk and the exact ground truth are both constants of the
    * dataset; everything is driver arithmetic over nq·k id sets.
    */
  def efRecallCurve(spark: SparkSession, dir: String, nq: Int = Nq, k: Int = 10,
                    grid: Seq[Int] = Seq(8, 16, 32, Ef)): Seq[(Int, Double)] = {
    val p = exactProbe(spark, dir, nq, k)
    grid.sorted.map(ef => ef -> p(2, ef))
  }

  def efFor(spark: SparkSession, dir: String, target: Double, nq: Int = Nq,
            k: Int = 10, grid: Seq[Int] = Seq(8, 16, 32, Ef)): Int =
    pickEf(grid, target, math.min(1024L, Tables.embeddings(spark, dir).count()).toInt,
      exactProbe(spark, dir, nq, k))

  /** efFor's rule over any probe: the smallest grid beam meeting
    * `target`, else `tune` at the one build level from the grid edge.
    * The grid edge is not an answer (r12): a FIXED beam decays as the
    * corpus grows (measured: ef=64 recall 0.9375 at sf0.1 → 0.55 at
    * the 10× dir, where 0.9 needs ef=256), so returning grid.max would
    * silently under-serve the target at scale. The loop doubles until
    * the target is met or the beam reaches the corpus-bounded cap (past
    * which the walk is the scan it was supposed to avoid); a corpus
    * smaller than the grid edge probes the cap once, so every returned
    * ef is a measured point (r13, ADVICE r12). The grid edge is
    * re-requested as the loop's start and served from the memo.
    */
  private[graft] def pickEf(grid: Seq[Int], target: Double, cap: => Int,
                            probe: (Int, Int) => Double): Int =
    grid.sorted.map(ef => ef -> probe(2, ef))
      .collectFirst { case (ef, r) if r >= target => ef }
      .getOrElse(tune(cap, target, probe, from = grid.max, maxIters = 2)._2)

  /** B38 (r9): model-DRIVEN serving — `efFor` wired into a serving
    * key: walk at the SMALLEST measured beam width meeting the recall
    * target (hnswlib's own efSearch tuning loop: sweep, measure,
    * pick). The picked ef is a deterministic constant of the dataset;
    * the sidecar carries it so the oracle replays the walk at exactly
    * that beam width.
    */
  val RecallTarget = 0.9

  def modelEf(spark: SparkSession, dir: String): Int =
    efFor(spark, dir, RecallTarget)

  /** One-row (ef) sidecar for the oracle's parameterized walk replay. */
  def efFrame(spark: SparkSession, dir: String): DataFrame =
    spark.range(1).select(lit(modelEf(spark, dir)).as("ef"))

  def graphTopKModel(spark: SparkSession, dir: String, nq: Int = Nq,
                     k: Int = 10): DataFrame =
    topOf(visited(spark, dir, nq, ef = modelEf(spark, dir)), k)
      .select(col("query_id"), col("cand_id").as("block_id"))
      .orderBy("query_id", "block_id")

  /** One-shot serving for an arbitrary bounded query frame (query_id,
    * qvec) — the unit G17's micro-batch serving runs: one walk over the
    * session-cached graph index, ranked to (query_id, block_id, rank).
    * Arriving queries carry ids from their OWN space, so NO
    * id-equality self-exclusion applies (hnswlib semantics: a query
    * identical to an indexed vector ranks that vector first) — the
    * corpus-drawn benchmark convention would silently drop the corpus
    * row whose vec_id collides with an external query id.
    * The walk state is TRANSIENT (this is a passing batch, not the
    * standing benchmark query set): the result is persisted +
    * materialized, every intermediate released before returning — the
    * caller unpersists the result when done (G17 does so after the
    * sink write).
    */
  def graphTopKFor(spark: SparkSession, dir: String, queries: DataFrame,
                   k: Int = 10, ef: Int = Ef, rounds: Int = Rounds,
                   gk: Int = GraphK, cells: Int = Cells): DataFrame = {
    val vis = buildVisited(spark, dir, broadcast(queries), ef, rounds,
      servingGraph(spark, dir, gk, cells), cellMedoids(spark, dir, cells),
      excludeSelf = false)
    val out = topOf(vis, k)
      .select(col("query_id"), col("cand_id").as("block_id"), col("rn").as("rank"))
      .persist()
    out.count()
    PlanCut.releaseDisk(vis) // one-shot walk: drop its checkpoint dir too
    out
  }
}
