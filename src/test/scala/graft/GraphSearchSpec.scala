package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{Ann, GraphSearch, IvfIndex}

/** B31/B32 batch graph-walk serving: driver-reference exactness (the
  * whole walk re-run in plain Scala doubles), hnswlib-class recall vs
  * exact ground truth, ACORN result semantics (filter on results, not
  * traversal), persist hygiene, and the forced-broadcast policy.
  */
class GraphSearchSpec extends AnyFunSuite {
  import SparkTest._

  private def l2(a: Array[Float], b: Array[Float]): Double = refL2(a, b)

  /** The walk replicated on the driver with the engine's arithmetic:
    * medoid seeds from the SAME fitted centroids, exact gk-NN graph
    * symmetrized, Rounds synchronous top-Ef expansions, (dist, id) ties.
    * Returns every visited node with its distance, per query. `baseMax`
    * restricts the graph + seeds to the base prefix (insert mode).
    */
  private def referenceWalk(baseMax: Option[Long] = None,
                            queryIds: Seq[Long] = 0L until GraphSearch.Nq.toLong,
                            memberOf: Long => Boolean = _ => true)
      : (Map[Long, Map[Long, Double]], Seq[Long], Map[Long, Set[Long]]) = {
    val sp = spark
    val emb = Tables.embeddings(sp, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val ids = emb.keys.toSeq.sorted
      .filter(id => baseMax.forall(id < _) && memberOf(id))
    val cents = IvfIndex.getOrBuild(sp, sf, GraphSearch.Cells).centroids
    def centD(v: Array[Float], c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(v.length, c.length)
      while (i < n) { val d = v(i).toDouble - c(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    }
    val ownCell = ids.map(id => id -> cents.indices.minBy(ci => (centD(emb(id), cents(ci)), ci))).toMap
    val medoids = ownCell.groupBy(_._2).values
      .map(m => m.keys.minBy(id => (centD(emb(id), cents(ownCell(id))), id))).toSeq.sorted
    val knn = ids.map(s =>
      s -> ids.filter(_ != s).sortBy(o => (l2(emb(s), emb(o)), o)).take(GraphSearch.GraphK)).toMap
    val und = ids.map { s =>
      // symmetrize, then the M_max-style degree cap by (distance, nbr)
      val raw = knn(s).toSet ++ ids.filter(o => knn(o).contains(s))
      s -> raw.toSeq.sortBy(o => (l2(emb(s), emb(o)), o))
        .take(2 * GraphSearch.GraphK).toSet
    }.toMap
    val walks = queryIds.map { q =>
      val qv = emb(q)
      var visited = medoids.filter(_ != q).map(m => m -> l2(emb(m), qv)).toMap
      for (_ <- 1 to GraphSearch.Rounds) {
        val beam = visited.toSeq.sortBy { case (id, d) => (d, id) }
          .take(GraphSearch.Ef).map(_._1)
        val fresh = beam.flatMap(und).toSet -- visited.keySet - q
        visited = visited ++ fresh.map(f => f -> l2(emb(f), qv))
      }
      q -> visited
    }.toMap
    (walks, medoids, und)
  }

  test("graph walk equals the driver reference exactly (both serving keys)") {
    val sp = spark
    val (walks, medoids, _) = referenceWalk()
    assert(medoids.nonEmpty && medoids.size <= GraphSearch.Cells)
    val expectAnn = walks.toSeq.flatMap { case (q, vis) =>
      vis.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(c => (q, c._1))
    }.toSet
    val gotAnn = GraphSearch.graphTopK(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAnn == expectAnn,
      s"walk diverged: only-engine=${gotAnn -- expectAnn} only-ref=${expectAnn -- gotAnn}")

    // ACORN form: query 0's visited slice, permission predicate on the
    // RESULT ranking only — order-sensitive compare (rows in dist order)
    val acc = graft.rbac.Rbac.accessibleDocs(sp, sf, 1).collect().map(_.getLong(0)).toSet
    val expectRbac = walks(0L).toSeq.filter(p => acc(p._1))
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    val gotRbac = GraphSearch.rbacGraphTopK(sp, sf).collect().map(_.getLong(0)).toSeq
    assert(gotRbac == expectRbac)
  }

  test("serving recall vs exact ground truth is hnswlib-class") {
    val sp = spark
    val gt = Ann.batchTopK(sp, sf, GraphSearch.Nq, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = GraphSearch.graphTopK(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(gt).size.toDouble / gt.size
    // deterministic given the testdata; measured 1.0 at sf0.001 — the
    // floor leaves margin for testdata regeneration, not for randomness
    assert(recall >= 0.9, s"graph-serving recall too low: $recall")
  }

  test("rbac walk: results accessible, drawn from the shared visited slice") {
    val sp = spark
    val acc = graft.rbac.Rbac.accessibleDocs(sp, sf, 1).collect().map(_.getLong(0)).toSet
    val vis0 = GraphSearch.visited(sp, sf).filter(col("query_id") === 0)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val got = GraphSearch.rbacGraphTopK(sp, sf).collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.forall(acc))
    assert(got.toSet.subsetOf(vis0.map(_._1).toSet),
      "ACORN results must come from the predicate-blind traversal's visited set")
    // and the filtered recall is bounded by what the walk visited — the
    // reference's own accuracy/selectivity trade (acorn_search.cpp)
    val gtPre = graft.rbac.Rbac.prefilterTopK(sp, sf, 1, 10).collect()
      .map(_.getLong(0)).filter(_ != 0L).toSet
    val recall = got.toSet.intersect(gtPre).size.toDouble / gtPre.size
    assert(recall >= 0.5, s"filtered-walk recall collapsed: $recall")
  }

  test("mark-deleted serving: tombstones out of results, kept in traversal") {
    val sp = spark
    val got = GraphSearch.graphDeleteTopK(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.forall(_._2 % 17 != 0))
    // reference: the SAME walk's ranking with tombstoned ids removed
    val (walks, _, _) = referenceWalk()
    val expect = walks.toSeq.flatMap { case (q, vis) =>
      vis.toSeq.filter(_._1 % 17 != 0)
        .sortBy { case (id, d) => (d, id) }.take(10).map(c => (q, c._1))
    }.toSet
    assert(got.toSet == expect)
    // markDelete semantics: the graph is untouched — deleted nodes are
    // still visited (traversal navigates through them)
    val deletedVisited = GraphSearch.visited(sp, sf)
      .filter(pmod(col("cand_id"), lit(17)) === 0).count()
    assert(deletedVisited > 0, "deleted nodes must remain in the traversal relation")
  }

  test("incremental insert: each new node links to its base-walk top-gk") {
    val sp = spark
    val cutoff = GraphSearch.insertCutoff(sp, sf)
    val newIds = cutoff until (cutoff + GraphSearch.InsertTail)
    val got = GraphSearch.insertNeighbors(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).distinct.length == GraphSearch.InsertTail)
    assert(got.forall { case (s, n) => s >= cutoff && n < cutoff })
    // driver reference: the identical walk over the base-prefix graph
    val (walks, _, _) = referenceWalk(Some(cutoff), newIds)
    val expect = walks.toSeq.flatMap { case (q, vis) =>
      vis.toSeq.sortBy { case (id, d) => (d, id) }
        .take(GraphSearch.GraphK).map(c => (q, c._1))
    }.toSet
    assert(got.toSet == expect,
      s"insert walk diverged: only-engine=${got.toSet -- expect}")
    // link quality: recall vs each new node's EXACT base top-gk
    val emb = Tables.embeddings(sp, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val baseIds = emb.keys.filter(_ < cutoff).toSeq
    val hits = newIds.map { q =>
      val exact = baseIds.sortBy(o => (l2(emb(q), emb(o)), o))
        .take(GraphSearch.GraphK).toSet
      got.filter(_._1 == q).map(_._2).count(exact)
    }.sum
    val recall = hits.toDouble / (GraphSearch.InsertTail * GraphSearch.GraphK)
    assert(recall >= 0.85, s"insert link recall too low: $recall")
  }

  test("NND-graph serving: walk exact given the edges, recall floor vs exact") {
    val sp = spark
    val got = GraphSearch.graphTopKNnd(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the walk is EXACT given the edge set: replicate it on the driver
    // over the COLLECTED symmetrized+capped NND graph (the graph
    // itself is B17's, already spec-gated for recall/convergence)
    val adj = GraphSearch.nndServingGraph(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val medoids = GraphSearch.cellMedoids(sp, sf).collect().map(_.getLong(0))
    val emb = Tables.embeddings(sp, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expect = (0L until GraphSearch.Nq.toLong).flatMap { q =>
      val qv = emb(q)
      var visited = medoids.filter(_ != q).map(m => m -> l2(emb(m), qv)).toMap
      for (_ <- 1 to GraphSearch.Rounds) {
        val beam = visited.toSeq.sortBy { case (id, d) => (d, id) }
          .take(GraphSearch.Ef).map(_._1)
        val fresh = beam.flatMap(b => adj.getOrElse(b, Set.empty))
          .toSet -- visited.keySet - q
        visited = visited ++ fresh.map(f => f -> l2(emb(f), qv))
      }
      visited.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(c => (q, c._1))
    }.toSet
    assert(got == expect,
      s"NND walk diverged: only-engine=${got -- expect} only-ref=${expect -- got}")
    // the approximate-build serving path still lands hnswlib-class
    // recall — the 100 TB escape hatch must not cost the result
    val gt = Ann.batchTopK(sp, sf, GraphSearch.Nq, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(gt).size.toDouble / gt.size
    assert(recall >= 0.8, s"NND-graph serving recall too low: $recall")
  }

  test("reciprocal links: reverse edges union base lists, re-pruned to the cap") {
    val sp = spark
    val cutoff = GraphSearch.insertCutoff(sp, sf)
    val links = GraphSearch.insertNeighbors(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = GraphSearch.insertReciprocalLinks(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the re-prune window is exactly the touched base nodes — the
    // update never leaves them (hnswlib repairs only the new node's
    // neighbors' lists)
    val touched = links.map(_._2).toSet
    assert(got.map(_._1).toSet == touched)
    assert(got.groupBy(_._1).values.forall(_.length <= 2 * GraphSearch.GraphK))
    // driver reference: per touched node, base list ∪ reverse new
    // links, ranked by (distance, nbr), capped at 2·gk
    val (_, _, und) = referenceWalk(Some(cutoff))
    val emb = Tables.embeddings(sp, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val revOf = links.groupBy(_._2).map { case (t, ls) => t -> ls.map(_._1).toSet }
    val expect = touched.flatMap { t =>
      (und(t) ++ revOf(t)).toSeq
        .sortBy(o => (l2(emb(t), emb(o)), o))
        .take(2 * GraphSearch.GraphK).map(t -> _)
    }
    assert(got.toSet == expect,
      s"re-prune diverged: only-engine=${got.toSet -- expect} only-ref=${expect -- got.toSet}")
    // the update is not vacuous: some reverse edge survives its
    // touched node's re-prune (a new node IS near its walk's top-gk)
    assert(got.exists(_._2 >= cutoff), "no reverse edge survived the re-prune")
  }

  test("upsert serving: the repaired graph answers queries (driver replay)") {
    val sp = spark
    val cutoff = GraphSearch.insertCutoff(sp, sf)
    val got = GraphSearch.graphUpsertTopK(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall(_._2 % 17 != 0), "tombstones must stay out of results")
    // driver reference: compose links + re-pruned lists into the
    // repaired adjacency, then the standard walk from FULL medoids
    val links = GraphSearch.insertNeighbors(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val repruned = GraphSearch.insertReciprocalLinks(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val touched = repruned.map(_._1).toSet
    val (_, medoids, undBase) = referenceWalk(Some(cutoff))
    val adj: Map[Long, Set[Long]] =
      (undBase.view.filterKeys(!touched(_)).toMap.view.mapValues(_.toSet).toMap
        ++ repruned.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        ++ links.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    // serving seeds are FULL-corpus medoids (new nodes' cells covered)
    val (_, fullMedoids, _) = referenceWalk()
    val emb = Tables.embeddings(sp, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expect = (0L until GraphSearch.Nq.toLong).flatMap { q =>
      val qv = emb(q)
      var visited = fullMedoids.filter(_ != q).map(m => m -> l2(emb(m), qv)).toMap
      for (_ <- 1 to GraphSearch.Rounds) {
        val beam = visited.toSeq.sortBy { case (id, d) => (d, id) }
          .take(GraphSearch.Ef).map(_._1)
        val fresh = beam.flatMap(b => adj.getOrElse(b, Set.empty))
          .toSet -- visited.keySet - q
        visited = visited ++ fresh.map(f => f -> l2(emb(f), qv))
      }
      visited.toSeq.filter(_._1 % 17 != 0)
        .sortBy { case (id, d) => (d, id) }.take(10).map(c => (q, c._1))
    }.toSet
    assert(got.toSet == expect,
      s"upsert walk diverged: only-engine=${got.toSet -- expect} only-ref=${expect -- got.toSet}")
    assert(medoids.nonEmpty) // base medoids existed for the insert half
    // the repair is WHY new nodes serve: reciprocal edges make them
    // reachable — at least one new node must appear in some result or
    // in the walk's reachable set (near-isotropic data: check visited)
    val newReached = (0L until GraphSearch.Nq.toLong).exists { q =>
      val qv = emb(q)
      var visited = fullMedoids.filter(_ != q).map(m => m -> l2(emb(m), qv)).toMap
      for (_ <- 1 to GraphSearch.Rounds) {
        val beam = visited.toSeq.sortBy { case (id, d) => (d, id) }
          .take(GraphSearch.Ef).map(_._1)
        val fresh = beam.flatMap(b => adj.getOrElse(b, Set.empty))
          .toSet -- visited.keySet - q
        visited = visited ++ fresh.map(f => f -> l2(emb(f), qv))
      }
      visited.keys.exists(_ >= cutoff)
    }
    assert(newReached, "no new node is reachable through the repaired graph")
  }

  test("A21 routed-partition graph serving equals the driver walk over the member set") {
    val sp = spark
    // the member derivation is A7's (oracle-checked there): the user's
    // comb partitions' doc sets
    val pids = graft.rbac.Partitioned.routedPartitionIds(sp, sf, 1)
    val members = graft.rbac.Partitioned.costModelPartitionDocs(sp, sf)
      .filter(col("partition_id").isin(pids: _*))
      .select("document_id").collect().map(_.getLong(0)).toSet
    assert(members.nonEmpty)
    val (walks, _, _) = referenceWalk(None, Seq(0L), memberOf = members)
    val acc = graft.rbac.Rbac.accessibleDocs(sp, sf, 1).collect().map(_.getLong(0)).toSet
    val expect = walks(0L).toSeq.filter(p => acc(p._1))
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    val got = GraphSearch.partitionGraphTopK(sp, sf).collect().map(_.getLong(0)).toSeq
    assert(got == expect)
    // every result is routed AND accessible (merge-time permission)
    assert(got.forall(id => members(id) && acc(id)))
    // sanity: the routed graph walk finds most of the user's true top-k
    val gtPre = graft.rbac.Rbac.prefilterTopK(sp, sf, 1, 10).collect()
      .map(_.getLong(0)).filter(_ != 0L).toSet
    val recall = got.toSet.intersect(gtPre).size.toDouble / gtPre.size
    assert(recall >= 0.5, s"routed-partition walk recall collapsed: $recall")
  }

  test("A21 user sweep: per-user batch serving matches the driver walk; shared routing covered") {
    val sp = spark
    val got = GraphSearch.partitionGraphSweep(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).distinct.sorted.toSeq == GraphSearch.SweepUsers.sorted)
    // the sweep must exercise the SHARED partition (partition 0 holds
    // other combs' blocks — the merge-time filter's reason to exist)
    val routings = GraphSearch.SweepUsers.map(u =>
      u -> graft.rbac.Partitioned.routedPartitionIds(sp, sf, u)).toMap
    assert(routings.exists(_._2.contains(0: Integer)),
      s"no swept user routes to the shared partition: $routings")
    assert(routings.count(!_._2.contains(0: Integer)) >= 2,
      s"sweep should also cover dedicated routings: $routings")
    for (u <- GraphSearch.SweepUsers) {
      val members = graft.rbac.Partitioned.costModelPartitionDocs(sp, sf)
        .filter(col("partition_id").isin(routings(u): _*))
        .select("document_id").collect().map(_.getLong(0)).toSet
      val acc = graft.rbac.Rbac.accessibleDocs(sp, sf, u).collect().map(_.getLong(0)).toSet
      val (walks, _, _) = referenceWalk(None, 0L until GraphSearch.Nq.toLong,
        memberOf = members)
      val expect = walks.toSeq.flatMap { case (q, vis) =>
        vis.toSeq.filter(p => acc(p._1))
          .sortBy { case (id, d) => (d, id) }.take(10).map(c => (u, q, c._1))
      }.toSet
      val gotU = got.filter(_._1 == u).toSet
      assert(gotU == expect, s"user $u sweep diverged: only-engine=${gotU -- expect}")
      // merge-time permission: routed AND accessible, for every user —
      // for the shared-partition user this is where the filter bites
      assert(gotU.forall { case (_, _, id) => members(id) && acc(id) })
    }
  }

  test("efFor picks the smallest measured beam width meeting the recall target") {
    val sp = spark
    val curve = GraphSearch.efRecallCurve(sp, sf)
    // NOTE: recall is NOT provably monotone in ef (visited sets are
    // not nested across beam widths — a small-beam hit can fall out of
    // a larger beam's top-ef mid-walk), so no monotonicity assert; the
    // measured endpoints just sanity-check the sweep covered the range
    assert(curve.head._2 < curve.last._2 || curve.head._2 >= 0.9,
      s"degenerate sweep: $curve")
    // CALIBRATION.md round-8 values (deterministic constants of the
    // testdata): 0.50 / 0.74 / 0.95 / 1.00 at ef 8/16/32/64
    assert(curve.last._2 >= 0.9)
    val pick = GraphSearch.efFor(sp, sf, target = 0.9)
    val (pickEf, pickRecall) = curve.find(_._1 == pick).get
    assert(pickRecall >= 0.9, s"pick ef=$pickEf misses target: $pickRecall")
    // minimality: every SMALLER measured ef is below target
    assert(curve.takeWhile(_._1 < pick).forall(_._2 < 0.9))
    // an unreachable target extends past the grid (r12: the grid edge
    // is not an answer — a fixed beam decays as N grows, Round12Spec
    // pins the doubling loop) and lands on the corpus-bounded cap
    // when even the widest beam cannot meet it
    val cap = math.min(1024L, Tables.embeddings(sp, sf).count()).toInt
    assert(GraphSearch.efFor(sp, sf, target = 2.0) == cap)
  }

  test("model-driven serving meets the recall target at no more than the fixed-Ef cost") {
    val sp = spark
    val ef = GraphSearch.modelEf(sp, sf)
    assert(ef <= GraphSearch.Ef, s"model must pick from the measured grid: $ef")
    // recall at the picked ef meets the target (the pick's contract)
    val gt = Ann.batchTopK(sp, sf, GraphSearch.Nq, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = GraphSearch.graphTopKModel(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(gt).size.toDouble / gt.size
    assert(recall >= GraphSearch.RecallTarget,
      s"model walk (ef=$ef) misses target: $recall")
    // cost never exceeds the fixed-Ef walk's: the beam is no wider, so
    // the visited set (the walk's work) is no larger
    val visModel = GraphSearch.visited(sp, sf, ef = ef).count()
    val visFull = GraphSearch.visited(sp, sf).count()
    assert(visModel <= visFull,
      s"model walk visited MORE than the fixed-Ef walk: $visModel > $visFull")
  }

  test("repeated serving calls leak no persisted blocks (walk cached per session)") {
    val sp = spark
    // warm EVERY serving path first (incl. the RBAC dimension caches a
    // first rbacGraphTopK would populate) so the snapshot is
    // self-contained regardless of suite/test ordering
    GraphSearch.graphTopK(sp, sf).count()
    GraphSearch.rbacGraphTopK(sp, sf).count()
    GraphSearch.insertNeighbors(sp, sf).count()
    val n0 = sp.sparkContext.getPersistentRDDs.size
    GraphSearch.graphTopK(sp, sf).count()
    GraphSearch.rbacGraphTopK(sp, sf).count()
    GraphSearch.graphDeleteTopK(sp, sf).count()
    GraphSearch.insertNeighbors(sp, sf).count()
    // exact stability: every call reuses the session-cached walk state,
    // and round scratch is released with blocking unpersists (no async
    // cleaner involvement to make the count drift)
    assert(sp.sparkContext.getPersistentRDDs.size == n0,
      "every serving call must reuse the session-cached walk state")
  }

  test("G17 streaming graph serving equals the one-shot batch walk exactly") {
    val sp = spark
    val tmp = java.nio.file.Files.createTempDirectory("g17_").toString
    // arriving queries live in their OWN id space (offset: ids that do
    // NOT exist in the corpus) — G17's contract is hnswlib's, with no
    // corpus-id self-exclusion
    val qbatch = Tables.embeddings(sp, sf).filter(col("vec_id") < GraphSearch.Nq)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    qbatch.write.mode("overwrite").parquet(s"$tmp/queries")
    val q = graft.streaming.VectorStream.graphServeStream(
      sp, sf, s"$tmp/queries", s"$tmp/out", s"$tmp/ckpt")
    q.awaitTermination()
    val got = sp.read.parquet(s"$tmp/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the stream must equal its batch operator on the same query frame
    val bf = GraphSearch.graphTopKFor(sp, sf,
      qbatch.select(col("vec_id").as("query_id"), col("embedding").as("qvec")))
    val batch = bf.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    bf.unpersist(blocking = true)
    assert(got == batch, "stream-served answers must equal the batch walk")
    // hnswlib self-inclusion semantics: each external query is an exact
    // twin of corpus row (id - 100000), which must rank FIRST (dist 0)
    // — the corpus-drawn convention would have silently dropped it had
    // the ids collided
    val rank1 = got.filter(_._3 == 1)
    assert(rank1.size == GraphSearch.Nq &&
      rank1.forall { case (qid, block, _) => block == qid - 100000L },
      s"indexed twin must rank first: $rank1")
    // per-batch walk state released after the sink write: re-serving
    // from the standing cache adds no persisted entries
    val leaked = sp.sparkContext.getPersistentRDDs
    GraphSearch.graphTopK(sp, sf).count() // cached state may legitimately persist
    assert(sp.sparkContext.getPersistentRDDs.size == leaked.size)
  }

  test("with auto-broadcast off, broadcast subtrees are point-selections only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val sp = spark
    // restore the values IN EFFECT before the test, not hard-coded
    // defaults — else a harness running with non-default settings gets
    // its shared-session config silently rewritten (round-8 advice)
    val prevThreshold = sp.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = sp.conf.get("spark.sql.adaptive.enabled")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // build directly (uncached, unpersisted): the returned frame's
      // final round exhibits the per-round join shape every round has
      // (the shared graph/medoid caches are reused — they are the index)
      val queries = broadcast(Tables.embeddings(sp, sf)
        .filter(col("vec_id") < GraphSearch.Nq)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")))
      val vis = GraphSearch.buildVisited(sp, sf, queries, GraphSearch.Ef,
        GraphSearch.Rounds, GraphSearch.servingGraph(sp, sf),
        GraphSearch.cellMedoids(sp, sf), inspectPlan = true)
      var broadcasts = 0
      vis.queryExecution.executedPlan.foreach {
        case b: BroadcastExchangeExec =>
          broadcasts += 1
          b.collect { case f: FileSourceScanExec => f }.foreach { f =>
            assert(f.dataFilters.nonEmpty,
              s"forced broadcast scans a relation with NO point-selection filter:\n$b")
          }
        case _ =>
      }
      // the hinted query frame must actually appear (the plan is not a
      // bare checkpoint scan) — guards against this test going vacuous
      assert(broadcasts > 0, "expected the point-selection query broadcast in the round plan")
    } finally {
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      sp.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
    }
  }

  test("merge-time permission joins carry no forced broadcast (graph serving keys)") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val sp = spark
    val prevThreshold = sp.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = sp.conf.get("spark.sql.adaptive.enabled")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the accessible-doc set is SCALE-VARIANT (a ~19%-selectivity
      // user's docs outgrow the 8 GB broadcast cap at 100 TB) while the
      // visited side is walk-bounded by construction — so the merge-time
      // semi-join must be UNHINTED: with auto-broadcast off it plans as
      // a shuffle join, proving no hint pins acc to the build side (AQE
      // re-picks broadcast at runtime when acc is genuinely small)
      for (df <- Seq(GraphSearch.rbacGraphTopK(sp, sf),
                     GraphSearch.partitionGraphTopK(sp, sf),
                     GraphSearch.partitionGraphSweep(sp, sf),
                     GraphSearch.insertReciprocalLinks(sp, sf))) {
        val forcedSemi = df.queryExecution.executedPlan.collect {
          case b: BroadcastHashJoinExec if b.joinType == LeftSemi => b
        }
        assert(forcedSemi.isEmpty,
          s"merge-time permission semi-join is force-broadcast:\n${forcedSemi.mkString}")
      }
    } finally {
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      sp.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
    }
  }

  test("ef sweep leaves no persisted walk state beyond the standing serving walk") {
    val sp = spark
    GraphSearch.graphTopK(sp, sf).count() // standing serving walk cached
    val n0 = sp.sparkContext.getPersistentRDDs.size
    // a fresh grid (not the memoized default) must build its walks
    // transiently: measure, release, leave the block count unchanged
    val curve = GraphSearch.efRecallCurve(sp, sf, grid = Seq(4, 12, GraphSearch.Ef))
    assert(curve.size == 3 && curve.last._2 >= 0.9)
    assert(sp.sparkContext.getPersistentRDDs.size == n0,
      "recall sweep must not accumulate persisted walk states")
    // and the memoized curve re-serves without any Spark work
    assert(GraphSearch.efRecallCurve(sp, sf, grid = Seq(4, 12, GraphSearch.Ef)) == curve)
    // the NN-Descent policy probes the same way: with its navigable
    // graph (an index build, session-cached) in place, its probe walk
    // leaves the block count unchanged too (a target of 0 is met by
    // the first probe, at iters = 2 and the default beam)
    GraphSearch.nndNavServingGraph(sp, sf).count()
    val n1 = sp.sparkContext.getPersistentRDDs.size
    val (iters, ef, r) = GraphSearch.nndServePolicy(sp, sf, target = 0.0)
    assert((iters, ef) == (2, GraphSearch.Ef) && r >= 0.0 && r <= 1.0)
    assert(GraphSearch.nndProbedPoints(sp, sf).contains((iters, ef, r)))
    assert(sp.sparkContext.getPersistentRDDs.size == n1,
      "NN-Descent probe walks must not accumulate persisted walk states")
  }
}
