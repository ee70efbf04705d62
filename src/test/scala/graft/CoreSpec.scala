package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann
import graft.functions.vector._
import graft.operators.TopKAgg.topk_ids
import graft.rbac.Rbac

object SparkTest {
  // the suite executes every query fn at sf0.001 — redirect sidecar
  // writes so a test run can never clobber the oracle's fixed path
  // while a Verify at another SF is in flight (Sidecars.scala)
  Sidecars.isolate("graft_test_sidecars")

  @volatile private var current: SparkSession = null
  // self-healing: SessionCycleSpec stops the shared session to prove
  // the engine's caches survive app cycling — the next access here
  // transparently builds a fresh session for whatever suite runs next
  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = Session.local(4)
    current
  }
  val sf = "/root/testdata/sf0.001"

  /** The engine's L2 arithmetic (double subtract, index-order double
    * accumulate, sqrt) — the ONE driver-reference kernel every
    * "driver-exact" spec assertion shares.
    */
  def refL2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }
}

class CoreSpec extends AnyFunSuite {
  import SparkTest._

  test("vector expressions compute known values") {
    val sparkRef = spark; import sparkRef.implicits._
    val df = Seq((Array(1f, 2f, 2f), Array(1f, 0f, 0f))).toDF("a", "b")
    val row = df.select(
      l2_dist(col("a"), col("b")).as("l2"),
      dot(col("a"), col("b")).as("dp"),
      cosine_sim(col("a"), col("a")).as("cs"),
      vec_norm(col("a")).as("nm")).head()
    assert(math.abs(row.getDouble(0) - math.sqrt(8.0)) < 1e-12)
    assert(row.getDouble(1) == 1.0)
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
    assert(row.getDouble(3) == 3.0)
  }

  test("normalize / centroid kernels compute known values") {
    val sparkRef = spark; import sparkRef.implicits._
    val df = Seq((Array(3f, 4f), Array(0f, 0f))).toDF("a", "z")
    val cents = Array(Array(0f, 0f), Array(3f, 4f))
    val row = df.select(
      vec_normalize(col("a")).as("u"),
      centroid_dists(col("a"), cents).as("ds"),
      nearest_centroid(col("a"), cents).as("nc"),
      vec_normalize(col("z")).as("zu")).head()
    assert(row.getSeq[Float](0) == Seq(0.6f, 0.8f))
    assert(row.getSeq[Double](1) == Seq(5.0, 0.0))
    assert(row.getInt(2) == 1)
    assert(row.getSeq[Float](3) == Seq(0f, 0f)) // zero vector stays zero
  }

  test("topk_ids matches ORDER BY score, id LIMIT k per group") {
    val sparkRef = spark; import sparkRef.implicits._
    val data = (1L to 1000L).map(i => (i % 7, (i * 37 % 101).toDouble, i))
    val df = data.toDF("g", "score", "id").repartition(8)
    val got = df.groupBy("g")
      .agg(topk_ids(col("score"), col("id"), 5).as("ids"))
      .select(col("g"), explode(col("ids")).as("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = data.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
      rows.sortBy(r => (r._2, r._3)).take(5).map(r => (g, r._3))
    }.toSet
    assert(got == exp)
  }

  test("prefilter results are all permission-accessible") {
    val acc = Rbac.accessibleDocs(spark, sf, 1)
      .collect().map(_.getLong(0)).toSet
    val res = Rbac.prefilterTopK(spark, sf, 1, 10).collect()
    assert(res.length == 10)
    assert(res.forall(r => acc.contains(r.getLong(1))))
  }

  test("rls and prefilter agree (same semantics, different plan)") {
    val a = Rbac.prefilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    val b = Rbac.rlsTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("postfilter is a subset of the unfiltered global topk's doc set") {
    val post = Rbac.postfilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSet
    val acc = Rbac.accessibleDocs(spark, sf, 1).collect().map(_.getLong(0)).toSet
    assert(post.subsetOf(acc))
  }

  test("brute force L2 topk: distances are nondecreasing and exclude query") {
    val ids = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0))
    assert(ids.length == 10 && !ids.contains(0L) && ids.distinct.length == 10)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"query $name returned 0 rows")
    }
  }

  test("oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}

class DedupTextSpec extends AnyFunSuite {
  import SparkTest._
  import graft.dedup.Dedup
  import graft.text.TextOps

  test("minhash LSH finds the known near-dup pairs with high jaccard") {
    val pairs = Dedup.minhashLsh(spark, sf).collect()
    assert(pairs.length >= 20) // 23 prefix dup groups seeded in the data
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("simhash near-dup pairs overlap minhash pairs") {
    val mh = Dedup.minhashLsh(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty)
    // simhash(hamming<=3) should be a high-precision subset-ish of real dups
    assert(sh.intersect(mh).size.toDouble / sh.size >= 0.8)
  }

  test("rolling_hash fingerprint is deterministic and content-sensitive") {
    val fp1 = TextOps.fingerprint(spark, sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextOps.fingerprint(spark, sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 == fp2)
    assert(fp1.values.toSet.size > 400) // near-unique over 500 docs
  }

  test("exact dedup marks every doc canonical in this corpus (no exact dups)") {
    val d = Dedup.exact(spark, sf).collect()
    assert(d.forall(r => r.getLong(2) == 1L && r.getLong(3) == r.getLong(0)))
  }

  test("decontamination equals brute-force cross-set shingle intersection") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def shingles(t: String, n: Int): Set[String] = {
      val words = t.split(" ")
      // kernel semantics: a doc with < n words has NO n-shingles
      // (sliding would emit one partial window)
      if (words.length < n) Set.empty
      else words.sliding(n).map(_.mkString(" ")).toSet
    }
    val evalSet = docs.filter(_._2 == "src0").flatMap(d => shingles(d._3, 8)).toSet
    val expect = docs.filter(_._2 != "src0")
      .map(d => d._1 -> shingles(d._3, 8).count(evalSet.contains))
      .filter(_._2 >= 1).toMap
    val got = Dedup.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expect, s"contaminated-doc mismatch: got ${got.size}, expect ${expect.size}")
    assert(got.nonEmpty, "seeded near-dups should cross the src0 boundary")
  }

  test("train split is proportional and stable under corpus growth") {
    import graft.text.TextOps
    val rows = TextOps.trainSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 500)
    val trainFrac = rows.values.count(_ == "train").toDouble / rows.size
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"split skewed: $trainFrac")
    // stability: a doc's split depends only on its id — the assignment
    // over a SUBSET of the corpus must agree with the full corpus
    val subset = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0).select("doc_id")
      .withColumn("split",
        when(pmod(col("doc_id") * lit(2654435761L), lit(100)) < 90, "train").otherwise("val"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    subset.foreach { case (id, s) => assert(rows(id) == s, s"doc $id reassigned") }
  }

  test("sequence packing is a consistent concat-and-chunk layout") {
    import graft.text.TextOps
    val rows = TextOps.packSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 500)
    // replay the running sum serially: window/offset must match exactly
    var cum = 0L
    rows.sortBy(_._1).foreach { case (id, n, win, off) =>
      assert(win == cum / 512 && off == cum % 512, s"doc $id misplaced")
      cum += n
    }
  }
}

class AnnIndexSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{Ann, IvfIndex, Lsh}
  import graft.rbac.Partitioned

  test("IVF with nprobe = k equals exact brute force (recall 1.0)") {
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0)).toSeq
    val ivf = IvfIndex.search(spark, sf, k = 16, nprobe = 16, topk = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == exact)
  }

  test("IVF probe search has reasonable recall at nprobe=4/16") {
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0)).toSet
    val ivf = IvfIndex.search(spark, sf, k = 16, nprobe = 4, topk = 10)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.intersect(exact).size >= 2, s"recall too low: ${ivf.intersect(exact).size}/10")
  }

  test("IVF build assigns every vector to exactly one list") {
    val rep = IvfIndex.buildReport(spark, sf).collect()
    assert(rep.map(_.getLong(1)).sum == 500L)
  }

  test("distributed probe pick equals the driver-side pick") {
    val idx = IvfIndex.getOrBuild(spark, sf, 16)
    val q = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    assert(IvfIndex.probeListsDistributed(spark, idx, q, 4) ==
      IvfIndex.probeLists(idx, q, 4))
  }

  test("LSH multiprobe search overlaps exact cosine topk") {
    val exact = Ann.bruteForceCosineTopK(spark, sf, 10).collect().map(_.getLong(0)).toSet
    val lsh = Lsh.search(spark, sf).collect().map(_.getLong(0)).toSet
    assert(lsh.intersect(exact).nonEmpty)
  }

  test("role/comb/dynamic partition searches all agree with prefilter") {
    import graft.rbac.Rbac
    val expect = Rbac.prefilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    val role = Partitioned.rolePartitionTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    val comb = Partitioned.combPartitionTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    val dyn = Partitioned.dynamicPartitionTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    assert(role == expect && comb == expect && dyn == expect)
  }

  test("qd-tree signature routing is lossless: routed search = prefilter") {
    import graft.rbac.Rbac
    val expect = Rbac.prefilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    val got = IvfIndex.qdTreeSearch(spark, sf, 1).collect().map(_.getLong(0)).toSeq
    assert(got == expect)
  }

  test("qd-tree nprobe vector pruning keeps precision and decent recall") {
    import graft.rbac.Rbac
    val acc = Rbac.accessibleDocs(spark, sf, 1).collect().map(_.getLong(0)).toSet
    val exact = IvfIndex.qdTreeSearch(spark, sf, 1).collect().map(_.getLong(0)).toSet
    val probed = IvfIndex.qdTreeSearch(spark, sf, 1, nprobe = 4).collect().map(_.getLong(0)).toSet
    assert(probed.nonEmpty && probed.forall(acc.contains)) // precision: only accessible
    assert(probed.intersect(exact).size >= 2, s"recall too low: ${probed.intersect(exact).size}/10")
  }
}

class StreamingMultimodalSpec extends AnyFunSuite {
  import SparkTest._
  import graft.multimodal.Multimodal
  import graft.operators.Analytics
  import graft.streaming.EventStream

  test("streaming windowed agg matches the batch mirror") {
    val q = EventStream.runToMemory(spark, EventStream.windowedAgg(spark, sf), "g1win")
    val streamed = spark.sql(
      "SELECT window_start, event_type, n_events, sum_value FROM g1win")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Analytics.eventsWindowAgg(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // watermark may hold back the final window in append mode; streamed ⊆ batch and mostly complete
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
    assert(streamed.size >= batch.size - 30)
  }

  test("stateful sessionizer emits closed sessions consistent with batch sessionize") {
    val q = EventStream.runToMemory(spark, EventStream.sessionize(spark, sf).toDF(), "g2sess")
    val streamed = spark.sql("SELECT user_id, session_seq, n_events FROM g2sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Analytics.sessionize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed.subsetOf(batch))
  }

  test("multimodal features are deterministic with real binary plumbing") {
    val f1 = Multimodal.features(spark, sf).collect().map(f => f.media_id -> f).toMap
    val f2 = Multimodal.features(spark, sf).collect().map(f => f.media_id -> f).toMap
    assert(f1.size == 500)
    assert(f1.keys.forall(k => f1(k) == f2(k)))
    assert(f1.values.forall(f => f.n_bytes > 0 && f.width >= 16 && f.mean_intensity >= 0))
  }

  test("JPEG round-trip: real JDK codec behind the magic-sniff image branch") {
    val pgm = Multimodal.features(spark, sf).collect()
      .filter(_.kind == "image").map(f => f.media_id -> f).toMap
    val jpg = Multimodal.jpegFeatures(spark, sf).collect()
      .map(f => f.media_id -> f).toMap
    // same image slots, same dims (JPEG preserves geometry exactly)
    assert(jpg.keySet == pgm.keySet && jpg.nonEmpty)
    jpg.foreach { case (id, f) =>
      assert(f.width == pgm(id).width && f.height == pgm(id).height,
        s"media $id: jpeg dims ${f.width}x${f.height} != pgm ${pgm(id).width}x${pgm(id).height}")
      // lossy codec: mean luma must survive within a small tolerance of
      // the lossless PGM mean over the SAME pixel plane
      assert(math.abs(f.mean_intensity - pgm(id).mean_intensity) < 0.02,
        s"media $id: jpeg mean ${f.mean_intensity} far from pgm ${pgm(id).mean_intensity}")
      // a JPEG payload is a different (compressed) byte stream — if the
      // codec never ran, jpegTable would ship the PGM bytes unchanged
      // and both checksum and size would coincide
      assert(f.n_bytes > 0)
      assert(f.checksum != pgm(id).checksum || f.n_bytes != pgm(id).n_bytes,
        s"media $id: jpeg payload is byte-identical to the PGM payload")
    }
  }

  test("PNG round-trip: lossless codec branch reproduces the PGM plane exactly") {
    val pgm = Multimodal.features(spark, sf).collect()
      .filter(_.kind == "image").map(f => f.media_id -> f).toMap
    val png = Multimodal.pngFeatures(spark, sf).collect()
      .map(f => f.media_id -> f).toMap
    assert(png.keySet == pgm.keySet && png.nonEmpty)
    png.foreach { case (id, f) =>
      assert(f.width == pgm(id).width && f.height == pgm(id).height,
        s"media $id: png dims ${f.width}x${f.height} != pgm")
      // PNG is lossless: the decoded mean luma must be EXACTLY the
      // PGM's (both rounded to 4dp from identical pixel sums)
      assert(f.mean_intensity == pgm(id).mean_intensity,
        s"media $id: png mean ${f.mean_intensity} != pgm ${pgm(id).mean_intensity}")
      assert(f.checksum != pgm(id).checksum || f.n_bytes != pgm(id).n_bytes,
        s"media $id: png payload is byte-identical to the PGM payload")
    }
  }

  test("frame sampling emits stride-spaced indices per video") {
    val rows = Multimodal.frameSamplePlan(spark, sf).collect()
    assert(rows.nonEmpty)
    val byMedia = rows.groupBy(_.getLong(0))
    byMedia.values.foreach { g =>
      val idx = g.sortBy(_.getInt(2)).map(_.getInt(3))
      assert(idx.zipWithIndex.forall { case (f, i) => f == i * 10 })
    }
    // the frame count is parsed from the REAL container header
    rows.foreach { r =>
      assert(r.getInt(1) == 30 + (r.getLong(0) % 100).toInt,
        s"media ${r.getLong(0)}: header frame count mismatch")
    }
  }

  test("media payloads are real formats with valid magic bytes") {
    val rows = Multimodal.mediaTable(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val magic = new String(r.payload.take(4), "US-ASCII")
      r.kind match {
        case "image" => assert(magic.startsWith("P5"), s"media ${r.media_id}")
        case "audio" => assert(magic == "RIFF" &&
          new String(r.payload.slice(8, 12), "US-ASCII") == "WAVE", s"media ${r.media_id}")
        case _ => assert(magic == "GFV0", s"media ${r.media_id}")
      }
    }
  }
}

class ExtensionsSpec extends AnyFunSuite {
  import SparkTest._

  test("functions are SQL-callable after install") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT l2_dist(array(1.0F,2.0F), array(1.0F,0.0F)) AS d,
        |       cosine_sim(array(1.0F,0.0F), array(1.0F,0.0F)) AS c,
        |       rolling_hash('abc') AS rh,
        |       sorted_jaccard(array(1L,2L,3L), array(2L,3L,4L)) AS j
        |""".stripMargin).head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(2) == (((97L*31+98)%2147483647)*31+99)%2147483647)
    assert(math.abs(r.getDouble(3) - 0.5) < 1e-12)
    val rep = spark.sql("SELECT repetition_stats('a b a b a b') AS r").head().getSeq[Double](0)
    assert(rep == Seq(6.0, 0.5, 0.6, 0.5))
  }

  test("topk10_ids works in SQL group-by") {
    GraftExtensions.install(spark)
    spark.range(100).selectExpr("id % 3 AS g", "cast(id AS double) AS s", "id")
      .createOrReplaceTempView("t")
    val rows = spark.sql("SELECT g, topk10_ids(s, id) AS ids FROM t GROUP BY g").collect()
    assert(rows.length == 3 && rows.forall(_.getSeq[Long](1).length == 10))
  }

  test("withExtensions builder path registers functions") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions).getOrCreate()
    // note: getOrCreate may return the existing session; install covers that
    GraftExtensions.install(s2)
    assert(s2.sql("SELECT vec_norm(array(3.0F,4.0F))").head().getDouble(0) == 5.0)
  }
}

class LayoutStreamSpec extends AnyFunSuite {
  import SparkTest._
  import graft.sources.Layouts
  import graft.streaming.{EventStream, VectorStream}

  test("materialized role layout search matches prefilter, with partition pruning") {
    import graft.rbac.Rbac
    val out = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val path = Layouts.materializeRoleLayout(spark, sf, out)
    val got = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
    val expect = Rbac.prefilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    assert(got.collect().map(_.getLong(0)).toSeq == expect)
    // the role predicate must be a partition filter, not a data filter
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("partition_role"), "expected partition pruning in scan")
  }

  test("incremental compaction merges inserts idempotently, search matches rebuild") {
    import graft.rbac.Rbac
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val all = Rbac.blocks(spark, sf)
    val holdout = all.filter(col("block_id") % 13 === 0) // "arriving" batch
    val path = Layouts.materializeRoleLayoutFrom(spark, sf,
      all.filter(col("block_id") % 13 =!= 0), out)
    Layouts.compactInserts(spark, sf, path, holdout)
    Layouts.compactInserts(spark, sf, path, holdout) // re-run: must be a no-op
    // storage idempotency: compacted layout = full-rebuild cardinality
    val fullCount = all.join(Rbac.permissions(spark, sf), "document_id").count()
    assert(spark.read.parquet(path).count() == fullCount)
    // post-compaction pruned search ≡ search over a batch-rebuilt layout
    val expect = Rbac.prefilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    val got = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expect)
    // maintenance sweep: compacting delta files into one, same answers
    val role = Rbac.userRoles(spark, sf).filter(col("user_id") === 1)
      .head().getLong(1)
    val (before, after) = Layouts.rewritePartition(spark, path, role)
    assert(before > 1 && after == 1, s"expected delta files to compact: $before -> $after")
    val got2 = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got2 == expect)
    // target-size output: a small byte target must fan out to >1 file
    // (the 100 TB case — a rewrite is never a single-task funnel)
    val (_, fanned) = Layouts.rewritePartition(spark, path, role, targetBytes = 8 * 1024)
    assert(fanned > 1, s"expected multiple output files at 8 KiB target, got $fanned")
    val got3 = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got3 == expect)
  }

  test("a partition with duplicated files still answers correctly (mid-swap crash shape)") {
    import graft.rbac.Rbac
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val path = Layouts.materializeRoleLayout(spark, sf, out)
    val expect = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    // a crash between move-in and delete leaves BOTH old and new copies
    // of the partition's rows — simulate by duplicating a data file
    val role = Rbac.userRoles(spark, sf).filter(col("user_id") === 1).head().getLong(1)
    val partDir = java.nio.file.Paths.get(path, s"partition_role=$role")
    val ls = java.nio.file.Files.list(partDir)
    val f = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
    finally ls.close()
    java.nio.file.Files.copy(f, partDir.resolve("dup-" + f.getFileName))
    val got = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expect, "duplicate rows must dedup away in the search")
    // and the next rewrite sweep collapses the duplicates again
    val (_, after) = Layouts.rewritePartition(spark, path, role)
    assert(after == 1)
    assert(spark.read.parquet(path).filter(col("partition_role") === role)
      .groupBy("block_id").count().filter(col("count") > 1).count() == 0,
      "rewrite must deduplicate the crash remnants")
  }

  test("batch rollback restores the pre-insert layout rows and results") {
    import graft.rbac.Rbac
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_rollback").toString
    val all = Rbac.blocks(spark, sf)
    val holdout = all.filter(col("block_id") % 17 === 0)
    val path = Layouts.materializeRoleLayoutFrom(spark, sf,
      all.filter(col("block_id") % 17 =!= 0), out)
    def snapshot() = spark.read.parquet(path)
      .select(col("partition_role").cast("long"), col("block_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val preRows = snapshot()
    val preSearch = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    Layouts.compactInserts(spark, sf, path, holdout, batchId = 7L)
    assert(snapshot() != preRows, "insert batch should have changed the layout")
    // compaction records the touched partitions — rollback reads this
    // instead of scanning the layout
    val manifest = java.nio.file.Paths.get(path, "_batch_manifests", "batch_7")
    assert(java.nio.file.Files.exists(manifest), "compactInserts must write a manifest")
    Layouts.rollbackBatch(spark, path, 7L)
    assert(snapshot() == preRows, "rollback must restore the pre-insert row set")
    assert(!java.nio.file.Files.exists(manifest), "rollback must consume the manifest")
    val postSearch = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(postSearch == preSearch)
    Layouts.rollbackBatch(spark, path, 7L) // idempotent: no-op on re-run
    assert(snapshot() == preRows)
    // a LOST manifest must not strand a batch: the fallback full scan
    // still finds and undoes it
    Layouts.compactInserts(spark, sf, path, holdout, batchId = 8L)
    assert(snapshot() != preRows)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, "_batch_manifests", "batch_8"))
    Layouts.rollbackBatch(spark, path, 8L)
    assert(snapshot() == preRows, "manifest-less rollback must fall back to the scan")
  }

  test("streaming permission-aware topk state converges to batch prefilter") {
    import graft.rbac.Rbac
    val q = EventStream.runToMemory(spark,
      VectorStream.topkStream(spark, sf), "g5topk",
      org.apache.spark.sql.streaming.OutputMode.Update)
    val rows = spark.sql("SELECT topk_ids FROM g5topk").collect()
    assert(rows.nonEmpty)
    val finalIds = rows.last.getSeq[Long](0)
    val expect = Rbac.prefilterTopK(spark, sf, 1, 10).collect().map(_.getLong(0)).toSeq
    assert(finalIds == expect)
  }

  test("streaming IVF assignment converges to the batch build report") {
    import graft.ann.IvfIndex
    val q = EventStream.runToMemory(spark,
      VectorStream.listCounts(spark, sf), "vstream",
      org.apache.spark.sql.streaming.OutputMode.Update)
    val streamed = spark.sql("SELECT list_id, n_vectors FROM vstream")
      .groupBy("list_id").agg(org.apache.spark.sql.functions.max("n_vectors").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = IvfIndex.buildReport(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }
}

class PredicateProbeSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.IvfIndex
  import graft.rbac.Rbac

  test("predicate-aware probe returns k accessible results") {
    val acc = Rbac.accessibleDocs(spark, sf, 1).collect().map(_.getLong(0)).toSet
    val got = IvfIndex.predicateAwareSearch(spark, sf, 1).collect()
    assert(got.length == 10)
    assert(got.forall(r => acc.contains(r.getLong(0))))
  }

  test("csv and json sinks round-trip a query result") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val df = Rbac.accessibleDocs(spark, sf, 1).orderBy("document_id")
    df.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
    df.write.mode("overwrite").json(s"$out/json")
    val csvBack = spark.read.option("header", "true").schema(df.schema).csv(s"$out/csv")
    val jsonBack = spark.read.schema(df.schema).json(s"$out/json")
    val expect = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(csvBack.collect().map(_.getLong(0)).sorted.toSeq == expect)
    assert(jsonBack.collect().map(_.getLong(0)).sorted.toSeq == expect)
  }
}

class DocStreamSpec extends AnyFunSuite {
  import SparkTest._
  import graft.dedup.Dedup
  import graft.streaming.{DocStream, EventStream}

  test("streaming ingest gate matches the batch mirror and the C7 operator") {
    val q = EventStream.runToMemory(spark, DocStream.ingestGateStream(spark, sf), "g6gate")
    val streamed = spark.sql("SELECT doc_id, n_tokens, contaminated, keep FROM g6gate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSet
    val batch = DocStream.ingestGateBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSet
    assert(streamed == batch, "stream and batch gate must agree row-for-row")
    // the in-stream contamination flag agrees with the batch C7 operator
    val c7 = Dedup.decontaminate(spark, sf).collect().map(_.getLong(0)).toSet
    val flagged = streamed.filter(_._3).map(_._1)
    assert(flagged == c7, "streamed contamination set diverged from dedup_decontaminate")
    assert(streamed.exists(_._4) && streamed.exists(!_._4),
      "gate should both keep and reject docs in this corpus")
  }
}

class StreamingDedupSpec extends AnyFunSuite {
  import SparkTest._
  import graft.streaming.EventStream
  import graft.text.TextOps

  test("streaming dedup emits each event_id once") {
    val q = EventStream.runToMemory(spark, EventStream.dedupStream(spark, sf), "g4dedup")
    val ids = spark.sql("SELECT event_id FROM g4dedup").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.length == graft.Tables.events(spark, sf).count())
  }

  test("hash embedding weights sum to ~1 per doc") {
    val rows = TextOps.hashEmbedding(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(2)).sum)
    assert(byDoc.values.forall(s => math.abs(s - 1.0) < 0.01))
  }
}

class DupClusterSpec extends AnyFunSuite {
  import SparkTest._
  import graft.dedup.Dedup

  test("dup clusters are consistent with the pair graph") {
    val pairs = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rep = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.nonEmpty)
    // both ends of every pair share a cluster rep, and rep is the min id
    pairs.foreach { case (a, b) =>
      assert(rep(a) == rep(b), s"pair ($a,$b) split across clusters")
    }
    rep.foreach { case (doc, r) => assert(r <= doc) }
    // cluster count matches the number of connected components of pairs
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    def comp(start: Long): Set[Long] = {
      var seen = Set(start); var frontier = List(start)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty)).filterNot(seen)
        seen ++= next; frontier = next
      }
      seen
    }
    val roots = pairs.map(_._1).toSet ++ pairs.map(_._2).toSet
    val nComponents = {
      var remaining = roots; var n = 0
      while (remaining.nonEmpty) { remaining --= comp(remaining.head); n += 1 }
      n
    }
    assert(rep.values.toSet.size == nComponents)
  }
}

class BucketingSpec extends AnyFunSuite {
  import SparkTest._
  import graft.sources.Bucketing

  test("bucketed join plans without a shuffle and matches the plain join") {
    val df = Bucketing.bucketedJoinRevenue(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the JOIN itself must not shuffle: the only exchange allowed is the
    // one for the final groupBy/orderBy, which keys on o_orderpriority
    val joinSection = plan.split("SortMergeJoin")(1)
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles:\n$plan")
    val expect = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("l_extendedprice") *
            (org.apache.spark.sql.functions.lit(1.0) -
              org.apache.spark.sql.functions.col("l_discount"))), 4).as("revenue"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == expect)
  }
}

class ResizePlanSpec extends AnyFunSuite {
  import SparkTest._
  import graft.multimodal.Multimodal

  test("resize plan fits the target box and preserves aspect ratio") {
    val rows = Multimodal.resizePlan(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h, scale, ow, oh) =
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4), r.getInt(5))
      assert(ow <= 224 && oh <= 224)
      assert(ow == math.floor(w * scale).toInt && oh == math.floor(h * scale).toInt)
      assert(scale > 0)
    }
  }
}

class CostModelSpec extends AnyFunSuite {
  import SparkTest._
  import graft.rbac.{Partitioned, Rbac}

  test("cost-model layout: unique combs, budget respected, benefit-ordered prefix") {
    val rows = Partitioned.costModelLayout(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    val n0 = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._1).distinct.length == rows.length) // one partition per comb
    val split = rows.filter(_._4 > 0)
    assert(split.nonEmpty, "at least one comb should earn a dedicated partition")
    assert(split.map(_._3).sum <= n0, "dedicated storage exceeds the (α−1)·N budget")
    assert(split.map(_._4).sorted.toSeq == (1 to split.length), "pids must be the ranking prefix")
    val ben = split.sortBy(_._4)
      .map(t => t._2 * (math.log(n0.toDouble) - math.log(t._3.toDouble)) / t._3)
    assert(ben.zip(ben.tail).forall { case (a, b) => a >= b - 1e-12 },
      "split order must follow the cost-model benefit")
  }

  test("cost-model routed search equals prefilter for several users") {
    for (u <- Seq(1L, 2L, 7L)) {
      val expect = Rbac.prefilterTopK(spark, sf, u, 10).collect().map(_.getLong(0)).toSeq
      val got = Partitioned.dynamicPartitionTopK(spark, sf, u, 10).collect().map(_.getLong(0)).toSeq
      assert(got == expect, s"user $u: routed result diverged from prefilter")
    }
  }
}

class BlockedSimilaritySpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.Ann
  import graft.dedup.Dedup

  private def l2(a: Array[Float], b: Array[Float]): Double = refL2(a, b)

  private lazy val vecs: Array[(Long, Array[Float])] =
    graft.Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  test("bucketed knn graph equals brute force, no crossJoin/corpus broadcast") {
    val expect = vecs.flatMap { case (src, ea) =>
      vecs.iterator.filter(_._1 != src)
        .map { case (dst, eb) => (l2(ea, eb), dst) }
        .toSeq.sorted.take(5).map { case (_, dst) => (src, dst) }
    }.toSet
    val df = Ann.knnGraph(spark, sf, 5)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus must join by cell, not crossJoin/broadcast:\n$plan")
    // 100 TB regime: with auto-broadcast off, nothing in the plan
    // REQUIRES broadcasting the corpus — every cell join degrades to a
    // shuffle equi-join (only the 16-row radii table keeps its hint)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = Ann.knnGraph(spark, sf, 5).queryExecution.executedPlan.toString
      assert(!big.contains("BroadcastNestedLoopJoin") && !big.contains("CartesianProduct"))
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        s"expected shuffle equi-joins without broadcast:\n$big")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
  }

  test("NN-Descent converges toward the exact graph, monotonically") {
    val exact = Ann.knnGraph(spark, sf, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(iters: Int): Double = {
      val got = Ann.knnGraphDescent(spark, sf, 5, iters).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r0 = recall(0); val r2 = recall(2)
    assert(r2 >= r0, s"descent degraded recall: $r0 -> $r2")
    assert(r2 >= 0.7, s"recall after 2 rounds too low: $r2 (init $r0)")
  }

  test("descent ρ-sampling cuts candidate volume, recall still converges") {
    val exact = Ann.knnGraph(spark, sf, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(rho: Double): (Double, Long) = {
      val got = Ann.knnGraphDescent(spark, sf, 5, iters = 2, rho = rho,
        collectStats = true).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cands = Ann.descentCandStats((sf, 5, 2, 16, (rho * 100).toInt))
      (got.intersect(exact).size.toDouble / exact.size, cands)
    }
    val (rFull, cFull) = run(1.0)
    val (rSampled, cSampled) = run(0.5)
    assert(cSampled < cFull,
      s"ρ=0.5 should generate fewer candidates: $cSampled vs $cFull")
    assert(rSampled >= 0.7, s"sampled recall too low: $rSampled (full $rFull)")
  }

  test("blocked embedding near-dup equals the exact quadratic result") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dp += x * y; na += x * x; nb += y * y; i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dp / den
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = (for {
      (v1, e1) <- vecs; (v2, e2) <- vecs if v1 < v2
      c = r4(cos(e1, e2)) if c >= 0.45
    } yield (v1, v2, c)).toSet
    val df = Dedup.embeddingPairs(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pairs must come from cell-pair equi-joins:\n$plan")
  }
}

class CellLayoutSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.IvfIndex
  import graft.sources.Layouts

  test("cell-partitioned layout probe search prunes directories, matches in-memory IVF") {
    val out = java.nio.file.Files.createTempDirectory("graft_cells").toString
    val path = Layouts.materializeCellLayout(spark, sf, out)
    val df = Layouts.prunedCellSearch(spark, sf, path, k = 16, nprobe = 4)
    val got = df.collect().map(_.getLong(0)).toSeq
    val mem = IvfIndex.search(spark, sf, k = 16, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(got == mem, "partitioned probe must equal the in-memory probe")
    // the probe predicate must prune directories, not filter rows
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition pruning in scan:\n$plan")
    // and only nprobe of the 16 cell directories exist in the read
    val dirs = new java.io.File(path).listFiles().count(_.getName.startsWith("cell="))
    assert(dirs == 16, s"expected 16 cell directories, got $dirs")
  }
}

class QdTreeGreedySpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{IvfIndex, QdTree}
  import graft.rbac.Rbac

  test("greedy build respects the leaf budget and beats the flat leaf count") {
    val tree = QdTree.getOrBuild(spark, sf)
    assert(tree.nLeaves <= 24, s"leaf budget blown: ${tree.nLeaves}")
    assert(tree.splits.nonEmpty, "greedy should choose at least one split")
    // every group assigned to exactly one leaf; leaf ids = tree nodes
    val leaves = QdTree.leafReport(spark, sf).collect()
    assert(leaves.length == tree.nLeaves)
    val flatLeaves = IvfIndex.qdTreeAssign(spark, sf).count()
    assert(tree.nLeaves < flatLeaves,
      s"greedy (${tree.nLeaves}) should need fewer leaves than flat ($flatLeaves)")
    // no predicate repeats on a root-to-leaf path (remaining_preds)
    def path(n: Long): Seq[Long] =
      if (n == 0) Seq(0L) else path((n - 1) / 2) :+ n
    val splitByNode = tree.splits.map(s => s.node -> ((s.ptype, s.pval))).toMap
    leaves.map(_.getLong(0)).foreach { leaf =>
      val preds = path(leaf).dropRight(1).flatMap(splitByNode.get)
      assert(preds.distinct.length == preds.length, s"path to $leaf reuses a predicate")
    }
  }

  test("greedy-tree routed search equals prefilter for several users") {
    for (u <- Seq(1L, 2L, 7L)) {
      val expect = Rbac.prefilterTopK(spark, sf, u, 10).collect().map(_.getLong(0)).toSeq
      val got = QdTree.routedTopK(spark, sf, u).collect().map(_.getLong(0)).toSeq
      assert(got == expect, s"user $u: greedy-routed diverged from prefilter")
    }
  }
}

class QuantileSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Analytics

  test("distributed quantiles equal the percentile aggregate, no Percentile in plan") {
    val df = Analytics.valueQuantiles(spark, sf)
    val got = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    val exp = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == exp)
    // the whole point: no unbounded per-group Percentile buffer
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      s"percentile aggregate still in the plan:\n$plan")
  }
}

class ProbePlanSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{IvfIndex, PqIndex}

  // The IVF probe family must prune by FILTERING the cell-attached
  // corpus (partition pruning at scale), never by joining assignments
  // back on vec_id — that join becomes a full-corpus shuffle at 100 TB.
  // With auto-broadcast disabled, nothing may force a corpus-side
  // Exchange: the only joins left are the explicitly-broadcast tiny
  // sides (query vector, accessible-doc set, short list).
  test("IVF/predicate/IVFADC probe plans have no corpus-side shuffle join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plans = Seq(
        "ann_ivf_search" -> IvfIndex.search(spark, sf, k = 16, nprobe = 4),
        "ann_predicate_probe" -> IvfIndex.predicateAwareSearch(spark, sf, 1),
        "ann_ivfpq_search" -> PqIndex.ivfAdcSearch(spark, sf, nprobe = 8),
        "rbac_ivfpq_topk" -> PqIndex.ivfAdcSearch(spark, sf, nprobe = 8, userId = Some(1)))
      plans.foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
          !plan.contains("CartesianProduct") &&
          !plan.contains("Exchange hashpartitioning(vec_id"),
          s"$name: corpus side must not shuffle:\n$plan")
        assert(df.count() > 0, s"$name returned no rows")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
  }
}

class TrianglePruneSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{Ann, IvfIndex}

  test("triangle-pruned range search equals brute force exactly") {
    val brute = Ann.rangeSearch(spark, sf, 1.3).collect().map(_.getLong(0)).toSeq
    val pruned = IvfIndex.rangeSearchTriangle(spark, sf, 1.3).collect().map(_.getLong(0)).toSeq
    assert(pruned == brute)
  }
}

class PqSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{Ann, PqIndex}

  test("PQ codes cover all vectors with one byte per subspace") {
    val c = PqIndex.codes(spark, sf).collect()
    assert(c.length == 500)
    assert(c.forall(_.getAs[Array[Byte]](1).length == PqIndex.NumSub))
  }

  test("IVFADC search: decent recall, and the RBAC variant stays accessible-only") {
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0)).toSet
    val ivfpq = PqIndex.ivfAdcSearch(spark, sf, nprobe = 8).collect().map(_.getLong(0)).toSet
    assert(ivfpq.intersect(exact).size >= 3, s"IVFADC recall too low: ${ivfpq.intersect(exact).size}/10")
    val acc = graft.rbac.Rbac.accessibleDocs(spark, sf, 1).collect().map(_.getLong(0)).toSet
    val filtered = PqIndex.ivfAdcSearch(spark, sf, nprobe = 8, userId = Some(1))
      .collect().map(_.getLong(0))
    assert(filtered.nonEmpty && filtered.forall(acc.contains))
  }

  test("PQ ADC search with exact re-rank has high recall vs brute force") {
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0)).toSet
    val pq = PqIndex.search(spark, sf).collect().map(_.getLong(0)).toSet
    val recall = pq.intersect(exact).size / 10.0
    assert(recall >= 0.5, s"PQ recall too low: $recall")
  }
}

class AsofJoinSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.AsofJoin

  test("asof picks the latest prior right row per key; boundary obeys strictness") {
    val sparkRef = spark; import sparkRef.implicits._
    import org.apache.spark.sql.functions.col
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, 900L), (1L, 15L, 901L), (2L, 9L, 902L))
      .toDF("k", "rt", "pid")
    def run(strict: Boolean) =
      AsofJoin.asof(left, right, "k", "t", "rt", Seq("pid"), strict)
        .orderBy("lid").collect()
        .map(r => (r.getAs[Long]("lid"), Option(r.getAs[Any]("pid")))).toSeq
    // strict: the t=10 left row must NOT see the t=10 right row
    assert(run(strict = true) ==
      Seq((100L, None), (101L, Some(901L)), (102L, None)))
    // at-or-before: it must
    assert(run(strict = false) ==
      Seq((100L, Some(900L)), (101L, Some(901L)), (102L, None)))
    // ties on (key, time) resolve to the greatest payload, deterministically
    val tied = Seq((1L, 10L, 900L), (1L, 10L, 903L)).toDF("k", "rt", "pid")
    val got = AsofJoin.asof(left.filter(col("lid") === 101L), tied,
      "k", "t", "rt", Seq("pid"), strict = true).head().getAs[Long]("pid")
    assert(got == 903L)
  }

  test("asof rejects payload/left column collisions and reserved names up front") {
    val sparkRef = spark; import sparkRef.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("k", "t", "lid")
    val right = Seq((1L, 5L, 900L)).toDF("k", "rt", "lid") // payload name = left's lid
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asof(left, right, "k", "t", "rt", Seq("lid"))
    }
    assert(e.getMessage.contains("lid"))
    val reserved = Seq((1L, 5L, 900L)).toDF("k", "__t", "pid")
    intercept[IllegalArgumentException] {
      AsofJoin.asof(left, reserved, "k", "t", "__t", Seq("pid"))
    }
  }

  test("events asof purchase: every match is the user's latest prior purchase") {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, sf)
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)).toSeq
    val purchases = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)).toSeq
    val expect = ev.map { case (eid, uid, t) =>
      val prior = purchases.filter(p => p._2 == uid && p._3 < t)
      eid -> (if (prior.isEmpty) None
              else Some(prior.maxBy(p => (p._3, p._1))._1))
    }.toMap
    val got = AsofJoin.eventsAsofPurchase(spark, sf).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("prev_purchase_id")
        .asInstanceOf[java.lang.Long]).map(_.longValue)).toMap
    assert(got.size == expect.size)
    assert(got == expect)
  }
}

class SamplingSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Sampling

  test("stratified exact sample hits ceil(n*pct/100) per stratum") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source")
    val n = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sampling.stratifiedExact(docs, "doc_id", "source", 20)
      .groupBy("source").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == n.keySet)
    n.foreach { case (s, tot) =>
      assert(got(s) == (tot * 20 + 99) / 100,
        s"stratum $s: got ${got(s)} of $tot") }
  }

  test("hash mixture is subset-invariant and rate-accurate") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source")
    val rates = Map("src0" -> 5000, "src1" -> 2500, "src2" -> 1000)
    val full = Sampling.mixtureByHash(docs, "doc_id", "source", rates)
      .collect().map(_.getLong(0)).toSet
    // a doc's membership must not depend on what else is in the corpus
    val subset = docs.filter(col("doc_id") % 2 === 0)
    val sub = Sampling.mixtureByHash(subset, "doc_id", "source", rates)
      .collect().map(_.getLong(0)).toSet
    assert(sub == full.filter(_ % 2 == 0))
    // unlisted strata are dropped entirely
    val bySrc = Sampling.mixtureByHash(docs, "doc_id", "source", rates)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet.subsetOf(rates.keySet))
    // rate lands near the target (binomial tolerance at sf0.001 sizes)
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rates.foreach { case (s, bp) =>
      val want = totals(s) * bp / 10000.0
      val tol = 4 * math.sqrt(totals(s) * (bp / 10000.0)) + 1
      assert(math.abs(bySrc.getOrElse(s, 0L) - want) <= tol,
        s"stratum $s: got ${bySrc.getOrElse(s, 0L)}, want ~$want ± $tol")
    }
  }
}

class SqSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{Ann, SqIndex}

  test("SQ8 codes are one byte per dimension and dequantize within a step") {
    val g = SqIndex.getOrBuild(spark, sf)
    val joined = SqIndex.codes(spark, sf)
      .join(graft.Tables.embeddings(spark, sf), "vec_id")
      .collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      val code = r.getAs[Array[Byte]]("code")
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      assert(code.length == SqIndex.Dim)
      var i = 0
      while (i < SqIndex.Dim) {
        val deq = g.lo(i) + (code(i) & 0xff) * g.step(i)
        // round-to-nearest: reconstruction is within half a step (+ulp)
        assert(math.abs(deq - v(i)) <= g.step(i) * 0.5f + 1e-4f,
          s"dim $i: |$deq - ${v(i)}| > step/2=${g.step(i) * 0.5f}")
        i += 1
      }
    }
  }

  test("SQ8 ADC search with exact re-rank beats PQ-grade recall") {
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0)).toSet
    val sq = SqIndex.search(spark, sf).collect().map(_.getLong(0)).toSet
    val recall = sq.intersect(exact).size / 10.0
    // 8 bits/dim is near-lossless at this data scale — expect ~1.0
    assert(recall >= 0.9, s"SQ8 recall too low: $recall")
  }
}

class BqSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{Ann, BqIndex}

  private def exec(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("BQ codes pack 64 dims into one long and match the per-dim comparisons") {
    val thr = BqIndex.getOrBuild(spark, sf)
    val joined = BqIndex.codes(spark, sf)
      .join(graft.Tables.embeddings(spark, sf), "vec_id")
      .collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      val bits = r.getSeq[Long](r.fieldIndex("bits"))
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      assert(bits.length == 1) // 64 dims -> exactly one packed word
      var i = 0
      while (i < BqIndex.Dim) {
        val expect = v(i).toDouble > thr(i)
        val got = ((bits(i >> 6) >>> (i & 63)) & 1L) == 1L
        assert(got == expect, s"dim $i: bit=$got vs ${v(i)} > ${thr(i)}")
        i += 1
      }
    }
  }

  test("hamming/jaccard kernels: interpreted eval matches hand math") {
    import graft.functions.{BitJaccard, HammingDistance}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def arr(v: Long*) = Literal.create(v, ArrayType(LongType))
    val (x, y) = (arr(0x0F0FL, -1L), arr(0x00FFL, 0L))
    assert(HammingDistance(x, y).eval(null) ==
      java.lang.Long.bitCount(0x0F0FL ^ 0x00FFL) + 64)
    val inter = java.lang.Long.bitCount(0x0F0FL & 0x00FFL).toDouble
    val union = java.lang.Long.bitCount(0x0F0FL | 0x00FFL).toDouble + 64
    assert(BitJaccard(x, y).eval(null) == inter / union)
    assert(BitJaccard(arr(0L, 0L), arr(0L, 0L)).eval(null) == 1.0) // both empty = identical
  }

  test("BQ encode scan stays inside whole-stage codegen") {
    val plan = exec(BqIndex.codes(spark, sf))
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("bq_encode")),
      s"bq encode fell out of codegen:\n$plan")
  }

  test("BQ hamming short-list + exact re-rank recovers most of the exact top-k") {
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect().map(_.getLong(0)).toSet
    val bq = BqIndex.search(spark, sf).collect().map(_.getLong(0)).toSet
    val recall = bq.intersect(exact).size / 10.0
    // 1 bit/dim at 256x compression: the overfetch+re-rank must carry
    // the quality — expect well over half the exact set
    assert(recall >= 0.5, s"BQ recall too low: $recall")
  }
}

class SparseSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.Sparse
  import graft.functions.sparse._
  import graft.functions.vector._

  // dense vector with non-surviving dims zeroed — the sparse pair
  // representation and this masked dense vector are the same object,
  // so every sparse kernel must agree with its dense counterpart on it
  private def masked(thresh: Double) =
    expr(s"transform(embedding, v -> CASE WHEN v > ${thresh}D THEN v ELSE CAST(0.0 AS FLOAT) END)")

  test("sparse dot/l2/cosine agree with dense kernels over the masked vectors") {
    val s = Sparse.sparsify(spark, sf)
      .join(graft.Tables.embeddings(spark, sf), "vec_id")
      .withColumn("m", masked(0.15))
    val q = s.filter(col("vec_id") === 0)
      .select(col("sidx").as("qidx"), col("sval").as("qval"), col("m").as("qm"))
    val rows = s.filter(col("vec_id") =!= 0).limit(50)
      .crossJoin(broadcast(q))
      .select(
        sparse_dot(col("sidx"), col("sval"), col("qidx"), col("qval")).as("sd"),
        dot(col("m"), col("qm")).as("dd"),
        sparse_l2(col("sidx"), col("sval"), col("qidx"), col("qval")).as("sl"),
        l2_dist(col("m"), col("qm")).as("dl"),
        sparse_cosine(col("sidx"), col("sval"), col("qidx"), col("qval")).as("sc"),
        cosine_sim(col("m"), col("qm")).as("dc"))
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9, "dot diverged")
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9, "l2 diverged")
      assert(math.abs(r.getDouble(4) - r.getDouble(5)) < 1e-9, "cosine diverged")
    }
  }

  test("sparse kernels handle disjoint and empty index sets") {
    import graft.functions.{SparseCosine, SparseDot, SparseL2}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}
    def idx(v: Int*) = Literal.create(v, ArrayType(IntegerType))
    def vals(v: Float*) = Literal.create(v, ArrayType(FloatType))
    // disjoint: dot 0, l2 = sqrt of all squares, cosine 0 via dot
    val d = SparseDot(idx(0, 2), vals(1f, 2f), idx(1, 3), vals(3f, 4f)).eval(null)
    assert(d == 0.0)
    val l = SparseL2(idx(0, 2), vals(1f, 2f), idx(1, 3), vals(3f, 4f)).eval(null)
    assert(math.abs(l.asInstanceOf[Double] - math.sqrt(1 + 4 + 9 + 16)) < 1e-12)
    // one side empty
    assert(SparseDot(idx(), vals(), idx(0), vals(5f)).eval(null) == 0.0)
    assert(SparseL2(idx(), vals(), idx(0), vals(5f)).eval(null) == 5.0)
    assert(SparseCosine(idx(), vals(), idx(0), vals(5f)).eval(null) == 0.0) // zero norm
    // overlap partial
    val d2 = SparseDot(idx(1, 2, 5), vals(1f, 2f, 3f), idx(2, 5, 9), vals(4f, 5f, 6f)).eval(null)
    assert(d2 == 2.0 * 4 + 3.0 * 5)
  }

  test("L1 kernel matches a manual sum and stays in codegen") {
    import graft.ann.Ann
    val exact = Ann.bruteForceL1TopK(spark, sf, 10)
    exact.collect() // finalize the adaptive plan so codegen stages are visible
    val plan = exact.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("l1_distance")),
      s"l1 fell out of codegen:\n$plan")
    // manual check on one pair
    val two = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 2)
      .orderBy("vec_id").collect().map(_.getSeq[Float](1))
    val want = two(0).zip(two(1)).map { case (a, b) => math.abs(a.toDouble - b.toDouble) }.sum
    val got = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 1)
      .crossJoin(graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec")))
      .select(l1_dist(col("embedding"), col("qvec"))).head().getDouble(0)
    assert(math.abs(got - want) < 1e-9)
  }

  test("sparse topk scan keeps the merge kernel inside whole-stage codegen") {
    val df = Sparse.sparseTopK(spark, sf)
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("sparse_dot")),
      s"sparse dot fell out of codegen:\n$plan")
  }

  test("inverted-index topk matches a driver reference over the sparse frame") {
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Sparse.sparsify(spark, sf).collect().map { r =>
      (r.getLong(0), r.getSeq[Int](1).toArray, r.getSeq[Float](2).toArray)
    }
    val (qidx, qval) = rows.find(_._1 == 0L).map(r => (r._2, r._3)).get
    val qmap = qidx.zip(qval).toMap
    val expect = rows.filter(_._1 != 0L).flatMap { case (id, is, vs) =>
      val terms = is.zip(vs).collect {
        case (i, v) if qmap.contains(i) => v.toDouble * qmap(i).toDouble
      }
      if (terms.isEmpty) None else Some((id, r4(terms.sum)))
    }.sortBy { case (id, dt) => (-dt, id) }.take(10).toSeq
    val got = Sparse.invertedTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect, s"spark=$got\nref=$expect")
    // on this corpus every top-k candidate overlaps the query, so the
    // inverted retrieval must agree row-for-row with the full-scan
    // merge-kernel path
    val full = Sparse.sparseTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == full, s"inverted=$got\nfull-scan=$full")
  }
}

class RepetitionSpec extends AnyFunSuite {
  import SparkTest._

  test("repetition stats match hand-computed values on crafted docs") {
    val sparkRef = spark; import sparkRef.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.repetition.repetition_stats
    val df = Seq(
      ("a b a b a b",    1L), // 6 words: 'a'x3; bigrams: 'a b'x3,'b a'x2; trigrams 4, distinct 2
      ("x",              2L), // 1 word: no bigrams/trigrams
      ("p q r s",        3L)  // all distinct
    ).toDF("text", "id")
      .select(col("id"), repetition_stats(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(df(1L) == Seq(6.0, 3.0 / 6, 3.0 / 5, 1.0 - 2.0 / 4))
    assert(df(2L) == Seq(1.0, 1.0, 0.0, 0.0))
    assert(df(3L) == Seq(4.0, 1.0 / 4, 1.0 / 3, 0.0))
  }

  test("corpus repetition fracs are valid and word counts agree with split size") {
    import org.apache.spark.sql.functions.{col, size, split}
    val got = graft.text.TextOps.repetitionStats(spark, sf)
    val joined = got.join(
      graft.Tables.documents(spark, sf)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("nw")),
      "doc_id").collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      assert(r.getAs[Long]("n_words") == r.getAs[Long]("nw"))
      Seq("top_word_frac", "top_bigram_frac", "dup_trigram_frac").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
    }
  }
}

class SketchSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions._

  test("union of daily HLL sketches is bit-identical to the whole-corpus sketch") {
    val ev = graft.Tables.events(spark, sf)
    val merged = graft.operators.Sketches.dailySketches(spark, sf)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == whole)
  }

  test("sketch estimate lands within 5% of the exact reach") {
    val exact = graft.operators.Sketches.userReach(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = graft.operators.Sketches.reachSketch(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, n) =>
      assert(math.abs(est(t) - n) <= math.max(0.05 * n, 2),
        s"$t: est ${est(t)} vs exact $n") }
  }

  test("bloom-prefiltered decontamination is row-identical to the exact gate") {
    val a = graft.dedup.Dedup.decontaminate(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = graft.dedup.Dedup.decontaminateBloom(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // and with an aggressive fpp the verify join still removes every
    // false positive the bloom lets through
    val c = graft.dedup.Dedup.decontaminateBloom(spark, sf, fpp = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == c)
  }

  test("MgBuffer keeps capacity and the n/(m+1) guarantee past m distinct items") {
    // the corpus fixtures have fewer distinct users than m, so MG
    // eviction/merge-trim never fire there — this synthetic stream
    // (3 heavy items above threshold, ~300 tail items, m=8) exercises
    // both paths deterministically
    val m = 8
    val stream = (0 until 4000).map { i =>
      if (i % 2 == 0) ((i / 2) % 3).toLong else (3 + (i % 300)).toLong
    }
    val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = stream.size
    val thresh = n.toDouble / (m + 1)
    assert(exact.count(_._2 > thresh) == 3, "fixture must have 3 true heavies")
    val buf = new graft.operators.MgBuffer(m)
    stream.foreach { x =>
      buf.add(x)
      assert(buf.counts.size <= m, s"sequential state exceeded m: ${buf.counts.size}")
    }
    exact.foreach { case (x, c) =>
      if (c > thresh) assert(buf.counts.containsKey(x), s"lost heavy item $x ($c)")
    }
    buf.sortedEntries.foreach { case (id, est) =>
      val t = exact.getOrElse(id, 0L)
      assert(est <= t && t <= est + thresh.ceil.toLong, s"$id: est=$est true=$t")
    }
    // distributed shape: chunked partial buffers merged pairwise
    val merged = stream.grouped(600).map { chunk =>
      val b = new graft.operators.MgBuffer(m); chunk.foreach(b.add); b
    }.reduce { (a, b) =>
      a.mergeFrom(b)
      assert(a.counts.size <= m, s"merged state exceeded m: ${a.counts.size}")
      a
    }
    exact.foreach { case (x, c) =>
      if (c > thresh) assert(merged.counts.containsKey(x), s"merge lost heavy $x ($c)")
    }
    merged.sortedEntries.foreach { case (id, est) =>
      val t = exact.getOrElse(id, 0L)
      assert(est <= t && t <= est + thresh.ceil.toLong, s"merged $id: est=$est true=$t")
    }
  }

  test("misra-gries candidates cover every true heavy hitter with bounded error") {
    val m = 128
    val ev = graft.Tables.events(spark, sf)
    val exact = ev.groupBy("event_type", "user_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).map { case (t, xs) => t -> xs.values.sum }
    val sk = ev.groupBy("event_type")
      .agg(graft.operators.HeavyHitterAgg.misra_gries(col("user_id"), m).as("cand"))
      .collect().map { r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => e.getLong(0) -> e.getLong(1)).toMap
      }.toMap
    totals.foreach { case (t, n) =>
      val thresh = n.toDouble / (m + 1)
      val cands = sk(t)
      // guarantee 1: everything above n/(m+1) survives the sketch
      exact.foreach { case ((et, u), c) =>
        if (et == t && c > thresh)
          assert(cands.contains(u), s"heavy hitter ($t,$u,$c) missing, thresh=$thresh")
      }
      // guarantee 2: estimates undercount by at most n/(m+1)
      cands.foreach { case (u, est) =>
        val truth = exact.getOrElse((t, u), 0L)
        assert(est <= truth && truth <= est + thresh.ceil.toLong,
          s"($t,$u): est=$est truth=$truth thresh=$thresh")
      }
    }
  }

  test("heavy-hitter output equals the exact frequency threshold, deterministically") {
    val m = 128
    val ev = graft.Tables.events(spark, sf)
    val exact = ev.groupBy("event_type", "user_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).map { case (t, xs) => t -> xs.values.sum }
    val expect = exact.collect {
      case ((t, u), c) if c > totals(t).toDouble / (m + 1) => (t, u, c)
    }.toSet
    assert(expect.nonEmpty, "test needs at least one true heavy hitter")
    val run1 = graft.operators.Sketches.heavyHitters(spark, sf, m).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run1 == expect)
    // the sketch content is order-sensitive; the OUTPUT must not be
    val run2 = graft.operators.Sketches.heavyHitters(
      spark, sf, m).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run2 == run1)
  }
}

class Round4PlanSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions.col

  private def exec(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("zero-shuffle claims hold: repetition stats and mixture sample plans have no Exchange") {
    Seq(
      "text_repetition(pre-sort)" ->
        graft.Tables.documents(spark, sf)
          .select(col("doc_id"), graft.functions.repetition.repetition_stats(col("text"))),
      "docs_mixture_sample(pre-sort)" ->
        graft.operators.Sampling.mixtureByHash(
          graft.Tables.documents(spark, sf).select("doc_id", "source"),
          "doc_id", "source", Map("src0" -> 5000))
    ).foreach { case (name, df) =>
      val plan = exec(df)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
    }
  }

  test("asof join shuffles exactly once, on the key") {
    val df = graft.operators.AsofJoin.asof(
      graft.Tables.events(spark, sf).select("event_id", "user_id", "ts"),
      graft.Tables.events(spark, sf).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("pid")),
      "user_id", "ts", "p_ts", Seq("pid"))
    val plan = exec(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"asof must shuffle exactly once, saw $shuffles:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"asof must not plan a join:\n$plan")
  }

  test("TPC-H family: no forced BroadcastExchange on a scale-variant relation") {
    // With auto-broadcast disabled, any BroadcastExchange left in the
    // plan comes from an explicit hint — and the policy (SURVEY §5)
    // allows hints ONLY on bounded frames: nation/region scans and
    // one-row global aggregates. A hint on orders/customer/part/
    // supplier/lineitem is correct at sf0.1 and a guaranteed broadcast-
    // cap/driver-OOM failure at 100× — the exact class of bug this
    // test exists to keep out.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val A = graft.operators.Analytics
    val queries: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q3" -> A.q3ShippingPriority(spark, sf),
      "q5" -> A.q5LocalVolume(spark, sf),
      "q_top_suppliers" -> A.topSuppliers(spark, sf),
      "q7" -> A.q7NationVolume(spark, sf),
      "q8" -> A.q8MarketShare(spark, sf),
      "q9" -> A.q9ProfitByNation(spark, sf),
      "q10" -> A.q10ReturnedItems(spark, sf),
      "q12" -> A.q12PriorityShipping(spark, sf),
      "q13" -> A.q13CustomerDistribution(spark, sf),
      "q14" -> A.q14PromoRevenue(spark, sf),
      "q15" -> A.q15TopSupplier(spark, sf),
      "q17" -> A.q17SmallQuantityRevenue(spark, sf),
      "q18" -> A.q18LargeOrders(spark, sf),
      "q19" -> A.q19DiscountedRevenue(spark, sf),
      "q21" -> A.q21WaitingSuppliers(spark, sf),
      "q22" -> A.q22DormantCustomers(spark, sf),
      "q2" -> A.q2MinCostSupplier(spark, sf),
      "q11" -> A.q11ImportantStock(spark, sf),
      "q16" -> A.q16PartsSupplier(spark, sf),
      "q20" -> A.q20PotentialPromotion(spark, sf),
      "rollup" -> A.revenueRollup(spark, sf))
    val bounded = Set("nation.parquet", "region.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try queries.foreach { case (name, df) =>
      df.queryExecution.executedPlan.foreach {
        case b: BroadcastExchangeExec =>
          val globalAgg = b.exists {
            case h: HashAggregateExec => h.groupingExpressions.isEmpty
            case _ => false
          }
          val scans = b.collect { case f: FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.getName).mkString(",") }
          assert(globalAgg || scans.forall(s => bounded.exists(s.contains)),
            s"$name: forced broadcast reads a scale-variant relation ($scans):\n$b")
        case _ =>
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("dedup family: no forced BroadcastExchange reads the document corpus") {
    // Same policy as the TPC-H test, applied to the near-dup pipelines:
    // the doc→token-set dictionary is corpus-sized, so the exact-verify
    // attach must never force-broadcast it. With auto-broadcast off, any
    // BroadcastExchange left in these plans comes from a hint — and no
    // hint in the dedup family may cover a scan of documents.parquet.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // fresh threshold keys so the C2 pairs cache can't hand back a
      // DataFrame whose plan was already forced under the default conf
      val queries = Seq(
        "dedup_minhash_lsh" -> graft.dedup.Dedup.minhashLsh(spark, sf, threshold = 0.81),
        "dedup_ngram_jaccard" -> graft.dedup.Dedup.ngramJaccard(spark, sf, threshold = 0.81))
      queries.foreach { case (name, df) =>
        df.queryExecution.executedPlan.foreach {
          case b: BroadcastExchangeExec =>
            val scans = b.collect { case f: FileSourceScanExec =>
              f.relation.location.rootPaths.map(_.getName).mkString(",") }
            assert(scans.forall(!_.contains("documents.parquet")),
              s"$name: forced broadcast reads the document corpus ($scans):\n$b")
          case _ =>
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("pruned prefilter: permission predicate is PartitionFilters only, no doc-set join") {
    val df = graft.sources.Layouts.prefilterPruned(spark, sf, 1, 10)
    val plan = exec(df)
    assert(plan.contains("PartitionFilters") && plan.contains("partition_role"),
      s"pruned prefilter must prune role directories:\n$plan")
    // the whole point: NO accessible-doc set is computed or joined —
    // the only join in the plan is the 1-row query-vector broadcast
    assert(!plan.contains("LeftSemi") && !plan.contains("SortMergeJoin"),
      s"pruned prefilter must not join a doc set:\n$plan")
    val got = df.collect().map(_.getLong(0)).toSeq
    val exact = graft.rbac.Rbac.prefilterTopK(spark, sf, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, "partition-pruned prefilter must equal the broadcast prefilter")
  }

  test("q15: no unpartitioned Window funnels the supplier dimension") {
    val plan = exec(graft.operators.Analytics.q15TopSupplier(spark, sf))
    assert(!plan.contains("Window"),
      s"q15 must use the two-level max, not a global rank window:\n$plan")
  }

  test("dynamic partition search: routing is PartitionFilters, no doc-set broadcast") {
    val df = graft.rbac.Partitioned.dynamicPartitionTopK(spark, sf, 1, 10)
    val plan = exec(df)
    assert(plan.contains("PartitionFilters") && plan.contains("partition_id"),
      s"routed search must prune partition directories:\n$plan")
    // the partition doc sets never enter the plan — the only joins are
    // the 1-row query vector and the per-user accessible-doc semi-join
    // (bounded by the prefilter family's documented assumption); no
    // inner join attaching (partition_id, document_id) state remains
    assert(!plan.contains("SortMergeJoin"),
      s"routed search must not shuffle-join partition doc sets:\n$plan")
    val got = df.collect().map(_.getLong(0)).toSeq
    val exact = graft.rbac.Rbac.prefilterTopK(spark, sf, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact, "routed dynamic-partition search must equal the prefilter")
  }

  test("SQ8 encode scan stays inside whole-stage codegen") {
    val plan = exec(graft.ann.SqIndex.codes(spark, sf))
    // `*(n)` marks a WholeStageCodegen stage; the encode projection
    // must sit inside one, not in a fallback Project
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("sq8_encode")),
      s"sq8 encode fell out of codegen:\n$plan")
  }
}

class DeleteRollbackSpec extends AnyFunSuite {
  import SparkTest._
  import graft.sources.Layouts
  import org.apache.spark.sql.functions.col

  test("delete batch removes rows from affected partitions; rollback restores them exactly") {
    val out = java.nio.file.Files.createTempDirectory("graft_del").toString
    val path = Layouts.materializeRoleLayout(spark, sf, out)
    def snap() = spark.read.parquet(path)
      .selectExpr("partition_role", "block_id", "document_id")
      .collect().map(_.toSeq).toSet
    val pre = snap()
    val preSearch = Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    val victims = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 11 === 0)
      .select(col("doc_id").as("document_id"))
    Layouts.deleteBatch(spark, sf, path, victims, batchId = 42L)
    val mid = snap()
    assert(mid != pre, "delete batch must change the layout")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(!mid.exists(r => victimIds.contains(r(2).asInstanceOf[Long])),
      "no deleted document may survive in any partition")
    // re-run: idempotent, and must NOT clobber the undo log
    Layouts.deleteBatch(spark, sf, path, victims, batchId = 42L)
    assert(snap() == mid)
    // simulate the exact crash window the write-ahead log covers:
    // undo log complete (_SUCCESS present) but one partition never
    // swept — its victim rows still physically exist. Restore must be
    // idempotent: only actually-deleted rows come back, no duplicates.
    val preCount = pre.size
    val saved = spark.read.parquet(path + "/_deleted_batches/batch_42")
    val unswept = saved.select("partition_role").head().getLong(0)
    saved.filter(col("partition_role") === unswept).drop("partition_role")
      .write.mode("append").parquet(path + s"/partition_role=$unswept")
    Layouts.rollbackDelete(spark, path, 42L)
    assert(snap() == pre, "rollback must restore the pre-delete row set")
    assert(spark.read.parquet(path)
      .selectExpr("partition_role", "block_id", "batch_id").count() == preCount,
      "partial-sweep rollback must not duplicate surviving victim rows")
    assert(Layouts.prunedRoleSearch(spark, sf, path, 1, 10)
      .collect().map(_.getLong(0)).toSeq == preSearch)
    Layouts.rollbackDelete(spark, path, 42L) // consumed undo log: no-op
    assert(snap() == pre)
  }
}

class StreamingAsofSpec extends AnyFunSuite {
  import SparkTest._
  import graft.streaming.EventStream

  test("streaming as-of enrichment converges to the batch as-of join") {
    val q = EventStream.runToMemory(spark,
      EventStream.asofEnrichStream(spark, sf).toDF(), "g7asof")
    val streamed = spark.sql("SELECT event_id, prev_purchase_id FROM g7asof")
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    val batch = graft.operators.AsofJoin.eventsAsofPurchase(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("prev_purchase_id")
        .asInstanceOf[java.lang.Long]).map(_.longValue))
      .toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }
}

class StreamingSketchSpec extends AnyFunSuite {
  import SparkTest._
  import graft.streaming.{DocStream, EventStream}

  test("streaming reach sketch converges to the batch sketch (same registers, same estimate)") {
    EventStream.runToMemory(spark,
      EventStream.reachSketchStream(spark, sf).toDF(), "g8reach",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // Update mode emits a running row per (type, batch): keep the last
    // (n_events is monotone per type)
    val streamed = spark.sql("SELECT event_type, est_users, n_events FROM g8reach")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (t, rows) => t -> rows.map(_._2).maxBy(_._2) }
    val batch = graft.operators.Sketches.reachSketch(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.keySet == batch.keySet)
    // same lgK + HLL_8 + order-independent registers → identical estimate
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
  }

  test("streaming mixture gate equals the batch recipe and D12's sampler") {
    EventStream.runToMemory(spark, DocStream.mixtureGateStream(spark, sf), "g9mix")
    val streamed = spark.sql("SELECT doc_id, source FROM g9mix")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = DocStream.mixtureGateBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val d12 = graft.operators.Sampling.docsMixtureSample(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed == d12, "the in-stream recipe must be the D12 recipe")
    assert(streamed.nonEmpty && streamed.size < graft.Tables.documents(spark, sf).count())
  }

  test("streaming heavy-hitter state carries E44's guarantee with bounded state") {
    val m = 128
    EventStream.runToMemory(spark,
      EventStream.heavyHitterStream(spark, sf, m).toDF(), "g16hh",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // last emission per type (n_events monotone per type)
    val streamed = spark.sql("SELECT event_type, candidates, n_events FROM g16hh")
      .collect().map(r => (r.getString(0), (r.getSeq[Long](1).toSet, r.getLong(2))))
      .groupBy(_._1).map { case (t, rows) => t -> rows.map(_._2).maxBy(_._2) }
    val exact = graft.Tables.events(spark, sf)
      .groupBy("event_type", "user_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val totals = exact.groupBy(_._1._1).map { case (t, xs) => t -> xs.values.sum }
    streamed.foreach { case (t, (cands, nSeen)) =>
      assert(nSeen == totals(t), s"$t: stream saw $nSeen of ${totals(t)} events")
      assert(cands.size <= m, s"$t: state exceeded capacity: ${cands.size}")
      // the Misra-Gries guarantee after the full prefix: every true
      // heavy hitter is in the candidate state
      exact.foreach { case ((et, u), c) =>
        if (et == t && c > totals(t).toDouble / (m + 1))
          assert(cands.contains(u), s"stream lost heavy hitter ($t,$u,$c)")
      }
    }
    // exact-verify half (E44 phase 2) over the streamed candidates
    // reproduces the batch operator's rows
    val batch = graft.operators.Sketches.heavyHitters(spark, sf, m).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val verified = streamed.flatMap { case (t, (cands, _)) =>
      cands.toSeq.flatMap { u =>
        exact.get((t, u)).filter(_ > totals(t).toDouble / (m + 1)).map(c => (t, u, c))
      }
    }.toSet
    assert(verified == batch, s"stream-verified $verified vs batch $batch")
  }
}

class ApproxQuantileSpec extends AnyFunSuite {
  import SparkTest._

  test("approx quantiles stay within rank tolerance of the exact operator") {
    val exact = graft.operators.Analytics.valueQuantiles(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = graft.operators.Analytics.valueQuantilesApprox(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    // GK at accuracy 10000 on these group sizes is near-exact; allow a
    // small value tolerance scaled by each group's spread
    exact.foreach { case (t, (p50, p90)) =>
      assert(math.abs(approx(t)._1 - p50) <= math.max(0.05 * math.abs(p50), 0.5),
        s"$t p50: ${approx(t)._1} vs $p50")
      assert(math.abs(approx(t)._2 - p90) <= math.max(0.05 * math.abs(p90), 0.5),
        s"$t p90: ${approx(t)._2} vs $p90")
    }
  }
}

class RangeJoinSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions.col
  import graft.operators.RangeJoin

  test("bucketed interval join equals the brute inequality join; bucket width is semantics-free") {
    val ev = graft.Tables.events(spark, sf).select("event_id", "ts", "value")
    val windows = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("window_id"),
        (col("ts") - org.apache.spark.sql.functions.expr("INTERVAL 300 SECONDS")).as("w_start"),
        (col("ts") + org.apache.spark.sql.functions.expr("INTERVAL 300 SECONDS")).as("w_end"))
    def pairs(bucketMs: Long) =
      RangeJoin.pointsInIntervals(ev, "ts", windows, "w_start", "w_end", bucketMs)
        .select("event_id", "window_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = ev.crossJoin(windows)
      .filter(col("ts") >= col("w_start") && col("ts") <= col("w_end"))
      .select("event_id", "window_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(10 * 60 * 1000)
    assert(got.size == got.toSet.size, "each pair must appear exactly once")
    assert(got.toSet == brute)
    // a different chunk width must not change the result
    assert(pairs(97 * 1000).toSet == brute)
    // and the plan is an equi-join, not a nested loop
    val plan = RangeJoin.pointsInIntervals(ev, "ts", windows,
      "w_start", "w_end", 600000).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not plan a nested loop:\n$plan")
  }

  test("inverted intervals are dropped; pathological fan-out fails fast") {
    val sparkRef = spark; import sparkRef.implicits._
    val pts = Seq((1L, 100L)).toDF("pid", "ts")
    // end < start: DuckDB/SQL containment matches nothing — and without
    // the guard Spark's sequence() would build a DESCENDING bucket range
    val inverted = Seq((1L, 200L, 50L)).toDF("iid", "s", "e")
    assert(RangeJoin.pointsInIntervals(pts, "ts", inverted, "s", "e", 1000L).count() == 0)
    // an interval spanning > maxBucketsPerInterval buckets must raise,
    // not silently explode rows
    val huge = Seq((1L, 0L, 10000000L)).toDF("iid", "s", "e")
    val e = intercept[Exception] {
      RangeJoin.pointsInIntervals(pts, "ts", huge, "s", "e",
        bucketMs = 1000L, maxBucketsPerInterval = 64L).count()
    }
    assert(e.getMessage != null)
  }
}

class ZOrderSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions._
  import graft.sources.Layouts

  test("z-order layout prunes on BOTH dimensions where a single sort prunes one") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("double").as("t"), col("value"))
    val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val zPath = Layouts.zorderWrite(spark, ev, "t", "value", s"$out/z", 16)
    ev.repartitionByRange(16, col("t")).sortWithinPartitions("t")
      .write.mode("overwrite").parquet(s"$out/linear")
    val r = ev.agg(min("t"), max("t"), min("value"), max("value")).head()
    val (tLo, tHi, vLo, vHi) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    // per-file normalized widths: z-order bounds BOTH dimensions, the
    // single-column sort leaves the second dimension unpruned (~1)
    def widths(path: String): (Double, Double) = {
      val w = spark.read.parquet(path)
        .select(input_file_name().as("f"), col("t"), col("value"))
        .groupBy("f")
        .agg(((max("t") - min("t")) / (tHi - tLo)).as("wt"),
          ((max("value") - min("value")) / (vHi - vLo)).as("wv"))
        .agg(avg("wt"), avg("wv")).head()
      (w.getDouble(0), w.getDouble(1))
    }
    val (ztW, zvW) = widths(zPath)
    val (ltW, lvW) = widths(s"$out/linear")
    assert(ztW < 0.5 && zvW < 0.5,
      s"z-order must bound both dims: t=$ztW value=$zvW")
    // (~125 rows/file at sf0.001: the sampled per-file range sits below
    // the full span, so the comparison is relative, not absolute)
    assert(lvW > 2 * zvW,
      s"linear layout must leave value far wider than z-order: $lvW vs $zvW")
    // a predicate on the SECOND dimension alone: the sorted layout
    // touches every file, the z-ordered layout skips most
    def filesTouched(path: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(input_file_name()).distinct().count()
    val band = col("value").between(vLo + 0.45 * (vHi - vLo), vLo + 0.55 * (vHi - vLo))
    val (zf, lf) = (filesTouched(zPath, band), filesTouched(s"$out/linear", band))
    assert(lf >= 12, s"sanity: a value band hits nearly every t-sorted file: $lf")
    assert(zf <= lf / 2, s"z-order must skip most files on a value band: z=$zf linear=$lf")
  }
}

class SaltedJoinSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions._
  import graft.operators.Salted

  test("salted join equals the plain join and keys the shuffle on (key, salt)") {
    val ev = graft.Tables.events(spark, sf).select("event_id", "event_type", "value")
    val dim = ev.groupBy("event_type").agg(avg("value").as("type_avg"))
    val plain = ev.join(dim, "event_type")
      .select("event_id", "type_avg")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val saltedRows = Salted.saltedJoin(ev, dim, "event_type", "event_id", 8)
      .select("event_id", "type_avg")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    // every event appears exactly once (each big row meets ONE dim
    // copy) — asserted on ROW COUNT before any Map collapse, so a
    // regression that fans rows out 8x cannot slip through
    assert(saltedRows.length == ev.count())
    assert(saltedRows.toMap == plain)
    // the join key carries the salt: with auto-broadcast off, the
    // exchange partitions on (event_type, __salt), not event_type alone
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Salted.saltedJoin(ev, dim, "event_type", "event_id", 8)
        .queryExecution.executedPlan.toString
      val saltKeyed = plan.linesIterator.exists(l =>
        (l.contains("Exchange hashpartitioning") || l.contains("SortMergeJoin") ||
          l.contains("ShuffledHashJoin")) && l.contains("__salt"))
      assert(saltKeyed, s"salt must reach the join/exchange KEYS:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
  }
}

class ChunkSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions.col

  test("chunking covers every token, honors stride/width, and reassembles the doc") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val chunks = graft.text.TextOps.chunkDocuments(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    chunks.groupBy(_._1).foreach { case (docId, cs) =>
      val words = docs(docId)
      val sorted = cs.sortBy(_._2)
      // ids are dense from 0, starts follow the stride
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, cid, start, text) =>
        assert(start == cid * 48)
        val expect = words.slice(start.toInt, math.min(start.toInt + 64, words.length))
        assert(text == expect.mkString(" "), s"doc $docId chunk $cid")
      }
      // full coverage: last chunk reaches the doc's end
      val (_, _, lastStart, lastText) = sorted.last
      assert(lastStart + lastText.split(" ", -1).length == words.length)
      assert(lastStart < words.length)
    }
    assert(chunks.map(_._1).toSet == docs.keySet)
  }
}

class GroupedKMeansSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions._
  import graft.ann.GroupedKMeans

  test("one-job grouped k-means covers every role, k cells each, and SSE never increases") {
    val points = GroupedKMeans.rolePoints(spark, sf).persist()
    val roles = points.select("group").distinct().count()
    val c0 = GroupedKMeans.fit(points, k = 4, iters = 0)
    val c2 = GroupedKMeans.fit(points, k = 4, iters = 2)
    assert(c2.groupBy("group").count().collect()
      .forall(_.getLong(1) == 4), "every role must get k centroids")
    assert(c2.select("group").distinct().count() == roles)
    val sse0 = GroupedKMeans.sse(points, c0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sse2 = GroupedKMeans.sse(points, c2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sse0.keySet == sse2.keySet)
    // Lloyd iterations must not worsen any group's clustering, and
    // must strictly improve in aggregate
    sse0.foreach { case (g, s0) =>
      assert(sse2(g) <= s0 * (1 + 1e-9), s"group $g: ${sse2(g)} > $s0") }
    assert(sse2.values.sum < sse0.values.sum * 0.95,
      s"expected aggregate SSE improvement: ${sse2.values.sum} vs ${sse0.values.sum}")
    // report covers (role, cell) with full corpus accounted for
    val report = GroupedKMeans.partitionIndexBuild(spark, sf)
    assert(report.agg(sum("n_vectors")).head().getLong(0) == points.count())
    // realistic iteration counts: lineage is bounded (the returned
    // frame is a LOCAL relation — constant plan depth at any iters,
    // work linear in iters), and more Lloyd steps never worsen SSE
    val c10 = GroupedKMeans.fit(points, k = 4, iters = 10)
    assert(c10.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName.contains("LocalRelation")),
      "fit must return a localized (lineage-free) centroid frame")
    val sse10 = GroupedKMeans.sse(points, c10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sse2.foreach { case (g, s2) =>
      assert(sse10(g) <= s2 * (1 + 1e-9), s"group $g: iters=10 ${sse10(g)} > iters=2 $s2") }
    points.unpersist()
  }
}

class RecallModelSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.{GroupedKMeans, IvfIndex, RecallModel}

  test("measured curve is monotone and saturates; fit inverts to a working nprobe pick") {
    val c = RecallModel.measure(spark, sf, cells = 16, k = 10)
    val rs = c.points.map(_._2)
    assert(rs.zip(rs.tail).forall { case (a, b) => b >= a - 1e-12 },
      s"recall must be non-decreasing in nprobe: $rs")
    assert(math.abs(rs.last - 1.0) < 1e-9,
      "probing every cell must capture every exact neighbor")
    // the fitted saturating curve tracks the measurement well enough
    // to pick probes from (coarse bound — it is a 2-parameter model)
    val maxErr = c.points.map { case (p, r) => math.abs(c.predict(p) - r) }.max
    assert(maxErr < 0.25, s"fit diverges from measurement: $maxErr")
    // inversion: the pick meets its target on the MEASURED curve within
    // the model's error, and a higher target never picks fewer probes
    val p90 = c.nprobeFor(0.9)
    assert(c.points(p90 - 1)._2 >= 0.9 - maxErr)
    assert(c.nprobeFor(0.99) >= p90)
  }

  test("model-driven probe paths reach at least the fixed-nprobe recall") {
    val exact = graft.ann.Ann.bruteForceL2TopK(spark, sf, 10)
      .collect().map(_.getLong(0)).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.collect().map(_.getLong(0)).toSet.intersect(exact).size / 10.0
    val fixed = recallOf(IvfIndex.search(spark, sf, k = 16, nprobe = 4))
    val model = recallOf(RecallModel.searchAtTarget(spark, sf, 0.9))
    assert(model >= fixed || model >= 0.9,
      s"model-driven recall $model must not fall below the fixed-nprobe path $fixed")
    // B21: per-role mini-IVF with the model-picked probe depth vs the
    // old constant nprobe=2
    val pExact = graft.rbac.Rbac.prefilterTopK(spark, sf, 1, 10)
      .collect().map(_.getLong(0)).toSet
    val fixedRole = GroupedKMeans.partitionIvfTopK(spark, sf, 1, 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet.intersect(pExact).size / 10.0
    val modelRole = GroupedKMeans.partitionIvfTopKModel(spark, sf, 1, 10, targetRecall = 0.9)
      .collect().map(_.getLong(0)).toSet.intersect(pExact).size / 10.0
    assert(modelRole >= fixedRole || modelRole >= 0.9,
      s"B21 model-driven recall $modelRole below fixed-nprobe $fixedRole")
    // B12: the predicate-aware search still returns k accessible rows
    // when its starting probe comes from the model
    assert(IvfIndex.predicateAwareSearchModel(spark, sf, 1).count() == 10)
  }

  test("cost frontier: scan fraction grows monotonically to 1, recall matches the curve") {
    val rows = RecallModel.costFrontier(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.length == 16)
    val fracs = rows.map(_._2)
    assert(fracs.zip(fracs.tail).forall { case (a, b) => b >= a },
      s"scan fraction must be non-decreasing: ${fracs.toSeq}")
    assert(math.abs(fracs.last - 1.0) < 1e-9,
      "probing every cell scans the whole corpus")
    val curve = RecallModel.measure(spark, sf).points.toMap
    rows.foreach { case (p, _, r) =>
      assert(math.abs(r - math.round(curve(p) * 10000) / 10000.0) < 1e-9) }
  }
}

class HierarchySpec extends AnyFunSuite {
  import SparkTest._
  import graft.rbac.{Hierarchy, Rbac}

  test("role closure equals the brute-force subtree expansion") {
    // independent model of the derived tree: walk every role up to the
    // root; (a, r) is in the closure iff a is on r's ancestor chain
    val n = Rbac.NumRoles
    val closure = Hierarchy.roleClosure(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      r <- 0L until n.toLong
      anc <- (Iterator.iterate(r)(_ / 2).takeWhile(_ > 0).toSeq :+ 0L).distinct
    } yield (anc, r)).toSet
    assert(closure == brute, s"closure mismatch: ${closure.diff(brute)} / ${brute.diff(closure)}")
  }

  test("hierarchy access contains flat access; topk is drawn from the expanded set") {
    val flat = Rbac.accessibleDocs(spark, sf, 7)
      .collect().map(_.getLong(0)).toSet
    val hier = Hierarchy.accessibleDocs(spark, sf, 7)
      .collect().map(_.getLong(0)).toSet
    assert(flat.subsetOf(hier),
      "reflexive closure: hierarchy access must contain the flat access set")
    assert(hier.size > flat.size,
      "user 7's subtree must add descendant-role grants beyond the held roles")
    val topk = graft.rbac.Hierarchy.hierarchyTopK(spark, sf, 7, 10)
      .collect().map(_.getLong(1)).toSet
    assert(topk.subsetOf(hier))
    assert(topk.size == 10)
  }

  test("DAG closure equals brute-force multi-parent reachability and exceeds the tree's") {
    val n = Rbac.NumRoles
    // independent model: parents(r) = {r/2} ∪ {r/2 − 1 if r even ∧ r ≥ 4}
    def parents(r: Long): Seq[Long] =
      if (r == 0) Seq.empty
      else if (r >= 4 && r % 2 == 0) Seq(r / 2, r / 2 - 1) else Seq(r / 2)
    def ancestors(r: Long): Set[Long] = {
      var acc = Set(r); var frontier = Set(r)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(parents).diff(acc)
        acc ++= frontier
      }
      acc
    }
    val brute = (for { r <- 0L until n.toLong; a <- ancestors(r) } yield (a, r)).toSet
    val dag = Hierarchy.dagClosure(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dag == brute, s"dag closure mismatch: ${dag.diff(brute)} / ${brute.diff(dag)}")
    val tree = Hierarchy.roleClosure(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tree.subsetOf(dag) && dag.size > tree.size,
      "shared subtrees must add reachability beyond the tree")
  }

  test("DAG access contains tree access; topk drawn from the DAG set") {
    val tree = Hierarchy.accessibleDocs(spark, sf, 7).collect().map(_.getLong(0)).toSet
    val dag = Hierarchy.dagAccessibleDocs(spark, sf, 7).collect().map(_.getLong(0)).toSet
    assert(tree.subsetOf(dag), "DAG closure is a superset of the tree closure")
    assert(dag.size > tree.size,
      "user 7 holds role 2, whose second-parent edge to role 6 must add grants")
    val topk = Hierarchy.dagTopK(spark, sf, 7, 10).collect().map(_.getLong(1)).toSet
    assert(topk.subsetOf(dag) && topk.size == 10)
  }

  test("hierarchy selectivity dominates flat selectivity; root-holders reach everything") {
    val flat = Rbac.selectivityStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val hier = Hierarchy.selectivityStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(hier.keySet == flat.keySet)
    flat.foreach { case (u, s) =>
      assert(hier(u) >= s - 1e-9, s"user $u: hierarchy ${hier(u)} < flat $s") }
    // a user holding role 0 (the root) reaches the whole corpus
    val rootHolder = Rbac.userRoles(spark, sf)
      .filter(org.apache.spark.sql.functions.col("role_id") === 0)
      .head().getLong(0)
    assert(math.abs(hier(rootHolder) - 1.0) < 1e-9,
      s"root-holder $rootHolder must reach everything: ${hier(rootHolder)}")
  }

  test("hierarchy cost-model layout: full-corpus combs stay shared, structure differs from flat") {
    import org.apache.spark.sql.functions.col
    val n0 = graft.Tables.embeddings(spark, sf).count()
    val hier = Hierarchy.costModelLayout(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getInt(3)))
    // every effective comb appears exactly once
    val combs = Hierarchy.effectiveUserRoles(spark, sf)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.concat_ws(",",
        org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_set(col("role_id")))).as("ck"))
      .select("ck").distinct().count()
    assert(hier.length == combs)
    // a comb reaching the WHOLE corpus has zero split benefit
    // (ln(N/n) = 0) and must stay in the shared partition 0
    hier.filter(_._2 == n0).foreach { case (ck, _, pid) =>
      assert(pid == 0, s"full-corpus comb $ck must not get a dedicated partition") }
    // and the distribution is genuinely different from the flat one
    val flat = graft.rbac.Partitioned.costModelLayout(spark, sf).collect()
      .map(_.getString(0)).toSet
    assert(hier.map(_._1).toSet != flat,
      "hierarchy combs must differ from flat combs")
  }
}

class PartitionIvfSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.GroupedKMeans

  test("per-role mini-IVF probe: lossless at full probe, useful recall at nprobe=2") {
    val exact = graft.rbac.Rbac.prefilterTopK(spark, sf, 1, 10)
      .collect().map(_.getLong(0)).toSeq
    // probing EVERY cell (nprobe = k, stated explicitly so a k change
    // can't silently turn this into a half-probe) = prefilter
    val full = GroupedKMeans.partitionIvfTopK(spark, sf, 1, 10, k = 4, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact, "full probe must equal the prefilter result")
    val probed = GroupedKMeans.partitionIvfTopK(spark, sf, 1, 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = probed.intersect(exact.toSet).size / 10.0
    assert(recall >= 0.5, s"nprobe=2 recall too low: $recall")
  }
}

class FunnelRetentionSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Analytics

  test("funnel stages are strictly ordered (out-of-order steps don't count)") {
    val sparkRef = spark; import sparkRef.implicits._
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    // Tables.events reads the driver's int64-nanosecond encoding
    def t(min: Long): Long = min * 60L * 1000000000L
    // u1: full ordered funnel; u2: click BEFORE first view (stage 1);
    // u3: purchase before click (stage 2); u4: no view at all (absent)
    Seq(
      (1L, t(600), 1L, "view", 0.0, "{}"),
      (2L, t(601), 1L, "click", 0.0, "{}"),
      (3L, t(602), 1L, "purchase", 0.0, "{}"),
      (4L, t(540), 2L, "click", 0.0, "{}"),
      (5L, t(600), 2L, "view", 0.0, "{}"),
      (6L, t(600), 3L, "view", 0.0, "{}"),
      (7L, t(599), 3L, "purchase", 0.0, "{}"),
      (8L, t(630), 3L, "click", 0.0, "{}"),
      (9L, t(600), 4L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.eventsFunnel(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 2L), s"got $got")
  }

  test("retention triangle: offset 0 covers every user once per cohort") {
    val rows = Analytics.eventsRetention(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // every cohort has an offset-0 row (the first-activity day itself)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      assert(rs.exists(_._2 == 0L), s"cohort $c missing offset 0")
      // no offset can count more users than the cohort's day-0 count
      val day0 = rs.find(_._2 == 0L).get._3
      rs.foreach { case (_, off, n) =>
        assert(n <= day0, s"cohort $c offset $off: $n > day0 $day0") }
    }
    // total day-0 users = all users (everyone belongs to exactly one cohort)
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum == users)
  }
}

class ScrubSpec extends AnyFunSuite {
  import SparkTest._
  import graft.text.TextOps

  test("PII presets find and redact planted emails, IPs and phones") {
    val sparkRef = spark; import sparkRef.implicits._
    val docs = Seq(
      (1L, "contact alice@example.com or bob.smith+x@mail.co.uk today"),
      (2L, "server at 10.0.255.7 and backup at 192.168.1.1"),
      (3L, "call +1 555 123 4567 or 020-7946-0958 now"),
      (4L, "clean text with no sensitive content at all"))
      .toDF("doc_id", "text")
    val got = TextOps.patternScrub(docs, TextOps.piiPatterns).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L)._1 == 2, s"emails: ${got(1L)}")
    assert(got(2L)._2 == 2, s"ips: ${got(2L)}")
    assert(got(3L)._3 == 2, s"phones: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, 0L, 43L)), s"clean doc changed: ${got(4L)}")
    // redaction really shrinks the scrubbed length for every PII doc
    Seq(1L, 2L, 3L).foreach { id =>
      val orig = docs.filter(col("doc_id") === id).head().getString(1).length
      assert(got(id)._4 < orig, s"doc $id not redacted")
    }
  }

  test("scrub chains replacements in order; counts read the original text") {
    val sparkRef = spark; import sparkRef.implicits._
    val docs = Seq((1L, "aa bb aa")).toDF("doc_id", "text")
    // replacement chain: "aa bb aa" -> "[X] bb [X]" -> "[X] [X]" (7
    // chars) — the second pattern only matches the FIRST pattern's
    // output, proving the chain; match counts run on the original
    // text, so the second pattern counts 0 there
    val r = TextOps.patternScrub(docs, Seq("a" -> "aa", "x" -> "\\[X\\] bb"))
      .head()
    assert(r.getLong(1) == 2 && r.getLong(2) == 0 && r.getLong(3) == 7,
      s"${r.toSeq}")
  }
}

class SubstringDedupSpec extends AnyFunSuite {
  import SparkTest._
  import graft.dedup.Dedup

  test("duplicated spans: planted duplicate windows merge into maximal runs") {
    val sparkRef = spark; import sparkRef.implicits._
    val dir = java.nio.file.Files.createTempDirectory("subdup").toString
    val shared = (1 to 9).map(i => s"tok$i").mkString(" ") // 9 shared words
    val docs = Seq(
      (1L, s"alpha $shared omega"),
      (2L, s"$shared beta gamma delta"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("srcX"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.substringSpans(spark, dir, w = 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    // doc1: shared block at positions 1..9 → windows start at 1..4 (4
    // windows), one run covering words 1..9 (9 words of 11)
    assert(got(1L) == ((4L, 9L, 11L, math.rint(9.0 / 11 * 10000) / 10000)), s"${got(1L)}")
    // doc2: same block at positions 0..8 → 4 windows, 9 of 12 words
    assert(got(2L) == ((4L, 9L, 12L, 0.75)), s"${got(2L)}")
    assert(!got.contains(3L), "unique doc must not appear")
  }

  test("two-phase hash+verify equals a direct string-only formulation") {
    import org.apache.spark.sql.expressions.Window
    val w = 6
    val docs = graft.Tables.documents(spark, sf)
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_words"),
        posexplode(transform(sequence(lit(0), size(col("ws")) - w),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(w))))))
      .toDF("doc_id", "n_words", "pos", "gram")
    // single-phase: group by the literal string only (no hash prefilter)
    val sharedGrams = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd")).filter(col("nd") > 1).select("gram")
    val marked = grams.join(sharedGrams, Seq("gram"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val direct = marked
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("newrun",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("run", sum("newrun").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "n_words", "run")
      .agg(count(lit(1)).as("nw"), (max("pos") + w - min("pos")).as("cov"))
      .groupBy("doc_id", "n_words")
      .agg(sum("nw").as("n_dup_windows"), sum("cov").as("covered_words"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val twoPhase = Dedup.substringSpans(spark, sf, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(twoPhase == direct, "hash-prefiltered result diverged from string-only")
  }
}

class DsirSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Sampling

  test("DSIR weights rank target-vocabulary docs above off-target docs") {
    val sparkRef = spark; import sparkRef.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    val target = "alpha beta gamma delta alpha beta gamma delta"
    Seq(
      (1L, target, "src0"),                          // the target defn
      (2L, "alpha beta gamma delta alpha beta", "srcA"), // target-like
      (3L, "zeta eta theta iota kappa lambda", "srcA"))  // off-target
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Sampling.dsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(2L, 3L), s"only pool docs scored: $got")
    assert(got(2L) > got(3L),
      s"target-like doc must outscore off-target: $got")
    assert(got(2L) > 0 && got(3L) < 0,
      s"signs must separate target-like from off-target: $got")
  }
}

class CdcSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Cdc

  test("upsert apply: LWW, deletes, inserts, untouched base") {
    val got = Cdc.docsUpsert(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    val baseIds = graft.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    baseIds.foreach { id =>
      if (id % 7 == 0) assert(!got.contains(id), s"doc $id not deleted")
      else if (id % 10 == 0) assert(got(id)._2 == 2L, s"doc $id LWW lost: ${got(id)}")
      else if (id % 5 == 0) assert(got(id)._2 == 1L, s"doc $id not updated")
      else assert(got(id)._2 == 0L, s"untouched doc $id got version ${got(id)}")
      if (id % 11 == 0)
        assert(got(id + 10000000L) == (("cdc", 1L)), s"insert for $id missing")
    }
    // updated docs really carry the winning text (length grew by the tag)
    val lens = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Cdc.docsUpsert(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    baseIds.filter(id => id % 5 == 0 && id % 7 != 0).foreach { id =>
      assert(n(id) == lens(id) + 3, s"doc $id length: ${n(id)} vs base ${lens(id)}")
    }
  }

  test("upsert apply is idempotent on the final state") {
    import graft.Tables
    val base = Tables.documents(spark, sf).select("doc_id", "text", "lang", "source")
    val ch = Cdc.changesOf(base)
    val once = Cdc.upsertApply(base, ch, "doc_id")
    // re-apply to the merged state (drop version to restore base shape)
    val twice = Cdc.upsertApply(once.drop("version"), ch, "doc_id")
    val a = once.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val b = twice.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(a == b, "second apply changed the state")
  }

  test("G10 streaming CDC fold equals the batch LWW winner per key") {
    import graft.streaming.{DocStream, EventStream}
    import org.apache.spark.sql.streaming.OutputMode
    EventStream.runToMemory(spark,
      DocStream.cdcApplyStream(spark, sf), "g10cdc", OutputMode.Update)
    // Update-mode memory sink appends each emission; keep the LAST per key
    val stream = spark.sql("SELECT * FROM g10cdc").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    val batch = DocStream.cdcApplyBatch(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(stream == batch, "stream state diverged from batch LWW")
  }
}

class OutlierShuffleSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.{Analytics, Sampling}

  test("outlier fences catch planted extremes and only extremes") {
    val rows = Analytics.eventsOutliers(spark, sf).collect()
    // every reported row really violates its own reported fence
    rows.foreach { r =>
      val (v, lo, hi, side) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getString(5))
      assert(v < lo || v > hi, s"row $r inside fences")
      assert(side == (if (v < lo) "low" else "high"), s"side mislabeled: $r")
    }
    // fences are per-type: non-outliers all sit inside their fences
    val fenced = rows.map(r => r.getString(1) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    val flagged = rows.map(_.getLong(0)).toSet
    graft.Tables.events(spark, sf)
      .select("event_id", "event_type", "value").collect()
      .filter(r => !r.isNullAt(2) && fenced.contains(r.getString(1)))
      .filterNot(r => flagged(r.getLong(0)))
      .foreach { r =>
        val (lo, hi) = fenced(r.getString(1))
        val v = r.getDouble(2)
        assert(v >= lo && v <= hi, s"unflagged outlier: $r vs [$lo,$hi]")
      }
  }

  test("corpus shuffle is a deterministic permutation that scatters sources") {
    val rows = Sampling.corpusShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = rows.length
    assert(rows.map(_._2).sorted.toSeq == (0L until n).toSeq,
      "positions are not a 0..n-1 permutation")
    val again = Sampling.corpusShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.toMap == again.toMap, "shuffle not deterministic")
    // a different seed produces a different order
    val other = Sampling.corpusShuffle(spark, sf, seed = 7L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.exists { case (id, p) => other(id) != p }, "seed ignored")
    // doc_id order and shuffle order decorrelate: the first 10% of
    // positions must not be the first 10% of ids
    val firstTenth = rows.toMap.collect { case (id, p) if p < n / 10 => id }
    assert(firstTenth.count(_ < n / 10) < n / 20, "shuffle preserved id order")
  }
}

class IvmSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Ivm

  test("incremental merge equals full recompute, including retractions") {
    import graft.Tables
    val orders = Tables.orders(spark, sf)
    // phase 1: insert delta (the query's own path)
    val inc = graft.operators.Ivm.revenueIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val full = orders.groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 4).as("r"), count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // tolerance, not equality: the split partial sums associate floats
    // differently than the single full sum, so a revenue sitting within
    // an ulp of a 0.00005 boundary can legitimately round differently
    assert(inc.keySet == full.keySet, "insert merge key set diverged")
    inc.foreach { case (k, (r, n)) =>
      assert(n == full(k)._2, s"cust $k count: $n vs ${full(k)._2}")
      assert(math.abs(r - full(k)._1) < 1e-6, s"cust $k sum: $r vs ${full(k)._1}")
    }
    // phase 2: retract the same 10% back out — state must equal the base
    val base = orders.filter(col("o_orderkey") % 10 =!= 0)
    val delta = orders.filter(col("o_orderkey") % 10 === 0)
    val state0 = orders.groupBy("o_custkey").agg(
      sum(col("o_totalprice")).as("m_sum"), count(lit(1)).as("n"))
    val retracted = Ivm.mergeAggState(state0,
      Ivm.deltaAgg(delta.withColumn("weight", lit(-1L)), "o_custkey", "o_totalprice"),
      "o_custkey")
    val got = retracted.select(col("o_custkey"), round(col("m_sum"), 4), col("n"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val want = base.groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 4).as("r"), count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got.keySet == want.keySet, "vanished/extra groups after retraction")
    got.foreach { case (k, (r, n)) =>
      assert(n == want(k)._2, s"cust $k count: $n vs ${want(k)._2}")
      assert(math.abs(r - want(k)._1) < 1e-6, s"cust $k sum: $r vs ${want(k)._1}")
    }
    // a customer whose ONLY orders were retracted must vanish entirely
    val onlyDelta = orders.groupBy("o_custkey").agg(
      sum(when(col("o_orderkey") % 10 =!= 0, 1L).otherwise(0L)).as("nb"))
      .filter(col("nb") === 0).select("o_custkey").collect().map(_.getLong(0))
    onlyDelta.foreach(k => assert(!got.contains(k), s"cust $k should have vanished"))
  }
}

class FileStatsSpec extends AnyFunSuite {
  import SparkTest._
  import graft.sources.FileStats

  test("skipping scan prunes files on a clustered layout, results exact") {
    val dir = java.nio.file.Files.createTempDirectory("fstats").toString
    val table = s"$dir/events_by_value"
    // clustered layout: range-sorted by value -> tight per-file envelopes
    graft.Tables.events(spark, sf)
      .select("event_id", "event_type", "value")
      .filter(col("value").isNotNull)
      .repartitionByRange(8, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").parquet(table)
    FileStats.writeSidecar(spark, table, "value")
    // the table reads back identically with the sidecar in place
    // (underscore paths are invisible to parquet discovery)
    val n = spark.read.parquet(table).count()
    assert(n == graft.Tables.events(spark, sf).filter(col("value").isNotNull).count())
    // narrow band: prunes most files, rows identical to the full scan
    val vals = spark.read.parquet(table).select("value")
      .collect().map(_.getDouble(0)).sorted
    val (lo, hi) = (vals(vals.length / 3), vals(vals.length / 3 + vals.length / 20))
    val (pruned, matched, total) = FileStats.skippingScan(spark, table, "value", lo, hi)
    assert(total == 8, s"expected 8 files, saw $total")
    assert(matched <= 2, s"narrow band should touch <=2 of 8 files, touched $matched")
    val got = pruned.select("event_id").collect().map(_.getLong(0)).toSet
    val want = spark.read.parquet(table)
      .filter(col("value") >= lo && col("value") <= hi)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want, "pruned scan diverged from full scan")
    // empty band short-circuits to zero files and zero rows
    val (empty, m0, _) = FileStats.skippingScan(spark, table, "value",
      vals.last + 1, vals.last + 2)
    assert(m0 == 0 && empty.count() == 0)
  }

  test("stats only ever remove provably-empty files (unclustered safety)") {
    val dir = java.nio.file.Files.createTempDirectory("fstats2").toString
    val table = s"$dir/events_unclustered"
    // unclustered: round-robin layout, every file spans ~the full range
    graft.Tables.events(spark, sf)
      .select("event_id", "value").filter(col("value").isNotNull)
      .repartition(6)
      .write.mode("overwrite").parquet(table)
    FileStats.writeSidecar(spark, table, "value")
    val vals = spark.read.parquet(table).select("value")
      .collect().map(_.getDouble(0)).sorted
    val (lo, hi) = (vals(vals.length / 2), vals(vals.length / 2 + 50))
    val (pruned, matched, total) = FileStats.skippingScan(spark, table, "value", lo, hi)
    // overlapping envelopes: skipping degrades to ~full scan but NEVER
    // changes results
    assert(matched == total, "unclustered files all overlap a central band")
    val got = pruned.select("event_id").collect().map(_.getLong(0)).toSet
    val want = spark.read.parquet(table)
      .filter(col("value") >= lo && col("value") <= hi)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }
}

class AudioStreamGateSpec extends AnyFunSuite {
  import SparkTest._
  import graft.multimodal.Multimodal

  test("audio DSP recovers known sine-wave features") {
    val sparkRef = spark; import sparkRef.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    // 1 kHz sine at 8 kHz, amplitude 0.5, one second — RMS = A/sqrt(2),
    // ZCR = 2 crossings per cycle = 2f/fs, peak = A (8-bit quantized)
    val fs = 8000; val f = 1000; val amp = 0.5; val n = 8000
    val bb = ByteBuffer.allocate(44 + n).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(fs).putInt(fs)
      .putShort(1).putShort(8).put("data".getBytes("US-ASCII")).putInt(n)
    (0 until n).foreach { i =>
      val x = amp * math.sin(2 * math.Pi * f * i / fs)
      bb.put((math.round(x * 128) + 128).min(255).max(0).toByte)
    }
    val media = Seq(Multimodal.MediaRow(1L, "audio", bb.array())).toDS()
    val ftr = Multimodal.audioFeaturesOf(spark, media).head()
    assert(ftr.n_samples == n && ftr.sample_rate == fs)
    assert(math.abs(ftr.duration_s - 1.0) < 1e-9)
    assert(math.abs(ftr.rms - amp / math.sqrt(2)) < 0.01, s"rms ${ftr.rms}")
    assert(math.abs(ftr.zcr - 2.0 * f / fs) < 0.01, s"zcr ${ftr.zcr}")
    assert(math.abs(ftr.peak - amp) < 0.01, s"peak ${ftr.peak}")
    // silence: all features zero, no NaN
    val silence = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    silence.put(bb.array(), 0, 40).putInt(0)
    val s0 = Multimodal.audioFeaturesOf(spark,
      Seq(Multimodal.MediaRow(2L, "audio", silence.array())).toDS()).head()
    assert(s0.n_samples == 0 && s0.rms == 0.0 && s0.zcr == 0.0 && s0.peak == 0.0)
  }

  test("corpus audio features are finite and bounded") {
    val rows = Multimodal.audioFeatures(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.rms >= 0 && r.rms <= 1 && !r.rms.isNaN, s"rms ${r.rms}")
      assert(r.zcr >= 0 && r.zcr <= 1, s"zcr ${r.zcr}")
      assert(r.peak >= r.rms - 1e-12, s"peak ${r.peak} < rms ${r.rms}")
      assert(r.sample_rate == 8000 && r.duration_s > 0)
    }
  }

  test("G11 streaming outlier gate flags exactly the batch E41 rows") {
    import graft.streaming.EventStream
    EventStream.runToMemory(spark, EventStream.outlierStream(spark, sf), "g11out")
    val stream = spark.sql("SELECT event_id, side FROM g11out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = graft.operators.Analytics.eventsOutliers(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(stream == batch, s"stream ${stream.size} rows vs batch ${batch.size}")
  }
}

class PcaSpec extends AnyFunSuite {
  import SparkTest._
  import graft.ann.Pca

  test("PCA build: spectrum ordered, ratios bounded, PC1 beats every axis") {
    val m = Pca.model(spark, sf, 16)
    val rows = Pca.pcaBuild(spark, sf, 16).collect()
    assert(rows.length == 16)
    val eig = rows.map(_.getDouble(1))
    eig.sliding(2).foreach { case Array(a, b) => assert(a >= b - 1e-9, "spectrum not sorted") }
    assert(eig.forall(_ >= 0))
    val cum = rows.map(_.getDouble(3))
    assert(cum.last <= 1.0 + 1e-9 && cum.sliding(2).forall { case Array(a, b) => b >= a - 1e-12 })
    // PC1 maximizes variance over ALL unit vectors, in particular axes
    val axisVar = (0 until m.d).map(i => {
      // per-axis variance from the model's own covariance diagonal is
      // not exposed; recompute from data
      val vals = graft.Tables.embeddings(spark, sf)
        .select(col("embedding").getItem(i).cast("double")).collect().map(_.getDouble(0))
      val mu = vals.sum / vals.length
      vals.map(v => (v - mu) * (v - mu)).sum / vals.length
    }).max
    assert(m.eigenvalues(0) >= axisVar - 1e-6,
      s"PC1 ${m.eigenvalues(0)} < best axis $axisVar")
    // components are orthonormal
    val comps = m.components
    for (i <- comps.indices; j <- i until comps.length) {
      val d = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-4, s"comp ${i}x${j} = $d")
    }
  }

  test("full-rank projection is lossless; truncated projection recalls >=0.8") {
    import graft.ann.Ann
    val exact = Ann.bruteForceL2TopK(spark, sf, 10).collect()
      .map(_.getLong(0)).toSet
    // k' = d: pure rotation, projected order IS the exact order — the
    // shortlist equals k and must reproduce brute force exactly
    val d = Pca.model(spark, sf, 16).d
    val lossless = Pca.pcaTopK(spark, sf, k = 10, kPrime = d, shortlist = 10)
      .collect().map(_.getLong(0)).toSet
    assert(lossless == exact, s"full-rank projection lost neighbors: $lossless vs $exact")
    // k' = 32 of 64 with a 5x shortlist: high recall at half kernel cost
    val approx = Pca.pcaTopK(spark, sf, k = 10, kPrime = 32, shortlist = 50)
      .collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size / 10.0
    assert(recall >= 0.8, s"pca recall too low: $recall")
  }
}

class PipelineGapfillSpec extends AnyFunSuite {
  import SparkTest._

  test("fused pipeline equals the composition of its component operators") {
    import graft.dedup.Dedup
    import graft.operators.{Pipeline, Sampling}
    import graft.text.TextOps
    val got = Pipeline.docsTrainingPipeline(spark, sf).collect()
      .map(_.getLong(0)).toSet
    // re-derive by composing the STANDALONE operators
    val quality = TextOps.quality(spark, sf).collect()
      .filter(_.getLong(2) >= 20).map(_.getLong(0)).toSet
    val mixture = Sampling.docsMixtureSample(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val canonical = Dedup.exact(spark, sf).collect()
      .filter(r => r.getLong(0) == r.getLong(3)).map(_.getLong(0)).toSet
    val contaminated = Dedup.decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val pool = graft.Tables.documents(spark, sf)
      .filter(col("source") =!= "src0").collect().map(_.getLong(0)).toSet
    val want = pool & quality & mixture & canonical &~ contaminated
    assert(got == want, s"fused ${got.size} vs composed ${want.size}")
    assert(got.nonEmpty, "pipeline must keep at least one doc")
  }

  test("gapfill emits a dense per-type spine with consistent deltas") {
    val rows = graft.operators.Analytics.eventsGapfill(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (et, rs) =>
      val sorted = rs.sortBy(_._2.toEpochDay)
      // dense: consecutive days, no gaps
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(b._2.toEpochDay == a._2.toEpochDay + 1, s"$et gap $a -> $b") }
      // first day delta is null, every later delta = n - prev n
      assert(sorted.head._4.isEmpty, s"$et first delta not null")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(b._4.contains(b._3 - a._3), s"$et delta wrong at ${b._2}") }
      // end points carry data (spine is min..max of OBSERVED days)
      assert(sorted.head._3 > 0 && sorted.last._3 > 0, s"$et spine overshoots")
    }
    // zero-filled days really have no events
    val observed = graft.Tables.events(spark, sf)
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .distinct().collect().map(r => (r.getString(0), r.getDate(1).toLocalDate)).toSet
    rows.filter(_._3 == 0).foreach { case (et, day, _, _) =>
      assert(!observed((et, day)), s"zero-filled $et $day has events") }
  }
}

class Round6PlanSpec extends AnyFunSuite {
  import SparkTest._

  test("round-6 batch: broadcast policy holds with auto-broadcast off") {
    // With auto-broadcast disabled and AQE off, any BroadcastExchange
    // left in a plan comes from an explicit hint. The round-5 policy
    // (SURVEY §5): hints only on BOUNDED frames. Encoded two ways:
    //  - the unhinted queries must plan ZERO broadcasts;
    //  - the hinted ones may broadcast only aggregation-reduced frames
    //    (global aggregates, event_type/bucket-grouped dims, the
    //    distinct eval dictionary) — never raw corpus rows, the class
    //    of bug rounds 4/5 kept finding.
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val unhinted = Seq(
        "dedup_substring" -> graft.dedup.Dedup.substringSpans(spark, sf, w = 7),
        "docs_upsert" -> graft.operators.Cdc.docsUpsert(spark, sf),
        "events_funnel" -> graft.operators.Analytics.eventsFunnel(spark, sf),
        "events_retention" -> graft.operators.Analytics.eventsRetention(spark, sf),
        "events_gapfill" -> graft.operators.Analytics.eventsGapfill(spark, sf),
        "q_revenue_incremental" -> graft.operators.Ivm.revenueIncremental(spark, sf),
        // dictionary attach is unhinted by design (AQE decides at SF)
        "text_bpe_encode" -> graft.text.Bpe.encodeReport(spark, sf),
        "text_compression_ratio" -> graft.text.TextOps.compressionRatio(spark, sf))
      unhinted.foreach { case (name, df) =>
        val n = df.queryExecution.executedPlan.collect {
          case b: BroadcastExchangeExec => b }.length
        assert(n == 0, s"$name is unhinted but plans $n BroadcastExchange(s)")
      }
      // Hinted queries: every BroadcastExchange subtree must be one of
      // the bounded classes — aggregation-reduced, a driver-built
      // local frame (never a file scan), or a single-vector point
      // selection (vec_id = const) whose size is one row's nonzeros.
      import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
      import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, LocalTableScanExec}
      val hinted = Seq(
        "events_outliers" -> graft.operators.Analytics.eventsOutliers(spark, sf),
        "events_histogram" -> graft.operators.Analytics.eventsHistogram(spark, sf, bins = 17),
        "docs_corpus_shuffle" -> graft.operators.Sampling.corpusShuffle(spark, sf, seed = 43L),
        "docs_dsir_weights" -> graft.operators.Sampling.dsirWeights(spark, sf),
        "docs_training_pipeline" -> graft.operators.Pipeline.docsTrainingPipeline(spark, sf, minWords = 21),
        "events_heavy_hitters" -> graft.operators.Sketches.heavyHitters(spark, sf),
        "dedup_semantic" -> graft.dedup.Dedup.semanticDedup(spark, sf),
        "ann_sparse_topk" -> graft.ann.Sparse.sparseTopK(spark, sf),
        "ann_sparse_inverted_topk" -> graft.ann.Sparse.invertedTopK(spark, sf),
        // hinted broadcast(v): the 1-row vocab-size global aggregate
        "text_lm_score" -> graft.text.TextOps.lmScore(spark, sf),
        // hinted: 1-vector point select + distinct query-term dict + 1-row count
        "hybrid_rrf_topk" -> graft.ann.Hybrid.hybridRrfTopK(spark, sf),
        // hinted: the 1-vector point-selected fp16-rounded query
        "ann_half_topk" -> graft.ann.Half.halfTopK(spark, sf))
      hinted.foreach { case (name, df) =>
        df.queryExecution.executedPlan.foreach {
          case b: BroadcastExchangeExec =>
            val reduced = b.exists {
              case _: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec => true
              case _ => false
            }
            val localOnly = b.exists(_.isInstanceOf[LocalTableScanExec]) &&
              !b.exists(_.isInstanceOf[FileSourceScanExec])
            val pointSelected = b.exists {
              case f: FilterExec => f.condition.exists {
                case eq: EqualTo =>
                  (eq.left.references ++ eq.right.references).exists(_.name == "vec_id") &&
                    (eq.left.isInstanceOf[Literal] || eq.right.isInstanceOf[Literal])
                case _ => false
              }
              case _ => false
            }
            assert(reduced || localOnly || pointSelected,
              s"$name: forced broadcast of a non-bounded (raw corpus) frame:\n$b")
          case _ =>
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }
}

class HybridRrfSpec extends AnyFunSuite {
  import SparkTest._

  test("rrf fusion reproduces its rank formula over bounded candidate lists") {
    val df = graft.ann.Hybrid.hybridRrfTopK(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      r.getDouble(3)))
    assert(rows.length == 10)
    assert(!rows.exists(_._1 == 0L), "the self-query doc must be excluded")
    rows.foreach { case (id, vr, tr, rrf) =>
      assert(vr.nonEmpty || tr.nonEmpty, s"doc $id in neither candidate list")
      (vr.toSeq ++ tr.toSeq).foreach(r => assert(r >= 1 && r <= 100, s"doc $id rank $r"))
      val expect = vr.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        tr.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(rrf - BigDecimal(expect)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12,
        s"doc $id: rrf=$rrf vs formula=$expect")
    }
    // output ordered by fused score desc, id asc
    val key = rows.map(r => (-r._4, r._1)).toSeq
    assert(key == key.sorted, s"fusion order broken: $rows")
    // both retrievers contribute to the fused top-k on this corpus
    assert(rows.exists(_._2.nonEmpty) && rows.exists(_._3.nonEmpty),
      s"degenerate fusion (one modality only): $rows")
    // corpus-wide work must be heap-shaped (top-C per retriever), not
    // a global sort: TakeOrderedAndProject present
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no bounded top-C heap:\n$plan")
  }
}

class KcenterSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Sampling

  test("k-center greedy matches a driver-side reference and shrinks radii") {
    val got = Sampling.kcenterSelect(spark, sf, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 8)
    assert(got.map(_._2).distinct.length == 8, "centers must be distinct")
    // radii non-increasing after the seed's sentinel
    val radii = got.drop(1).map(_._3)
    radii.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"radius grew: $a -> $b") }
    // driver-side greedy reference on the full sf0.001 corpus
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    var centers = Vector(vecs.head)
    var expect = Vector((vecs.head._1, -1.0))
    while (centers.length < 8) {
      val (bestId, bestVec, bestD) = vecs.map { case (id, v) =>
        (id, v, centers.map(c => l2(c._2, v)).min)
      }.maxBy { case (id, _, d) => (d, -id) }
      centers = centers :+ ((bestId, bestVec))
      expect = expect :+ ((bestId, math.rint(bestD * 1e4) / 1e4))
    }
    assert(got.map(r => (r._2, r._3)).toSeq == expect,
      s"greedy picks diverged:\n got ${got.toSeq}\n want $expect")
  }

  test("k-center stops early when k exceeds the distinct vectors") {
    val sparkRef = spark; import sparkRef.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kc").toString
    // 3 distinct vectors, duplicated — asking for 8 centers must yield 3
    Seq(
      (0L, Array(0f, 0f), 0), (1L, Array(1f, 0f), 0), (2L, Array(0f, 2f), 0),
      (3L, Array(0f, 0f), 0), (4L, Array(1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Sampling.kcenterSelect(spark, dir, k = 8).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.length == 3, s"expected 3 centers, got ${got.toSeq}")
    assert(got.map(_._1).toSet == Set(0L, 1L, 2L), s"wrong centers: ${got.toSeq}")
    assert(got.forall(_._2 != 0.0), "no zero-radius duplicate centers")
  }
}

class HistogramSlidingSpec extends AnyFunSuite {
  import SparkTest._

  test("histogram bins partition each type's values exactly") {
    val rows = graft.operators.Analytics.eventsHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, bin, n) =>
      assert(bin >= 0 && bin < 16 && n > 0, s"bad bin row ($bin, $n)") }
    // per type: bin counts sum to the type's non-null value count
    val want = graft.Tables.events(spark, sf)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (et, rs) =>
      assert(rs.map(_._3).sum == want(et), s"$et bins lose rows") }
    // extremes land in the terminal bins
    val byType = rows.groupBy(_._1)
    want.keys.foreach { et =>
      assert(byType(et).exists(_._2 == 0L), s"$et: min not in bin 0")
      assert(byType(et).exists(_._2 == 15L), s"$et: max not in bin 15")
    }
  }

  test("G13 sliding windows equal the batch mirror; each event hits 4 windows") {
    import graft.streaming.EventStream
    EventStream.runToMemory(spark, EventStream.slidingAgg(spark, sf), "g13slide",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val stream = spark.sql("SELECT * FROM g13slide").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStream.slidingAggBatch(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // append mode holds back windows the watermark hasn't closed: the
    // stream is a subset missing at most the trailing 2h of windows
    // per type (8 slides × 5 types) — same contract as the G1 test
    assert(stream.nonEmpty && stream.subsetOf(batch),
      s"stream windows not a subset (${stream.size} vs ${batch.size})")
    assert(stream.size >= batch.size - 40,
      s"stream missing too many windows: ${stream.size} vs ${batch.size}")
    // overlap factor on the deterministic batch mirror: every event
    // contributes to exactly 2h/30m = 4 windows
    val totalWindowed = batch.toSeq.map(_._3).sum
    val nEvents = graft.Tables.events(spark, sf).count()
    assert(totalWindowed == 4 * nEvents,
      s"windowed counts $totalWindowed != 4 x $nEvents")
  }
}

class CheckpointRestartSpec extends AnyFunSuite {
  import SparkTest._
  import graft.streaming.EventStream
  import org.apache.spark.sql.streaming.{OutputMode, Trigger}

  test("stateful stream recovers state and offsets across a restart") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val inDir = java.nio.file.Files.createTempDirectory("ckpt_in").toString
    val cp = java.nio.file.Files.createTempDirectory("ckpt_cp").toString
    val raw = spark.read.schema(EventStream.rawSchema)
      .parquet(s"$sf/events.parquet")
    // arrival in two batches, split by event id
    raw.filter(col("event_id") % 2 === 0)
      .write.mode("append").parquet(inDir)

    // foreachBatch is the recoverable sink (the memory sink refuses
    // checkpoint recovery); each run collects its emissions here
    val emitted = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    def runOnce(): Unit = {
      val q = EventStream.reachSketchStream(spark, sf, srcPath = Some(inDir))
        .writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EventStream.ReachOut], _: Long) =>
          emitted.synchronized {
            emitted ++= batch.collect().map(r => (r.event_type, r.est_users, r.n_events))
          }
          () // foreachBatch wants Unit
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce() // processes batch A, checkpoints offsets + state
    raw.filter(col("event_id") % 2 === 1)
      .write.mode("append").parquet(inDir)
    emitted.clear() // keep only the post-restart emissions
    runOnce() // must resume from the checkpoint: only batch B

    // last emission per type after the restart reflects ALL events —
    // and n is EXACT, so any reprocessing of batch A (lost offsets) or
    // lost sketch state (lost state store) would show immediately
    val rows = emitted.map(t => t._1 -> ((t._2, t._3)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    val want = raw.groupBy("event_type")
      .agg(countDistinct("user_id").as("u"), count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == want.keySet, s"types ${rows.keySet} vs ${want.keySet}")
    rows.foreach { case (et, (est, n)) =>
      assert(n == want(et)._2,
        s"$et: processed-row count $n != ${want(et)._2} (offsets or state lost)")
      val exact = want(et)._1.toDouble
      assert(math.abs(est - exact) / exact < 0.05,
        s"$et: estimate $est too far from $exact after restart")
    }
  }
}

class StreamStreamJoinSpec extends AnyFunSuite {
  import SparkTest._
  import graft.streaming.EventStream

  test("G15 stream-stream attribution join equals the batch interval join") {
    EventStream.runToMemory(spark, EventStream.attributionJoin(spark, sf), "g15attr")
    val stream = spark.sql("SELECT * FROM g15attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStream.attributionJoinBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // inner stream-stream joins emit on match: the drained stream is
    // the complete batch result, not a watermark-truncated subset
    assert(stream == batch && stream.nonEmpty,
      s"stream ${stream.size} pairs vs batch ${batch.size}")
    // every pair respects the attribution window on the raw data —
    // compared in MICROS (getTime truncates to ms and would falsely
    // fail strict > for same-millisecond neighbors)
    def micros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val ts = graft.Tables.events(spark, sf)
      .select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> micros(r.getTimestamp(1))).toMap
    stream.foreach { case (_, clickId, purchaseId, _) =>
      val (c, p) = (ts(clickId), ts(purchaseId))
      assert(p > c && p <= c + 3600 * 1000000L, s"pair ($clickId,$purchaseId) outside window")
    }
  }
}

/** H11: ORC source/sink — the second columnar format the Spark image
  * ships natively. The contract is identical to the parquet layouts:
  * partitioned write, partition-pruned + predicate-pushed scan, value
  * parity with the parquet-backed tables.
  */
class OrcFormatSpec extends AnyFunSuite {
  import SparkTest._
  import org.apache.spark.sql.functions.{col, sum}

  test("partitioned orc layout round-trips with partition pruning and pushdown") {
    val out = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val ev = Tables.events(spark, sf)
    ev.write.mode("overwrite").partitionBy("event_type").orc(s"$out/events_orc")
    val back = spark.read.orc(s"$out/events_orc")
    assert(back.count() == ev.count())
    val q = back
      .filter(col("event_type") === "view" && col("user_id") === 7L)
      .agg(sum("value").as("v"))
    val plan = q.queryExecution.executedPlan.toString
    // event_type must prune at the directory level, never scan-filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"expected event_type as a partition filter:\n$plan")
    // user_id must reach the ORC reader as a pushed filter
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(user_id,7)"),
      s"expected user_id pushdown into the orc scan:\n$plan")
    // column pruning: the scan must read only the 2 referenced columns
    val readSchema = plan.replaceAll("(?s).*ReadSchema: ([^\\n,]*struct<[^>]*>).*", "$1")
    assert(readSchema.contains("user_id") && readSchema.contains("value") &&
      !readSchema.contains("props") && !readSchema.contains("event_id"),
      s"expected a pruned ReadSchema, got $readSchema")
    // value parity with the parquet-backed path
    val expect = ev.filter(col("event_type") === "view" && col("user_id") === 7L)
      .agg(sum("value")).head().getDouble(0)
    assert(math.abs(q.head().getDouble(0) - expect) < 1e-9)
  }
}
