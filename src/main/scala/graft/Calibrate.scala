package graft

import org.apache.spark.sql.functions._

import graft.functions.vector._

/** Cost-model calibration (`sbt "runMain graft.Calibrate"`) — the
  * analogue of the reference's parameter fitting
  * (controller/dynamic_partition/get_parameter.py measures per-phase
  * query times against live partitions and fits the a/b constants of
  * `compute_query_time`). Here: time a permission-style top-k over
  * partitions of varying size, then least-squares fit both cost shapes
  *   linear  t ≈ a·n + b      (scan engine: work ∝ rows scanned)
  *   log     t ≈ a·ln(n) + b  (the reference's HNSW traversal shape)
  * and print fitted constants + R². The fitted `b` is the fixed
  * per-query overhead — the term that dominates at toy SF and washes
  * out at cluster scale; `a` is what the partitioner's benefit ranking
  * actually trades against duplicated storage. Results recorded in
  * CALIBRATION.md per round.
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_calib_sidecars") // see Bench — don't clobber the oracle path
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val blocks = graft.rbac.Rbac.blocks(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism).persist()
    val n0 = blocks.count()
    // a FIXED query batch (the whole corpus as queries) makes per-row
    // work Q·dim flops — large enough that the size-dependent term
    // rises above the fixed driver overhead even at toy SF
    val queries = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

    def timeTopK(n: Long): Double = {
      val reps = 5
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // count() alone would let Catalyst prune the aggregate (and the
        // distance kernel with it) — consume the ids so the work is real
        blocks.filter(col("block_id") < n)
          .crossJoin(broadcast(queries))
          .groupBy("query_id")
          .agg(graft.operators.TopKAgg.topk_ids(
            l2_dist(col("embedding"), col("qvec")), col("block_id"), 10).as("ids"))
          .select(explode(col("ids"))).count()
        (System.nanoTime() - t0) / 1e6
      }
      times.sorted.apply(reps / 2) // median ms
    }

    timeTopK(n0); timeTopK(n0) // warm JVM + codegen, untimed

    val fractions = Seq(0.0625, 0.125, 0.25, 0.5, 1.0)
    val points = fractions.map { f =>
      val n = math.max((n0 * f).toLong, 16L)
      (n, timeTopK(n))
    }

    def fit(xs: Seq[Double], ys: Seq[Double]): (Double, Double, Double) = {
      val nn = xs.length
      val (mx, my) = (xs.sum / nn, ys.sum / nn)
      val sxy = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      val a = sxy / sxx
      val b = my - a * mx
      val ssRes = xs.zip(ys).map { case (x, y) => math.pow(y - (a * x + b), 2) }.sum
      val ssTot = ys.map(y => math.pow(y - my, 2)).sum
      (a, b, if (ssTot == 0) 1.0 else 1.0 - ssRes / ssTot)
    }

    val ys = points.map(_._2)
    val (la, lb, lr2) = fit(points.map(_._1.toDouble), ys)
    val (ga, gb, gr2) = fit(points.map(p => math.log(p._1.toDouble)), ys)
    val pts = points.map { case (n, t) => s"""{"n":$n,"ms":${math.round(t * 100) / 100.0}}""" }
      .mkString("[", ",", "]")

    // --- layout validation: does the cost model's predicted benefit
    // ranking match MEASURED per-partition query times? (the loop that
    // makes a cost model trustworthy — reference:
    // dynamic_partition/get_parameter.py + validate/modelqps_vs_realqps
    // .py compare modeled QPS against live partition timings.)
    // For each comb the model chose to split out, time the same top-k
    // over its dedicated partition's doc set vs the full corpus; the
    // measured benefit uses the model's own formula with measured times
    // in place of the log term: weight·(t_full − t_comb)/n_docs.
    def timeOver(docs: org.apache.spark.sql.DataFrame): Double = {
      val reps = 3
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        blocks.join(broadcast(docs), Seq("document_id"), "left_semi")
          .crossJoin(broadcast(queries))
          .groupBy("query_id")
          .agg(graft.operators.TopKAgg.topk_ids(
            l2_dist(col("embedding"), col("qvec")), col("block_id"), 10).as("ids"))
          .select(explode(col("ids"))).count()
        (System.nanoTime() - t0) / 1e6
      }
      times.sorted.apply(reps / 2)
    }
    // validation set: the top of the model's benefit ranking (the order
    // the greedy splits in), not just the α-budget prefix — two combs
    // aren't enough points for a rank statistic
    val layout = graft.rbac.Partitioned.costModelLayout(spark, sfDir)
    val top = layout
      .withColumn("benefit",
        col("weight") * (log(lit(n0.toDouble)) - log(col("n_docs"))) / col("n_docs"))
      .filter(col("weight") > 0)
      .orderBy(col("benefit").desc, col("comb_key"))
      .limit(10)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // the SAME comb→docs derivation the layout build uses — measured
    // doc sets cannot drift from the model's
    val combDocAll = graft.rbac.Partitioned.combAccessibleDocs(spark, sfDir).persist()
    combDocAll.count()
    val allDocs = blocks.select("document_id").distinct()
    val tFull = timeOver(allDocs)
    val rows = top.map { case (comb, w, nd) =>
      val t = timeOver(combDocAll.filter(col("comb_key") === comb).select("document_id"))
      val predT = la * nd + lb // fitted linear scan model
      val predicted = w * (math.log(n0.toDouble) - math.log(nd.toDouble)) / nd
      val measured = w * (tFull - t) / nd
      (comb, nd, predicted, measured, t, predT)
    }
    // Spearman with tied ranks (average-rank form, Pearson on ranks):
    // the synthetic permission scheme makes many combs the same size,
    // so predicted benefits tie in groups — the d²-formula would charge
    // the model for its arbitrary tie order
    def ranksAvg(xs: Seq[Double]): Seq[Double] = {
      val sorted = xs.zipWithIndex.sortBy(-_._1)
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        val avg = (i + j + 1) / 2.0 // average of ranks i+1..j
        (i until j).foreach(t => out(sorted(t)._2) = avg)
        i = j
      }
      out.toSeq
    }
    def spearman(a: Seq[Double], b: Seq[Double]): Double = {
      val m = a.length
      if (m < 2) 1.0
      else {
        val (ra, rb) = (ranksAvg(a), ranksAvg(b))
        val (ma, mb) = (ra.sum / m, rb.sum / m)
        val cov = ra.zip(rb).map { case (x, y) => (x - ma) * (y - mb) }.sum
        val (va, vb) = (ra.map(x => (x - ma) * (x - ma)).sum,
          rb.map(y => (y - mb) * (y - mb)).sum)
        if (va == 0 || vb == 0) 0.0 else cov / math.sqrt(va * vb)
      }
    }
    // benefit ranking: the greedy's split ORDER vs its measured analogue;
    // time model: does fitted t(n) order the partitions like reality?
    val spBenefit = spearman(rows.map(_._3).toSeq, rows.map(_._4).toSeq)
    val spTime = spearman(rows.map(_._6).toSeq, rows.map(_._5).toSeq)
    val m = rows.length
    // Locale.ROOT on every float (the r10 scaleSidecarJson advice): a
    // comma-decimal default locale must not corrupt the JSON
    def rt(fmt: String, d: Double) =
      String.format(java.util.Locale.ROOT, fmt, Double.box(d))
    val combJson = rows.map { case (c, nd, p, meas, t, pt) =>
      s"""{"comb":"$c","n_docs":$nd,"pred_benefit":${rt("%.6f", p)},"meas_benefit":${rt("%.6f", meas)},"t_ms":${rt("%.1f", t)},"pred_t_ms":${rt("%.1f", pt)}}"""
    }.mkString("[", ",", "]")

    println(s"""{"points":$pts,"linear":{"a_ms_per_row":${rt("%.6f", la)},"b_ms":${rt("%.2f", lb)},"r2":${rt("%.4f", lr2)}},"log":{"a_ms":${rt("%.2f", ga)},"b_ms":${rt("%.2f", gb)},"r2":${rt("%.4f", gr2)}},"validation":{"t_full_ms":${rt("%.1f", tFull)},"n_combs":$m,"spearman_benefit":${rt("%.4f", spBenefit)},"spearman_time":${rt("%.4f", spTime)},"combs":$combJson},"sf":"$sfDir"}""")
    spark.stop()
  }
}

/** Round-9 appendix (`sbt "runMain graft.PointServe"`) — an honest
  * micro-benchmark of the ONE surface this engine declares out of
  * scope: per-point-query ONLINE serving latency (hnswlib's sub-ms
  * single-lookup pointer chase). The batch walk (B31) IS the
  * Spark-native form of graph serving; this harness quantifies what a
  * dedicated serving TIER would add on top: the session-cached graph
  * index + medoids + vectors are collected to driver maps (what a
  * serving node holds in RAM), then each benchmark query runs the
  * identical beam walk (ef, rounds, degree-capped edges, (dist, id)
  * ties) as a plain in-memory pointer chase. Results are asserted
  * EQUAL to the engine's batch top-k before timing — the number
  * quantifies the declared gap, it does not claim the serving tier.
  * Numbers land in CALIBRATION.md per round.
  */
/** Round-11 appendix (`sbt "runMain graft.StreamMaint"`) — a measured
  * throughput row for the one STREAMING component with heavy
  * per-trigger cost: G18's live graph maintenance
  * (`VectorStream.graphInsertStream` — hnswlib add_items as a stream).
  * The streaming suite is spec-verified by design (no oracle), so like
  * PointServe this puts a NUMBER on the declared surface: triggers/s
  * and ms per inserted vector at a given corpus scale, with the same
  * correctness gate the spec uses (drained stream == sequential batch
  * composition of the recorded trigger sequence) asserted BEFORE the
  * timing is reported. Base graph + medoids are warmed untimed (index
  * builds, the Bench convention — steady-state maintenance serves
  * from an existing index). Numbers land in CALIBRATION.md per round.
  */
object StreamMaint {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_streammaint_sidecars")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nTrig = Env.int("SPARK_GRAFT_TRIGGERS", 5)
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ann.GraphSearch
    import org.apache.spark.sql.DataFrame

    // r12: the stream's SHIPPED default is batched triggers (drain all
    // staged files in one micro-batch — the measured 5.8×-per-row
    // operating point); SPARK_GRAFT_MFPT=1 forces file-per-trigger to
    // reproduce the r11 comparison rows
    val mfpt = Env.int("SPARK_GRAFT_MFPT", 0)
    // SPARK_GRAFT_MAINT_GRAPH=nnd maintains the NN-Descent serving
    // graph — the index buildable at the 100× dir, where the exact
    // base-prefix build is the documented quadratic (PointServe's r11
    // NND mode, applied to the maintenance tier)
    val nndBase = sys.env.get("SPARK_GRAFT_MAINT_GRAPH").contains("nnd")
    val cutoff = GraphSearch.insertCutoff(spark, sfDir)
    val tail = GraphSearch.InsertTail
    val tmp = java.nio.file.Files.createTempDirectory("maint_").toString
    // nTrig staged parquet FILES (one trigger each only under MFPT=1)
    val per = math.max(1, tail / nTrig)
    val bounds = (0 until nTrig).map { t =>
      (cutoff + t.toLong * per,
       if (t == nTrig - 1) cutoff + tail else cutoff + (t + 1).toLong * per)
    }
    bounds.zipWithIndex.foreach { case ((lo, hi), t) =>
      graft.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stage$t")
      val part = new java.io.File(s"$tmp/stage$t").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val target = java.nio.file.Paths.get(tmp, "vecs", s"b$t.parquet")
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.move(part.toPath, target)
    }
    // warm the index state the stream reads (untimed: index build)
    val base =
      if (nndBase) GraphSearch.nndServingGraph(spark, sfDir)
      else GraphSearch.servingGraph(spark, sfDir, baseMax = cutoff)
    val medoids =
      if (nndBase) GraphSearch.cellMedoids(spark, sfDir)
      else GraphSearch.cellMedoids(spark, sfDir, baseMax = cutoff)

    val t0 = System.nanoTime()
    val (q, h) = graft.streaming.VectorStream.graphInsertStream(
      spark, sfDir, s"$tmp/vecs", s"$tmp/ckpt", maxFilesPerTrigger = mfpt,
      nndBase = nndBase)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9

    // correctness gate (the spec's assertion, re-run at THIS scale):
    // the drained stream's graph must equal the sequential batch
    // composition of the recorded trigger sequence
    def edgesOf(df: DataFrame): Set[(Long, Long)] =
      df.select("src", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var g: DataFrame = base
    for (ids <- h.triggerBatches) {
      val batch = graft.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val next = GraphSearch.insertStep(spark, sfDir, g, medoids, batch)
      if (g ne base) g.unpersist(blocking = true)
      g = next
    }
    require(edgesOf(h.currentGraph) == edgesOf(g),
      "drained stream diverged from the batch composition")
    val nRows = h.triggerBatches.map(_.size).sum
    println(s"""{"dir":"$sfDir","graph":"${if (nndBase) "nnd" else "exact"}","mfpt":$mfpt,"staged_files":$nTrig,""" +
      s""""triggers":${h.triggerBatches.size},""" +
      s""""insert_rows":$nRows,"wall_s":${math.round(wall * 1000) / 1000.0},""" +
      s""""triggers_per_s":${math.round(h.triggerBatches.size / wall * 1000) / 1000.0},""" +
      s""""ms_per_row":${math.round(wall * 1e6 / math.max(nRows, 1)) / 1000.0},"gate":"equal"}""")
    spark.stop()
  }
}

object PointServe {
  def main(args: Array[String]): Unit = {
    Sidecars.isolate("graft_pointserve_sidecars")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // r11: SPARK_GRAFT_POINTSERVE_GRAPH=nnd serves over the NN-DESCENT
    // graph instead of the exact build — the only index whose BUILD is
    // affordable at the 100× dir, so this is how the online tier gets
    // a measured 100× row (the exact build is the documented quadratic
    // boundary there). The gate compares against graphTopKNnd — the
    // walk must reproduce the batch result over the SAME edge set.
    val useNnd = sys.env.get("SPARK_GRAFT_POINTSERVE_GRAPH").contains("nnd")
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ann.GraphSearch

    // "index load": collect the graph index a serving node would mmap
    val tLoad0 = System.nanoTime()
    val edges = (if (useNnd) GraphSearch.nndServingGraph(spark, sfDir)
                 else GraphSearch.servingGraph(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val medoids = GraphSearch.cellMedoids(spark, sfDir).collect().map(_.getLong(0))
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val loadMs = (System.nanoTime() - tLoad0) / 1e6

    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    }
    def walk(q: Long): Seq[Long] = {
      val qv = emb(q)
      var visited = medoids.filter(_ != q).map(m => m -> l2(emb(m), qv)).toMap
      for (_ <- 1 to GraphSearch.Rounds) {
        val beam = visited.toSeq.sortBy { case (id, d) => (d, id) }
          .take(GraphSearch.Ef).map(_._1)
        val fresh = beam.flatMap(b => edges.getOrElse(b, Array.empty[Long]))
          .toSet -- visited.keySet - q
        visited = visited ++ fresh.map(f => f -> l2(emb(f), qv))
      }
      visited.toSeq.sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
    }

    // correctness gate first: the pointer chase must reproduce the
    // batch walk exactly, or its timing is meaningless
    val batch = (if (useNnd) GraphSearch.graphTopKNnd(spark, sfDir)
                 else GraphSearch.graphTopK(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).sorted.toSeq }
    val qids = 0L until GraphSearch.Nq.toLong
    qids.foreach { q =>
      val got = walk(q).sorted
      require(got == batch(q), s"pointer chase diverged on query $q")
    }

    // timing: per-query wall over repeated sweeps (steady-state JIT)
    val reps = 20
    val times = Array.fill(reps * qids.length)(0.0)
    var i = 0
    for (_ <- 1 to reps; q <- qids) {
      val t0 = System.nanoTime()
      walk(q)
      times(i) = (System.nanoTime() - t0) / 1e3; i += 1
    }
    val sorted = times.sorted
    val (p50, p99) = (sorted(sorted.length / 2), sorted((sorted.length * 99) / 100))
    // Locale.ROOT (the r10 advice on scaleSidecarJson, applied here
    // too): the f interpolator formats in the default locale — a
    // comma decimal separator would corrupt the JSON
    def r1(d: Double) =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    println(s"""{"metric":"point_serve","graph":"${if (useNnd) "nnd" else "exact"}","index_load_ms":${r1(loadMs)},"walk_us_p50":${r1(p50)},"walk_us_p99":${r1(p99)},"n_nodes":${emb.size},"n_queries":${qids.length},"reps":$reps,"ef":${GraphSearch.Ef},"rounds":${GraphSearch.Rounds},"sf":"$sfDir"}""")
    spark.stop()
  }
}
