package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench-only scaled-dataset generator (round 10): every 100× design
  * claim in CALIBRATION/PLANS was argued from plan shapes at N=2000
  * vectors; this main materializes a `factor`× dataset so the scaling
  * EXPONENTS can be measured instead of argued.
  *
  * Scaling scheme (deterministic — seeded arithmetic on ids, no
  * entropy source, so re-runs are byte-stable):
  *   - `embeddings`: the source corpus is measured isotropic on the
  *     unit sphere (coord std = 1/√64, label-geometry correlation
  *     ~zero, 1-NN ≈ 1.09 vs mean pair 1.41), so the faithful 10× is
  *     MORE samples of the same law: copy 0 = the source rows
  *     verbatim, every other row a fresh hash-lane Box-Muller
  *     Gaussian, normalized. (A first attempt perturbed source rows
  *     by eps=0.05 — that manufactures 10-vector cliques whose exact
  *     kNN graph disconnects into families and the serving walk
  *     collapses; measured, rejected, documented in CALIBRATION.md.)
  *     Labels ride along from source row j % N.
  *   - `documents`: row j = source row (j % N) with a deterministic
  *     per-copy suffix of `tag<j>` tokens — distinct doc_ids with high
  *     shingle overlap inside each copy family, so near-dup candidate
  *     volume grows with corpus size the way a crawl's does.
  *   - every other table is copied as-is (the relational family's
  *     scaling is standard Spark SQL, not what this dataset tests —
  *     its keys still RUN at the scaled dir, but their times carry no
  *     scale-exponent claim; CALIBRATION.md says so).
  *
  * Mode "rel" (r16) closes that caveat from the other side: it scales
  * the RELATIONAL tables (customer/orders/lineitem/part/supplier/
  * events) by key-shifted copies — copy c's keys are the source key
  * domain shifted by c·(max(key)+1), so copies are disjoint and every
  * FK edge (lineitem→orders/part/supplier, orders→customer) stays
  * inside its own copy — and passes embeddings/documents through
  * verbatim. The scaling law is TPC-H's own: fixed dimensions
  * (region/nation), fact tables ×factor, per-copy value distributions
  * identical, so constant-cardinality groups (q1's returnflag×
  * linestatus) grow ×factor in rows-per-group while key-cardinality
  * groups grow ×factor in group count. A "rel" dir gives the E family
  * measured scale exponents AND a cheap DuckDB value-parity surface
  * (pure-SQL oracles, no sidecar replay) at 10×/100×.
  *
  * NO DuckDB oracle runs at this scale (the oracle-cost bound is
  * documented in SURVEY §7) — correctness is pinned at sf0.001/0.01/0.1;
  * this dataset exists only for Bench and ScaleStats.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> [factor=10]
  */
object ScaleGen {

  /** SplitMix64 finalizer — the deterministic per-(row,lane) noise
    * source (public-domain mixing constants, as used by
    * java.util.SplittableRandom).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform in (0, 1) from a hash lane (never exactly 0 — safe log). */
  private def unit01(h: Long): Double =
    ((h >>> 11).toDouble + 0.5) / (1L << 53).toDouble

  def scaleEmbeddings(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val src = Tables.embeddings(spark, srcDir)
      .select("vec_id", "embedding", "label")
    val n = src.count()
    val copies = spark.range(factor.toLong).toDF("copy")
    // a udf is acceptable HERE (and only here): this is the bench-only
    // dataset generator, run once per scale dir — not an operator on
    // any query path. Generating 64 Box-Muller coordinates per row is
    // imperative array work with no Catalyst equivalent worth building.
    val gen = udf { (vecId: Long, copy: Long, emb: Seq[Float]) =>
      if (copy == 0) emb.toArray // source corpus = strict subset
      else {
        val j = copy * n + vecId
        val out = new Array[Float](emb.length)
        var i = 0
        var norm = 0.0
        while (i < out.length) {
          // Box-Muller from two hash lanes: exact i.i.d. N(0,1) per
          // coordinate → exactly isotropic direction after normalize
          val u1 = unit01(mix64(j * 131 + 2 * i))
          val u2 = unit01(mix64(j * 131 + 2 * i + 1))
          val z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
          out(i) = z.toFloat
          norm += z * z
          i += 1
        }
        val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
        var k = 0
        while (k < out.length) { out(k) = (out(k) * inv).toFloat; k += 1 }
        out
      }
    }
    src.crossJoin(broadcast(copies))
      .select(
        (col("copy") * n + col("vec_id")).as("vec_id"),
        gen(col("vec_id"), col("copy"), col("embedding")).as("embedding"),
        col("label"))
  }

  /** Low-INTRINSIC-dimension variant (r13): embeddings drawn from an
    * 8-dim linear manifold in the 64-dim ambient space (fixed
    * hash-derived 64×8 projection of 8 i.i.d. hash-lane Gaussians,
    * normalized). Rationale: the isotropic law above is the measured
    * ADVERSARIAL control — at 200k points its distances concentrate
    * (64-dim uniform sphere: 1-NN ≈ 1.09 vs mean pair 1.41) and the
    * r13 knob sweep showed EVERY graph-serving knob saturating well
    * below target there (iters 2→5: 0.56→0.66 at ef=1024; rounds
    * 5→12: +0.14; all 21 points in CALIBRATION r13) — the textbook
    * concentration-of-measure ceiling, not an engine defect. Real
    * embedding corpora have low intrinsic dimension, which is the
    * regime graph ANN indexes exist for; this law generates that
    * regime at scale so the serving policy's target-meeting behavior
    * is MEASURED at 200k nodes rather than asserted. Deterministic
    * like everything else here (SplitMix64 lanes, no entropy).
    */
  def scaleEmbeddingsManifold(spark: SparkSession, srcDir: String,
                              factor: Int): DataFrame = {
    val src = Tables.embeddings(spark, srcDir)
      .select("vec_id", "embedding", "label")
    val n = src.count()
    val dim = src.head().getSeq[Float](1).length
    val idim = 8
    def gauss(lane: Long): Double = {
      val u1 = unit01(mix64(2 * lane))
      val u2 = unit01(mix64(2 * lane + 1))
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    // fixed projection matrix, hash-derived once on the driver and
    // closure-captured (kilobytes)
    val m = Array.tabulate(dim, idim)((i, d) =>
      gauss(0x5EED0000L + i.toLong * 131 + d))
    val copies = spark.range(factor.toLong).toDF("copy")
    // udf acceptable here for the same reason as `gen` above:
    // bench-only generator, not a query path. The hash/Gaussian
    // helpers are REDEFINED inside the lambda: calling the enclosing
    // object's methods would capture the (non-serializable) singleton
    // in the task closure.
    val genM = udf { (vecId: Long, copy: Long) =>
      def mx(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      def u01(h: Long): Double = ((h >>> 11).toDouble + 0.5) / (1L << 53).toDouble
      def g(lane: Long): Double =
        math.sqrt(-2.0 * math.log(u01(mx(2 * lane)))) *
          math.cos(2.0 * math.Pi * u01(mx(2 * lane + 1)))
      val j = copy * n + vecId
      val t = Array.tabulate(idim)(d => g(j * 523 + d))
      val out = new Array[Float](dim)
      var norm = 0.0
      var i = 0
      while (i < dim) {
        var s = 0.0
        var d = 0
        while (d < idim) { s += m(i)(d) * t(d); d += 1 }
        out(i) = s.toFloat
        norm += s * s
        i += 1
      }
      val inv = if (norm > 0) 1.0 / math.sqrt(norm) else 0.0
      var k = 0
      while (k < dim) { out(k) = (out(k) * inv).toFloat; k += 1 }
      out
    }
    src.crossJoin(broadcast(copies))
      .select(
        (col("copy") * n + col("vec_id")).as("vec_id"),
        genM(col("vec_id"), col("copy")).as("embedding"),
        col("label"))
  }

  def scaleDocuments(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val src = Tables.documents(spark, srcDir)
    val n = src.count()
    val copies = spark.range(factor.toLong).toDF("copy")
    // the per-copy suffix is built ONCE as a column so n_chars can add
    // its true length — a hardcoded "+12" undercounts whenever the ids
    // have more digits (ADVICE r10: n_chars must stay == length(text)
    // on every generated row, downstream quality signals read it)
    src.crossJoin(broadcast(copies))
      .withColumn("suffix", concat(lit(" tag"),
        (col("copy") * n + col("doc_id")).cast("string"),
        lit(" tag"), col("copy").cast("string")))
      .select(
        (col("copy") * n + col("doc_id")).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), col("suffix"))).as("text"),
        col("lang"), col("source"),
        when(col("copy") === 0, col("n_chars"))
          .otherwise(col("n_chars") + length(col("suffix"))).as("n_chars"))
  }

  /** Key-shifted ×factor copies of the relational/events tables (mode
    * "rel"). Pure column arithmetic — no UDF, fully codegen'd — and
    * deterministic (copy 0 is the source verbatim: every shift is
    * `copy · stride + key` with copy = 0). Strides come from the PK
    * table's own max key so FK columns shift by the SAME stride as the
    * key domain they reference and every copy is join-closed.
    */
  def scaleRelational(spark: SparkSession, srcDir: String,
                      factor: Int): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.functions.max
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).head.getLong(0) + 1
    // events is read RAW (not Tables.events): the ts column passes
    // through in the file's own logical type (NTZ / legacy nanos), so
    // the scaled file is type-identical to the source and the oracle's
    // existing ts handling applies unchanged at the scaled dir
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val customer = Tables.customer(spark, srcDir)
    val orders   = Tables.orders(spark, srcDir)
    val lineitem = Tables.lineitem(spark, srcDir)
    val part     = Tables.part(spark, srcDir)
    val supplier = Tables.supplier(spark, srcDir)
    val events   = Tables.table(spark, srcDir, "events")
    val ck = stride(customer, "c_custkey")
    val ok = stride(orders, "o_orderkey")
    val pk = stride(part, "p_partkey")
    val sk = stride(supplier, "s_suppkey")
    val ek = stride(events, "event_id")
    val uk = stride(events, "user_id")
    def shifted(src: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val copies = spark.range(factor.toLong).toDF("copy")
      src.crossJoin(broadcast(copies)).select(src.columns.map { c =>
        shifts.get(c) match {
          case Some(s) => (col("copy") * s + col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
    }
    Seq(
      "customer" -> shifted(customer, Map("c_custkey" -> ck)),
      "orders"   -> shifted(orders, Map("o_orderkey" -> ok, "o_custkey" -> ck)),
      "lineitem" -> shifted(lineitem,
        Map("l_orderkey" -> ok, "l_partkey" -> pk, "l_suppkey" -> sk)),
      "part"     -> shifted(part, Map("p_partkey" -> pk)),
      "supplier" -> shifted(supplier, Map("s_suppkey" -> sk)),
      "events"   -> shifted(events, Map("event_id" -> ek, "user_id" -> uk)))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // mode: "iso" (default — isotropic, the adversarial control) or
    // "manifold" (8-dim intrinsic — the regime graph ANN serves)
    val mode = if (args.length > 3) args(3) else "iso"
    val cpus = Env.int("SPARK_GRAFT_CPUS", 8)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val passthrough =
      if (mode == "rel") {
        scaleRelational(spark, srcDir, factor).foreach { case (t, df) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        }
        Seq("region", "nation", "documents", "embeddings")
      } else {
        (if (mode == "manifold") scaleEmbeddingsManifold(spark, srcDir, factor)
         else scaleEmbeddings(spark, srcDir, factor)).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
        scaleDocuments(spark, srcDir, factor).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
        Seq("region", "nation", "customer", "supplier",
          "part", "orders", "lineitem", "events")
      }
    passthrough.foreach { t =>
      val dst = java.nio.file.Paths.get(outDir, s"$t.parquet")
      if (!java.nio.file.Files.exists(dst))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(srcDir, s"$t.parquet"), dst)
    }
    val stampTables =
      if (mode == "rel") Seq("lineitem", "events") else Seq("embeddings", "documents")
    println(s"""{"scaled":"$outDir","factor":$factor,"mode":"$mode",${
      stampTables.map(t => s""""$t":${
        spark.read.parquet(s"$outDir/$t.parquet").count()}""").mkString(",")}}""")
    spark.stop()
  }
}
