package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Every job a block submits on this thread: its final stage's name and
  * whether it ran inside a SQL execution (a query or a write) — a
  * parquet schema-inference job is named `parquet at ...` and runs
  * outside any, while a parquet write shares its name but not that.
  */
object JobLog {
  final case class Job(name: String, sql: Boolean)
  private val TagKey = "graft.test.joblog"

  def jobsOf(spark: SparkSession)(body: => Any): Seq[Job] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[Job]
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { t =>
          if (t == tag) jobs.add(Job(e.stageInfos.maxBy(_.stageId).name,
            e.properties.getProperty("spark.sql.execution.id") != null))
          else if (t == s"$tag.end") drained.countDown()
        }
    }
    sc.addSparkListener(l)
    val prev = sc.getLocalProperty(TagKey)
    try {
      sc.setLocalProperty(TagKey, tag)
      body
      // the listener bus is FIFO: once the marker job's start arrives,
      // every job the body submitted has been seen
      sc.setLocalProperty(TagKey, s"$tag.end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.setLocalProperty(TagKey, prev)
      sc.removeSparkListener(l)
    }
    jobs.asScala.toSeq
  }

  def inference(jobs: Seq[Job]): Seq[Job] =
    jobs.filter(j => j.name.startsWith("parquet at ") && !j.sql)
}

/** `Tables.parquet`, the one parquet reader: a schema inferred once per
  * file version, no inference job afterwards, and the same frames a
  * bare `spark.read.parquet` returns.
  */
class ParquetReaderSpec extends AnyFunSuite {
  import SparkTest._
  import JobLog._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("after a first touch, prefilterTopK runs no schema-inference job") {
    val sp = spark
    rbac.Rbac.prefilterTopK(sp, sf, 1L, 10).collect() // first touch
    val jobs = jobsOf(sp)(rbac.Rbac.prefilterTopK(sp, sf, 1L, 10).collect())
    assert(jobs.nonEmpty)
    assert(inference(jobs).isEmpty, s"inference jobs after first touch: $jobs")
  }

  test("each serving strategy saves exactly one job per parquet read it makes") {
    import graft.rbac.{Partitioned, Rbac}
    val sp = spark
    val k = 10
    // (strategy, parquet reads per call): the scanned corpus or layout
    // only — the query vector is a literal fetched once per file version
    // (Ann.queryArray), so no call reads the query row
    val strategies: Seq[(String, Long => DataFrame, Int)] = Seq(
      ("prefilterTopK", u => Rbac.prefilterTopK(sp, sf, u, k), 1),
      ("postfilterTopK", u => Rbac.postfilterTopK(sp, sf, u, k), 1),
      ("rlsTopK", u => Rbac.rlsTopK(sp, sf, u, k), 1),
      // they scan the persisted role and comb layouts, no parquet file
      ("rolePartitionTopK", u => Partitioned.rolePartitionTopK(sp, sf, u, k), 0),
      ("combPartitionTopK", u => Partitioned.combPartitionTopK(sp, sf, u, k), 0),
      ("dynamicPartitionTopK", u => Partitioned.dynamicPartitionTopK(sp, sf, u, k), 1),
      // after the first call the role layout is a BuildOnce hit, so no
      // call builds (and reads the corpus for) the layout's block frame
      ("prefilterPruned", u => sources.Layouts.prefilterPruned(sp, sf, u, k), 1),
      // it scans the IVF index's persisted cell frame, no parquet file
      ("predicateAwareSearch", u => ann.IvfIndex.predicateAwareSearch(sp, sf, u, topk = k), 0))
    for ((name, f, reads) <- strategies) {
      f(3L).collect() // first touch: layouts, indexes, schemas
      val bare = jobsOf(sp)(Tables.withoutSchemaCache(f(3L).collect()))
      val cached = jobsOf(sp)(f(3L).collect())
      assert(inference(bare).size == reads, s"$name: bare-read inference jobs $bare")
      assert(inference(cached).isEmpty, s"$name: inference jobs with the cache $cached")
      assert(bare.size - cached.size == reads,
        s"$name: ${bare.size} jobs bare vs ${cached.size} cached")
    }
  }

  test("an in-place rewrite with a new schema is read with the new schema") {
    val sp = spark
    val dir = s"${tmp("reader_dir")}/t"
    sp.range(4).select(col("id"), (col("id") * 2).as("a"))
      .write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(sp, dir).columns.toSeq == Seq("id", "a"))
    assert(inference(jobsOf(sp)(Tables.parquet(sp, dir))).isEmpty, "unchanged dir re-inferred")
    sp.range(3).select(col("id").cast("string").as("s"), lit(1.5).as("b"), col("id"))
      .write.mode("overwrite").parquet(dir)
    val df = Tables.parquet(sp, dir)
    assert(df.columns.toSeq == Seq("s", "b", "id"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
    // an append is a new version too (the committer rewrites _SUCCESS)
    sp.range(2).select(lit("x").as("s"), lit(2.5).as("b"), col("id"))
      .write.mode("append").parquet(dir)
    assert(Tables.parquet(sp, dir).count() == 5)

    // a single file: (size, mtime) is its stamp
    val file = s"${tmp("reader_file")}/one.parquet"
    def writeFile(df: DataFrame): Unit = {
      val out = tmp("reader_part")
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = Files.list(Paths.get(out)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(sp.range(3).select(col("id")))
    assert(Tables.parquet(sp, file).columns.toSeq == Seq("id"))
    writeFile(sp.range(3).select(col("id"), col("id").cast("string").as("name")))
    assert(Tables.parquet(sp, file).columns.toSeq == Seq("id", "name"))

    // a directory without the commit marker is never cached
    Files.delete(Paths.get(dir, "_SUCCESS"))
    assert(inference(jobsOf(sp)(Tables.parquet(sp, dir))).size == 1)
    assert(inference(jobsOf(sp)(Tables.parquet(sp, dir))).size == 1)
  }

  test("nanosAsLong changes the inferred events.ts type, as a bare read") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val sp = spark
    val dir = tmp("reader_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000000000000L + i * 1000L))
    } finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = sp.conf.getOption(key)
    // the inferred type, or the inference error's message
    def tsType(): Either[String, org.apache.spark.sql.types.DataType] =
      Try(Tables.parquet(sp, s"$dir/events.parquet").schema("ts").dataType)
        .toEither.left.map(_.getMessage)
    def bareType(): Either[String, org.apache.spark.sql.types.DataType] =
      Try(sp.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
        .toEither.left.map(_.getMessage)
    try {
      sp.conf.set(key, "true")
      assert(tsType() == Right(LongType))
      sp.conf.set(key, "false")
      val off = tsType()
      assert(off == bareType())
      assert(off != Right(LongType), "cached nanosAsLong schema served")
      sp.conf.set(key, "true")
      assert(tsType() == Right(LongType))
      // the events loader turns the raw nanos into a session timestamp
      assert(Tables.events(sp, dir).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    } finally prev match {
      case Some(v) => sp.conf.set(key, v)
      case None => sp.conf.unset(key)
    }
  }

  test("a PlanCut read-back has the written frame's schema and runs no inference job") {
    val sp = spark
    val df = sp.range(50).select(col("id"), (col("id") % 7).cast("int").as("g"),
      array(col("id").cast("float")).as("v"), col("id").cast("string").as("s"))
    var cuts = Seq.empty[DataFrame]
    val jobs = jobsOf(sp) {
      cuts = Seq(PlanCut.diskCutBounded(sp, df, 50L),
        PlanCut.diskCheckpointed(sp, df, gcNudge = false))
    }
    assert(inference(jobs).isEmpty, s"read-back inference jobs: $jobs")
    def namesAndTypes(st: StructType) = st.map(f => (f.name, f.dataType.sql))
    cuts.foreach { c =>
      assert(namesAndTypes(c.schema) == namesAndTypes(df.schema))
      // file relations are nullable, exactly as an inferring read
      assert(c.schema.forall(_.nullable))
      assert(c.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
      PlanCut.releaseDisk(c)
    }
  }
}

/** The one-reader rule: no engine file other than `Tables` (the
  * reader) and ScaleGen's generator check reads parquet by itself.
  */
class SourcePolicySpec extends AnyFunSuite {
  test("only the reader and ScaleGen's generator check call .read.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val allowed = Set("graft/Tables.scala", "graft/ScaleGen.scala")
    val bareRead = """\.read\s*\.(parquet\(|format\(\s*"parquet"\s*\))""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => !allowed(root.relativize(p).toString))
      .filter(p => bareRead.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty, s"bare parquet reads outside graft.Tables: $offenders")
  }

  test("one permission path: role filter, grant set, comb key and session config live once") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)
    def filesWith(re: scala.util.matching.Regex): Seq[String] =
      sources.collect { case (f, src) if re.findFirstIn(src).isDefined => f }
    def count(re: scala.util.matching.Regex, files: Seq[(String, String)] = sources): Int =
      files.map { case (_, src) => re.findAllMatchIn(src).size }.sum
    val outsideRbac = (f: String) => !f.startsWith("graft/rbac/")
    // the accessible SET is for SparkEntry's report keys only; filters
    // go through Rbac.restrict
    assert(filesWith("""accessibleDocs\(""".r).filter(outsideRbac) == Seq("graft/SparkEntry.scala"))
    // one grant join, and one grant-index filter in its place below
    // the index bound
    assert(count("""\.join\(broadcast\(heldRoles\(""".r) == 1)
    assert(filesWith("""inSet\(col\(key\),""".r) == Seq("graft/rbac/Rbac.scala"))
    assert(count("""inSet\(col\(key\),""".r) == 1)
    // ...bound per user: the InSet's ids are the index's `inSetOf`
    assert(count("""grantIndex\(spark, dir, ur\)\.flatMap\(_\.inSetOf\(userId\)\)""".r) == 1)
    assert(filesWith("""new GrantIndex\(""".r) == Seq("graft/rbac/Rbac.scala"))
    // one routing read: the grant index is read by restrict and
    // heldRoleIds (and built by Bench's grant_index warm step); every
    // role- and comb-keyed layout routes through heldRoleIds
    val code = ConsumerScan.sources("src/main/scala")
    def codeCount(re: scala.util.matching.Regex, f: String): Int =
      code.find(_._1 == f).map(c => re.findAllMatchIn(c._2).size).getOrElse(0)
    val indexReaders = code.collect { case (f, src) if src.contains("grantIndex(") => f }
    assert(indexReaders == Seq("graft/Bench.scala", "graft/rbac/Rbac.scala"),
      s"grant index readers: $indexReaders")
    assert(codeCount("""build\("grant_index"\)[^\n]*\n[^\n]*grantIndex\(""".r,
      "graft/Bench.scala") == 1, "Bench reads the grant index outside its warm step")
    // its definition, restrict and heldRoleIds
    assert(codeCount("""grantIndex\(""".r, "graft/rbac/Rbac.scala") == 3)
    val routingGone = Seq("rolesOf(", "combOf(", "routedCache", "probeUserCache")
      .filter(n => code.exists(_._2.contains(n)))
    assert(routingGone.isEmpty, s"deleted routing reads or per-user route stores are back: $routingGone")
    // a user's roles come from Rbac.heldRoles (through heldRoleIds for
    // one user) — the one user-role filter, for one user or a small set
    assert(filesWith("""(?s)userRoles\([^()]*\)\s*\.filter\(col\("user_id"\)""".r).isEmpty)
    assert(filesWith("""filter\(col\("user_id"\) ===""".r).isEmpty)
    assert(filesWith("""filter\(col\("user_id"\)\.isin\(""".r) == Seq("graft/rbac/Rbac.scala"))
    assert(count("""filter\(col\("user_id"\)\.isin\(""".r) == 1)
    // one comb_key definition, applied twice: to a doc's granting set
    // (Partitioned.combRoleSets, persisted as combKeys) and to a
    // user's held set (Rbac.userCombsFrom) — a serving call reads the
    // persisted doc keys and derives none
    val rbacFiles = sources.filter(s => !outsideRbac(s._1))
    assert(count("""sort_array\(collect_set\(""".r, rbacFiles) == 1)
    assert(count("""concat_ws\(",""".r) == 1)
    val combKeyCalls = code.flatMap { case (f, src) =>
      """(?<!def )\bcombKey\(""".r.findAllMatchIn(src).map(_ => f) }
    assert(combKeyCalls == Seq("graft/rbac/Partitioned.scala", "graft/rbac/Rbac.scala"),
      s"comb_key call sites: $combKeyCalls")
    def defBody(f: String, name: String): String = {
      val src = code.find(_._1 == f).get._2
      val at = src.indexOf(s"def $name(")
      assert(at >= 0, s"$f: no def $name")
      val rest = src.substring(at + 4)
      rest.take("""\n  (def|private|val|/\*\*|\})""".r.findFirstMatchIn(rest).fold(rest.length)(_.start))
    }
    assert(defBody("graft/rbac/Partitioned.scala", "combRoleSets").contains("combKey("))
    // the role-partition merge dedups the over-fetched top rows, never
    // by an aggregate over the scored rows
    assert(!defBody("graft/rbac/Partitioned.scala", "roleMergeTopK").contains("groupBy"),
      "roleMergeTopK dedups through a groupBy")
    // one session bootstrap
    assert(filesWith("""\.getOrCreate\(\)""".r) == Seq("graft/Session.scala"))
    assert(count("""sortBased\.fallbackThreshold""".r) == 1)
  }

  test("one exact top-k rule: dist column, order tail, query row and query array live once") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)
    def filesWith(re: scala.util.matching.Regex): Seq[String] =
      sources.collect { case (f, src) if re.findFirstIn(src).isDefined => f }
    def count(re: scala.util.matching.Regex): Int =
      sources.map { case (_, src) => re.findAllMatchIn(src).size }.sum
    // the exact L2 distance column: Ann.scored / Ann.withDist
    val l2Dist = """\.withColumn\("dist", l2_dist\(col\("embedding"\), col\("qvec"\)\)\)""".r
    assert(filesWith(l2Dist) == Seq("graft/ann/Ann.scala"))
    assert(count(l2Dist) == 1)
    // the order/limit tail: Ann.firstK. The only other "dist" tails rank
    // a distance their own frame defines right above them, and none of
    // those is the L2 distance over `embedding` (L1, half precision)
    val tail = """(?s)orderBy\(col\("dist"\), col\([^()]*\)\)\s*\.limit\(""".r
    val firstK = """orderBy\(col\("dist"\), col\(id\)\)\.limit\(""".r
    assert(filesWith(firstK) == Seq("graft/ann/Ann.scala"))
    assert(count(firstK) == 1)
    val ownTail = ("""(?s)withColumn\("dist", (\w+)\(col\("(\w+)"\), col\("qvec"\)\)\)""" +
      """\s*\.orderBy\(col\("dist"\), col\([^()]*\)\)\s*\.limit\(""").r
    val own = sources.flatMap { case (_, src) =>
      ownTail.findAllMatchIn(src).map(m => (m.group(1), m.group(2))) }
    assert(!own.contains(("l2_dist", "embedding")), s"hand-written L2 tails: $own")
    assert(count(tail) == 1 + own.size, s"a dist tail outside Ann.firstK: $own")
    // ...and an L2 tail under any other names: an l2_dist column that
    // the same def orders and limits. Only two stay, neither an exact
    // L2 over the corpus: half precision (`hvec`) and PCA's projected
    // short list (`proj`), which Ann.firstK re-ranks exactly
    val l2Col = ("""withColumn\("(\w+)", l2_dist\(col\("(\w+)"\), col\("(\w+)"\)\)\)""" +
      """|l2_dist\(col\("(\w+)"\), col\("(\w+)"\)\)\.as\("(\w+)"\)""").r
    val l2Tails = ConsumerScan.sources("src/main/scala").flatMap { case (f, src) =>
      l2Col.findAllMatchIn(src).flatMap { m =>
        val (name, a, b) =
          if (m.group(1) != null) (m.group(1), m.group(2), m.group(3))
          else (m.group(6), m.group(4), m.group(5))
        val rest = src.substring(m.end)
        val sameDef = rest.take("""\bdef\b""".r.findFirstMatchIn(rest).fold(rest.length)(_.start))
        val ranked = ("""(?s)\.orderBy\(col\("""" + name + """"\)[^\n]*\)\s*\.limit\(""").r
        ranked.findFirstIn(sameDef).map(_ => s"$f: l2_dist($a, $b)")
      }
    }
    assert(l2Tails.sorted == Seq(
      "graft/ann/Half.scala: l2_dist(hvec, qvec)", "graft/ann/Pca.scala: l2_dist(proj, qproj)"),
      s"hand-written L2 order/limit tails: $l2Tails")
    // the one query row: Rbac.queryVector
    val queryRow =
      """(?s)filter\(col\("vec_id"\) ===[^\n]*\s*\.select\(col\("embedding"\)\.as\("qvec"\)\)""".r
    assert(filesWith(queryRow) == Seq("graft/rbac/Rbac.scala"))
    assert(count(queryRow) == 1)
    assert(count("""\.select\(col\("embedding"\)\.as\("qvec"\)\)""".r) == 1)
    // the one query array: Ann.queryArray, over the query row; the only
    // other collected vector is OPQ's rotated query (`proj`)
    val toArray = """getSeq\[Float\]\(0\)\.toArray""".r
    val queryArray = """queryVector\([^()]*\)\.head\(\)\.getSeq\[Float\]\(0\)\.toArray""".r
    assert(filesWith(queryArray) == Seq("graft/ann/Ann.scala"))
    assert(count(queryArray) == 1)
    // ...the only reader of the query row; every query site binds the
    // array through the one literal binding, Ann.withQuery
    val code = ConsumerScan.sources("src/main/scala")
    val rowReaders = code.collect {
      case (f, src) if """(?<!def )queryVector\(""".r.findFirstIn(src).isDefined => f }
    assert(rowReaders == Seq("graft/ann/Ann.scala"), s"query-row readers: $rowReaders")
    val binding = """withColumn\("qvec", typedLit\(""".r
    assert(code.collect { case (f, src) if binding.findFirstIn(src).isDefined => f } ==
      Seq("graft/ann/Ann.scala"))
    assert(code.map { case (_, src) => binding.findAllMatchIn(src).size }.sum == 1)
    assert(count(toArray) == 1 + count("""(?s)\.select\("proj"\)\s*\.head\(\)\.getSeq""".r))
  }

  test("one batch query frame and one batched exact top-k") {
    val sources = ConsumerScan.sources("src/main/scala")
    def count(re: scala.util.matching.Regex, files: Seq[(String, String)] = sources): Int =
      files.map { case (_, src) => re.findAllMatchIn(src).size }.sum
    // Equivalence's quadratic batch top-k is the independent reference
    // the blocked kNN graph is checked against, so it keeps its own copy
    val engine = sources.filter(_._1 != "graft/Equivalence.scala")
    val batchBody = """topk_ids\(l2_dist\(col\("embedding"\), col\("qvec"\)\)""".r
    assert(count(batchBody, engine) == 1, "a batched L2 top-k outside Ann.exactTopK")
    assert(count(batchBody, sources.filter(_._1 == "graft/ann/Ann.scala")) == 1)
    val queryRow = """col\("embedding"\)\.as\("qvec"\)""".r
    val rowFiles = engine.collect { case (f, src) if queryRow.findFirstIn(src).isDefined => f }
    assert(rowFiles == Seq("graft/ann/Ann.scala", "graft/rbac/Rbac.scala") &&
      count(queryRow, engine) == 2,
      s"query rows outside Rbac.queryVector and Ann.queryFrame: $rowFiles")
    val gone = Seq("boundedUserDocs", "userQueries", "workloadQueries")
      .filter(n => sources.exists(_._2.contains(n)))
    assert(gone.isEmpty, s"deleted per-caller frames or grant rules are back: $gone")
  }

  test("one build-once rule: version keys, scoping and locks live in BuildOnce.scala") {
    val sources = ConsumerScan.sources("src/main/scala")
    def filesWith(re: scala.util.matching.Regex): Seq[String] =
      sources.collect { case (f, src) if re.findFirstIn(src).isDefined => f }
    val store = "graft/BuildOnce.scala"
    // SessionCache scopes context-bound values by application; a store
    // reading applicationId itself re-implements that eviction
    assert(filesWith("""applicationId""".r) == Seq(store))
    // BuildOnce takes a per-key lock; every other store, the on-disk
    // layouts included, builds through it
    val locks = filesWith("""\.synchronized\b""".r)
    assert(locks == Seq(store), s"hand-rolled locks outside BuildOnce: $locks")
    // a bare TrieMap memo runs its build in every racing caller; the
    // only others are Ann's descent recorders, which record counts a
    // build observed and build nothing
    val recorders = """val (descentCandStats|descentInitStats) =\s*scala\.collection\.concurrent\.TrieMap""".r
    val trieMaps = sources.filter(_._1 != store)
      .filter { case (_, src) => "TrieMap".r.findAllMatchIn(src).size >
        recorders.findAllMatchIn(src).size }
      .map(_._1)
    assert(trieMaps.isEmpty, s"TrieMap stores outside BuildOnce / SessionCache: $trieMaps")
    assert(sources.map { case (_, src) => recorders.findAllMatchIn(src).size }.sum == 2)
    // every store access names the dataset dir, which the store keys by
    // its data version: the signature leaves no way to key by a bare path
    val storeSrc = sources.find(_._1 == store).get._2
    val publicDefs = """(?m)^  def (\w+)\(([^)]*)\)""".r.findAllMatchIn(storeSrc)
      .map(m => m.group(1) -> m.group(2)).toSeq
    assert(publicDefs.map(_._1).sorted == Seq("entries", "getOrElseUpdate", "put"), publicDefs)
    assert(publicDefs.forall(_._2.startsWith("spark: SparkSession, dir: String")), publicDefs)
    // ...and no caller repeats the dir inside the rest of the key, or
    // computes a version itself
    val dirInKey = """(getOrElseUpdate|put)\(\s*\w+,\s*(\w+),\s*\(\2\b""".r
    assert(filesWith(dirInKey).isEmpty, s"a store key holding the dataset path: ${filesWith(dirInKey)}")
    assert(filesWith("""Tables\.version\(""".r) == Seq(store, "graft/sources/Layouts.scala"))
    val gone = Seq("SessionFrameCache", "sourceStamp", "Tables.stamp(", "retainKeys")
      .filter(n => sources.exists(_._2.contains(n)))
    assert(gone.isEmpty, s"deleted stamp rules or store classes are back: $gone")
    // one modification-time read: a file's (size, mtime) is Tables'
    val mtimes = filesWith("""getLastModifiedTime|getModificationTime|\.lastModified\b""".r)
    assert(mtimes == Seq("graft/Tables.scala"), s"modification-time reads outside Tables: $mtimes")
  }

  test("one derivation per layout: role rows, comb routing, user combs, layout cache, degree cap") {
    val sources = ConsumerScan.sources("src/main/scala")
    def count(re: scala.util.matching.Regex): Int =
      sources.map { case (_, src) => re.findAllMatchIn(src).size }.sum
    def source(f: String): String = sources.find(_._1 == f).map(_._2).get
    // the role layout rows: Partitioned.roleLayoutOf, which the
    // materialized layout, its insert routing and GroupedKMeans' points call
    assert(count("""\.join\(Rbac\.permissions\(spark, dir\), "document_id"\)""".r) == 1,
      "a second block → granting-role layout derivation")
    // the one M_max degree cap: GraphSearch.degreeCap
    assert(count("""col\("rn"\) <= 2 \* gk""".r) == 1, "a second graph degree cap")
    // comb and qd-tree leaf routing IS the permission filter
    assert(!source("graft/ann/IvfIndex.scala").contains("Rbac.permissions"),
      "qd-tree routing re-derives the grant rows")
    // the user-comb frames live in Rbac, and so does a user's comb key
    // on the driver: every comb-keyed driver map is keyed by comb_key
    // (heldCombKey), none by role ids regrouped from combRolesFrom
    for (d <- Seq("userCombsFrom", "combRolesFrom", "heldCombKey"))
      assert(sources.collect { case (f, src) if src.contains(s"def $d") => f } ==
        Seq("graft/rbac/Rbac.scala"), s"$d defined outside Rbac")
    assert(count("""Map\[Seq\[Long\]""".r) == 0, "a driver map keyed by role ids")
    assert(count("""(?<!def )\bcombRolesFrom\(""".r) <= 2, "a comb map regroups combRolesFrom")
    // one cost-model layout cache, keyed by permission model
    assert(!source("graft/rbac/Hierarchy.scala").contains("layoutCache"))
    assert(count("\"#dag\"".r) == 0, "a dataset-dir suffix keying a layout cache")
    // A21's graph indexes and walks belong to the routed partition set
    assert(count("""dynpart\$\{?userId""".r) == 0, "a user-keyed partition graph tag")
    // a k-list index has one corpus-side cell layout, IvfIndex.withCells:
    // no second persisted assignment, no re-assignment of the corpus in
    // the code table or the range prune, and B9 projects the qd-tree's
    // (comb_key, cell) group table instead of building its own
    val withSpecs = sources ++ ConsumerScan.sources("src/test/scala")
    val assignSites = withSpecs.collect {
      case (f, src) if """def\s+assignments\b|IvfIndex\.assignments\(""".r.findFirstIn(src).isDefined => f
    }
    assert(assignSites.isEmpty, s"a second persisted cell assignment: $assignSites")
    def calls(f: String, re: String): Int = re.r.findAllMatchIn(source(f)).size
    assert(calls("graft/ann/PqIndex.scala", """nearest_centroid\(""") == 0,
      "the IVFADC code table re-assigns cells")
    assert(calls("graft/ann/IvfIndex.scala", """nearest_centroid\(""") <= 4,
      "IvfIndex re-assigns cells outside the fit, withCells, cellRadii and qdTreeSearch")
    assert(calls("graft/ann/IvfIndex.scala", """\bcombKeys\(""") == 0,
      "B9 builds its own (comb_key, cell) groups")
  }

  test("one sidecar writer: only Verify writes, through Sidecars.write") {
    val sources = ConsumerScan.sources("src/main/scala")
      .filter(_._1 != "graft/Sidecars.scala")
    def filesWith(re: scala.util.matching.Regex): Seq[String] =
      sources.collect { case (f, src) if re.findFirstIn(src).isDefined => f }
    val names = Sidecars.frames.keys.map(java.util.regex.Pattern.quote).mkString("|")
    val offenders = Seq(
      "Sidecars.active" -> """Sidecars\.active\b""".r,
      "Sidecars.path(" -> """Sidecars\.path\(""".r,
      "a *Written cache" -> """\w+Written\s*=\s*new\b""".r,
      "a write*Sidecar def" -> """def\s+write\w*Sidecars?\b""".r,
      "a .parquet( aimed at a sidecar" ->
        ("""\.parquet\([^)\n]*(Sidecars\.|""" + names + ")").r
    ).flatMap { case (what, re) => filesWith(re).map(f => s"$f: $what") }
    assert(offenders.isEmpty, s"sidecar writes outside Sidecars.scala: $offenders")
    assert(filesWith("""Sidecars\.write\(""".r) == Seq("graft/Verify.scala"),
      "the sidecar writer has a caller other than Verify")
  }

  test("every public object member has a consumer outside its own definition") {
    val allowed = ConsumerScan.allowed
    val found = ConsumerScan.unreferenced
    val offenders = found.filterNot(m =>
      m.file.startsWith("graft/streaming/") || allowed.contains(m.name))
    assert(offenders.isEmpty, "public members no engine code, main or perfbench " +
      s"harness references (delete them or give them a consumer):\n${offenders.mkString("\n")}")
    val stale = allowed.keySet -- found.map(_.name)
    assert(stale.isEmpty, s"allow-list entries that now have a consumer or are gone: $stale")
  }

  test("every main is named in the verify skill") {
    val skill = new String(Files.readAllBytes(Paths.get(".claude/skills/verify/SKILL.md")), "UTF-8")
    val mains = ConsumerScan.mains
    assert(mains.nonEmpty, "no main found: run from the repository root")
    val unnamed = mains.filterNot(m =>
      ("\\b" + java.util.regex.Pattern.quote(m) + "\\b").r.findFirstIn(skill).isDefined)
    assert(unnamed.isEmpty, s"mains with no documented use in SKILL.md: $unnamed")
  }
}

/** A text scan of the engine's sources for members and mains nothing
  * runs. Comments are blanked (string literals are code); an object
  * member's own definition (its line and the lines indented below it)
  * does not count as a reference to it, and neither do the specs: a
  * reference is any other occurrence of the name under `src/main/scala`
  * or `perfbench/harness`.
  */
object ConsumerScan {
  /** Unreferenced members that stay, and why. Everything under
    * `graft/streaming/` stays too: the north star names the streaming
    * units.
    */
  val allowed: Map[String, String] = {
    val maintenance = "reproduces the reference's insert/delete/rollback " +
      "maintenance scripts named in its doc"
    Map(
      "Layouts.compactInserts" -> maintenance,
      "Layouts.rollbackBatch" -> maintenance,
      "Layouts.deleteBatch" -> maintenance,
      "Layouts.rollbackDelete" -> maintenance,
      "Layouts.rewritePartition" -> maintenance,
      "GroupedKMeans.sse" -> "the k-means quality reference the specs compare against",
      "SparkEntry.entry" -> "the flagship smoke-check entry point its doc declares")
  }

  final case class Member(file: String, line: Int, name: String) {
    override def toString = s"$file:$line $name"
  }

  /** (relative path, code with comments blanked) of every source under `dir`. */
  def sources(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> code(new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq.sortBy(_._1)
  }

  /** `src` with every comment blanked to spaces (newlines kept). */
  private def code(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def keep(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    def blank(j: Int): Unit = {
      src.substring(i, j).foreach(c => out += (if (c == '\n') '\n' else ' ')); i = j
    }
    def end(j: Int, width: Int): Int = if (j < 0) n else j + width
    while (i < n) {
      if (src.startsWith("//", i)) blank(end(src.indexOf('\n', i), 0))
      else if (src.startsWith("/*", i)) {
        var (depth, j) = (0, i)
        while ({
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
          depth > 0 && j < n
        }) ()
        blank(j)
      } else if (src.startsWith("\"\"\"", i)) {
        var j = end(src.indexOf("\"\"\"", i + 3), 3)
        while (j < n && src(j) == '"') j += 1
        keep(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        keep(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\')
        keep(end(src.indexOf('\'', i + 3), 1))
      else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') keep(i + 3)
      else keep(i + 1)
    }
    out.toString
  }

  private val objectHeader =
    """(?:^|\s)object\s+(\w+)(?:\s+extends\s[^{}=;]*)?\s*$""".r.unanchored
  private val memberLine =
    ("""^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|""" +
      """implicit\s+|lazy\s+|@\w+\s+)*)(def|val|var)\s+(\w+)""").r.unanchored

  /** Per line: the name of the object whose body the line starts in. */
  private def enclosingObjects(code: String): Array[Option[String]] = {
    val lines = code.split("\n", -1)
    val out = new Array[Option[String]](lines.length)
    var stack = List.empty[Option[String]]
    var stmt = 0 // where the current statement header began
    var pos = 0
    lines.indices.foreach { li =>
      out(li) = stack.headOption.flatten
      lines(li).indices.foreach { k =>
        val at = pos + k
        lines(li)(k) match {
          case '{' =>
            val header = code.substring(math.max(stmt, at - 300), at)
            stack = (header match {
              case objectHeader(name) => Some(name)
              case _ => None
            }) :: stack
            stmt = at + 1
          case '}' => stack = stack.drop(1); stmt = at + 1
          case ';' | '=' => stmt = at + 1
          case _ =>
        }
      }
      pos += lines(li).length + 1
    }
    out
  }

  private val word = """\w+""".r

  /** Public (no private/protected/override) object members, other than
    * `main`, that no code outside their own definition names.
    */
  lazy val unreferenced: Seq[Member] = {
    val engine = sources("src/main/scala")
    val all = engine ++ sources("perfbench/harness")
    val uses = all.flatMap { case (_, c) => word.findAllIn(c) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    engine.flatMap { case (file, c) =>
      val lines = c.split("\n", -1)
      val owners = enclosingObjects(c)
      lines.indices.flatMap { li =>
        (owners(li), lines(li)) match {
          case (Some(obj), memberLine(indent, mods, _, name))
              if !mods.matches("""(?s).*\b(private|protected|override)\b.*""") &&
                name != "main" =>
            def indentOf(l: String) = l.length - l.dropWhile(_ == ' ').length
            val body = lines.indices.drop(li + 1).takeWhile(j =>
              lines(j).trim.isEmpty || indentOf(lines(j)) > indent.length)
            val closer = lines.lift(li + 1 + body.size)
              .filter(l => l.trim.startsWith("}") || l.trim.startsWith(")"))
            val own = (lines(li) +: body.map(lines) ++: closer.toSeq)
              .flatMap(word.findAllIn(_)).count(_ == name)
            if (uses.getOrElse(name, 0) == own) Some(Member(file, li + 1, s"$obj.$name"))
            else None
          case _ => None
        }
      }
    }
  }

  /** Fully qualified name of every object that defines `def main`. */
  lazy val mains: Seq[String] =
    sources("src/main/scala").flatMap { case (_, c) =>
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(c).map(_.group(1) + ".")
      val owners = enclosingObjects(c)
      c.split("\n", -1).zipWithIndex.collect {
        case (l, li) if l.trim.startsWith("def main(") && owners(li).isDefined =>
          pkg.getOrElse("") + owners(li).get
      }
    }.distinct.sorted
}

/** Walk scratch (graphTopKFor, G17's per-trigger unit): the final
  * round's checkpoint directory is released with the walk.
  */
class WalkScratchSpec extends AnyFunSuite {
  import SparkTest._

  test("repeated graphTopKFor calls keep PlanCut's directory count bounded") {
    import graft.ann.GraphSearch
    val sp = spark
    val queries = Tables.embeddings(sp, sf).filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000L).as("query_id"), col("embedding").as("qvec"))
    def serve(): Unit = {
      val out = GraphSearch.graphTopKFor(sp, sf, queries)
      out.unpersist(blocking = true)
    }
    serve() // first touch builds the session's serving graph and medoids
    val before = PlanCut.liveDirs
    (1 to 4).foreach(_ => serve())
    assert(PlanCut.liveDirs <= before,
      s"checkpoint dirs grew from $before to ${PlanCut.liveDirs} over 4 calls")
  }
}
