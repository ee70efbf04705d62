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
    // (strategy, parquet reads per call)
    val strategies: Seq[(String, Long => DataFrame, Int)] = Seq(
      ("prefilterTopK", u => Rbac.prefilterTopK(sp, sf, u, k), 2),
      ("postfilterTopK", u => Rbac.postfilterTopK(sp, sf, u, k), 2),
      ("rlsTopK", u => Rbac.rlsTopK(sp, sf, u, k), 2),
      ("rolePartitionTopK", u => Partitioned.rolePartitionTopK(sp, sf, u, k), 2),
      ("combPartitionTopK", u => Partitioned.combPartitionTopK(sp, sf, u, k), 2),
      ("dynamicPartitionTopK", u => Partitioned.dynamicPartitionTopK(sp, sf, u, k), 2),
      ("prefilterPruned", u => sources.Layouts.prefilterPruned(sp, sf, u, k), 3),
      ("predicateAwareSearch", u => ann.IvfIndex.predicateAwareSearch(sp, sf, u, topk = k), 2))
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
      cuts = Seq(PlanCut.diskCut(sp, df), PlanCut.diskCutBounded(sp, df, 50L),
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
    // one grant join
    assert(count("""\.join\(broadcast\(rolesOf\(""".r) == 1)
    // a user's roles come from Rbac.rolesOf — the one user-role filter
    assert(filesWith("""(?s)userRoles\([^()]*\)\s*\.filter\(col\("user_id"\) ===""".r).isEmpty)
    assert(filesWith("""filter\(col\("user_id"\) ===""".r) == Seq("graft/rbac/Rbac.scala"))
    assert(count("""filter\(col\("user_id"\) ===""".r) == 1)
    // one comb_key definition
    val rbacFiles = sources.filter(s => !outsideRbac(s._1))
    assert(count("""sort_array\(collect_set\(""".r, rbacFiles) == 1)
    assert(count("""concat_ws\(",""".r) == 1)
    // one session bootstrap
    assert(filesWith("""\.getOrCreate\(\)""".r) == Seq("graft/Session.scala"))
    assert(count("""sortBased\.fallbackThreshold""".r) == 1)
  }
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
