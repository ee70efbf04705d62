package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.{DynamicVariable, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries read through here so column pruning / filter pushdown are
  * uniform: callers `.select` only what they need and Catalyst pushes the
  * projection into the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** THE parquet reader: every engine read of a parquet path goes
    * through here (SourcePolicySpec keeps it that way). A bare
    * `spark.read.parquet` infers the schema with a one-task Spark job
    * that reads a footer, on every call, although nothing changed since
    * the previous call; at the serving shapes those jobs were ~2 of a
    * strategy call's ~9. Here a path's schema is inferred once per FILE
    * VERSION, and later reads pass it to `spark.read.schema`, which
    * launches no job. Every call still builds a fresh relation (fresh
    * expression ids, fresh file listing), so self-joins, aliasing and
    * newly appended files behave exactly as with a bare read; only the
    * StructType is reused.
    *
    * The cache holds plain JVM data, so like the sidecar arrays in
    * SessionFrameCache's doc it outlives a session. An entry is keyed
    * by the qualified path and the SQL confs that change parquet
    * inference, and holds the path's version stamp:
    *   - a file: (size, mtime), the stamp `Layouts.layoutRoot` uses;
    *   - a directory: the mtime of its `_SUCCESS` marker, which every
    *     Spark write commit rewrites (appends included). A directory
    *     WITHOUT the marker (a write in flight, a foreign writer) is
    *     never cached: it is read as a bare read.
    * A new stamp replaces the entry, so rewrites do not accrete entries.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val hp = new Path(path)
    val qualified = hp.getFileSystem(hconf).makeQualified(hp)
    versionStamp(hconf, qualified).filterNot(_ => schemaCacheOff.value) match {
      case None => spark.read.parquet(path)
      case Some(stamp) =>
        val key = (qualified.toString,
          InferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")))
        Option(schemas.get(key)).filter(_._1 == stamp) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path) // first touch: infer once
            // a full reset costs one inference per live path
            if (schemas.size >= MaxSchemas) schemas.clear()
            schemas.put(key, (stamp, df.schema))
            df
        }
    }
  }

  /** SQL confs whose value changes what parquet schema inference
    * returns for the same file (`events` flips nanosAsLong).
    */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val MaxSchemas = 4096
  private val schemas =
    new ConcurrentHashMap[(String, Seq[String]), (Seq[Long], StructType)]()

  /** `path`'s version stamp, the one `parquet` keys its schema by —
    * for driver-side values read from a file (`Ann.queryArray`). None:
    * no stable version, so no cached value.
    */
  private[graft] def stamp(spark: SparkSession, path: String): Option[(String, Seq[Long])] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val hp = new Path(path)
    val qualified = hp.getFileSystem(hconf).makeQualified(hp)
    versionStamp(hconf, qualified).map(qualified.toString -> _)
  }

  private def versionStamp(hconf: Configuration, p: Path): Option[Seq[Long]] = Try {
    val fs = p.getFileSystem(hconf)
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st.getLen, st.getModificationTime)
    else Seq(fs.getFileStatus(new Path(p, "_SUCCESS")).getModificationTime)
  }.toOption // missing path, glob or missing marker: uncached bare read

  private val schemaCacheOff = new DynamicVariable(false)

  /** Test hook: run `body` with every read inferring its schema, as a
    * bare `spark.read.parquet` does (ParquetReaderSpec's baseline).
    */
  private[graft] def withoutSchemaCache[T](body: => T): T =
    schemaCacheOff.withValue(true)(body)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet stores a naive (not UTC-adjusted) timestamp, which
    * Spark infers as TIMESTAMP_NTZ; downstream operators and the DuckDB
    * oracle both speak plain session-local TIMESTAMP (sessions here pin
    * UTC), so normalize the column to TimestampType. Earlier testdata
    * generations stored TIMESTAMP(NANOS) — kept readable via the
    * nanos-as-long legacy read + micros truncation, branch chosen from
    * the file's own inferred type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already session-local timestamps
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan a row-level pipeline's input out to the scheduler's
    * parallelism ONLY when the scan is narrower (r16, guide §2.4): the
    * text/dedup operators opened with an unconditional
    * `repartition(defaultParallelism)` so a one-file small-SF scan
    * parallelizes its tokenize/shingle kernels — but at 100 TB the scan
    * already carries far more splits than cores and the same line is a
    * full shuffle of the corpus TEXT for nothing. Callers must be
    * partition-layout-insensitive (per-row kernels, integer-count
    * aggregations, hash-derived keys — no float summation order).
    *
    * MUST receive a SCAN-ROOTED frame (ADVICE r16): the partition-count
    * probe goes through df.rdd, which physically plans the frame on
    * every call — free for the raw table scans passed today, but a
    * frame with exchanges would re-plan per call and, under AQE, report
    * the un-finalized count.
    */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }
}
