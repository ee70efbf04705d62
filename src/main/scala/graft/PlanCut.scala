package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage truncation for ITERATIVE builds (r10).
  *
  * An iteratively-built DataFrame (NN-Descent rounds, graph repair
  * chains, walk rounds) references its previous round's plan several
  * times per step, so the LOGICAL plan grows multiplicatively per
  * iteration even when every round is persisted — and every downstream
  * action re-pays plan analysis over the whole tree (observed: the NND
  * serving graph cost ~7 s of pure driver-side analysis per action at
  * sf0.001, 25× its sibling, with zero executor work). Persisting alone
  * does not help: InMemoryRelation substitution happens AFTER analysis.
  *
  * `checkpointed` materializes the frame, REBASES it onto its computed
  * row RDD (the plan becomes a flat scan — the Bpe/cutRound convention),
  * and re-persists the rebased frame so that:
  *   - downstream plans embed one LogicalRDD leaf, not the build tree;
  *   - the returned frame's own unpersist() releases its storage
  *     normally (a bare createDataFrame(p.rdd, _) rebase would leave
  *     unpersist a silent no-op — the original plan, not the rebased
  *     one, is what CacheManager knows);
  *   - eviction stays safe: a lost block recomputes through the
  *     original lineage held by the underlying RDD DAG.
  * The original's cache entry is released (blocking) before returning,
  * so the transient double-copy never outlives the call. On a cluster
  * this is exactly a per-step RDD checkpoint of the build.
  */
private[graft] object PlanCut {
  def checkpointed(spark: SparkSession, df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    val rb = spark.createDataFrame(p.rdd, df.schema).persist()
    rb.count()
    p.unpersist(blocking = true)
    rb
  }

  private val ckptRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    // deleteOnExit is a NO-OP for non-empty directories (ADVICE r13):
    // every run's checkpoint parquet would accumulate in /tmp across
    // JVM exits — a slow disk leak on the same host whose ENOSPC
    // motivated the disk checkpoint. A shutdown hook deletes the tree
    // recursively (children first).
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(p.toFile)))
    p
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** Checkpoint dir of each frame `diskCheckpointed` returned, so a
    * superseded round's parquet can be deleted the moment nothing
    * reads it (weak keys: an abandoned frame never pins its entry).
    */
  private val diskDirs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, String]())

  /** Unpersist a disk-checkpointed round AND delete its parquet dir —
    * for callers that know the frame no longer feeds any computation
    * (the descent loop's superseded rounds). No-op on frames from
    * other sources.
    */
  def releaseDisk(df: DataFrame): Unit = {
    df.unpersist()
    Option(diskDirs.remove(df)).foreach(d => rmTree(new java.io.File(d)))
  }
  private val ckptSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Checkpoint dirs currently on disk (test observability: a released
    * round must not leave its directory behind).
    */
  private[graft] def liveDirs: Int =
    Option(ckptRoot.toFile.listFiles()).map(_.count(_.isDirectory)).getOrElse(0)

  /** Read a checkpoint back with the schema of the frame just written
    * to it: the schema is known, so no inference job runs (see
    * `Tables.parquet`); the file relation makes it nullable, exactly as
    * an inferring read would.
    */
  private def readBack(spark: SparkSession, written: DataFrame, dir: String): DataFrame =
    spark.read.schema(written.schema).parquet(dir)

  /** FULL lineage cut via a disk checkpoint — for iterative builds
    * whose per-round SHUFFLES are large (r13). `checkpointed` above
    * keeps the original lineage reachable (eviction-safe recompute),
    * which also PINS every superseded round's shuffle files: the
    * 100× NN-Descent build accumulates ~20 GB of shuffle per round
    * and ran the host out of disk once round 3 existed. Writing the
    * (slim) round output to parquet and reading it back makes the
    * old round's shuffle dependencies unreachable; the explicit GC
    * nudge hands them to the ContextCleaner NOW rather than at its
    * 30-minute periodic sweep, so peak shuffle disk is one round,
    * not the whole build. On a cluster this is exactly
    * `rdd.checkpoint()` to HDFS between iterations — the standard
    * iterative-job discipline. The parquet files (megabytes: round
    * outputs are slim id pairs) live for the JVM's lifetime; the
    * gigabytes they unpin do not.
    */
  /** Disk cut for SLIM iterative rounds (r16): like `diskCheckpointed`
    * but sized from the data and without the persist of the read-back
    * or the GC nudge. Motivation is the TASK BINARY, not shuffle disk:
    * `checkpointed`'s rebase keeps the original lineage reachable
    * inside the RDD DAG, so every downstream task SERIALIZES the whole
    * multi-round build tree — measured on the serving walks at sf0.1:
    * 192-partition final frames whose every scan spent 18.2 s of 19.3 s
    * task time in Executor Deserialize Time (~95 ms/task of pure
    * closure decode for KB of data), growing a round's worth of DAG
    * per iteration. A parquet round-trip makes downstream tasks decode
    * one flat FileScanRDD; the coalesce (≥`rowsPerPartition` slim rows
    * per partition, floor 1) keeps the file count — and so every
    * downstream stage's task count — proportional to the DATA rather
    * than to rounds × shuffle.partitions. The frame is NOT persisted:
    * re-reading a few slim parquet files per action is cheaper than
    * block-manager traffic, keeps eviction semantics trivial, and
    * leaves the suite's persisted-block accounting untouched.
    */
  def diskCut(spark: SparkSession, df: DataFrame,
              rowsPerPartition: Long = 65536L): DataFrame = {
    val p = df.persist()
    val n = p.count()
    val parts = math.max(1L, n / rowsPerPartition).toInt
    val dir = ckptRoot.resolve(s"r${ckptSeq.incrementAndGet()}").toString
    spark.createDataFrame(p.rdd.coalesce(parts), df.schema)
      .write.mode("overwrite").parquet(dir)
    p.unpersist(blocking = true)
    val rb = readBack(spark, df, dir)
    diskDirs.put(rb, dir)
    rb
  }

  /** `diskCut` for rounds whose row count is BOUNDED BY CONSTRUCTION
    * (r17): the walk rounds' visited sets grow at most nq·ef·2gk rows
    * per round, so the caller can size the output files from that
    * bound instead of counting. This halves the per-round job count —
    * diskCut's persist+count materializes the round once into the
    * block manager and then re-reads it for the write (two jobs, plus
    * block-manager traffic); here the single parquet write IS the
    * round's one materialization. An over-estimated bound only costs
    * slightly-small files (never correctness); the partition count
    * still grows with the data through the bound's nq·ef terms.
    */
  def diskCutBounded(spark: SparkSession, df: DataFrame,
                     maxRows: Long,
                     rowsPerPartition: Long = 65536L): DataFrame = {
    val parts = math.max(1L, maxRows / rowsPerPartition).toInt
    val dir = ckptRoot.resolve(s"r${ckptSeq.incrementAndGet()}").toString
    df.coalesce(parts).write.mode("overwrite").parquet(dir)
    val rb = readBack(spark, df, dir)
    diskDirs.put(rb, dir)
    rb
  }

  /** `gcNudge` (r17): the explicit GC exists ONLY to hand superseded
    * rounds' multi-GB shuffle files to the ContextCleaner before its
    * 30-minute sweep — the 100×-dir ENOSPC guard. Below that regime
    * (oracle-SF corpora, where a round's shuffle is megabytes) the
    * nudge is a full stop-the-world collection on a ~90 GB heap that
    * pauses every concurrently running bench query for nothing;
    * callers gate it on the build's member count (the exact-build
    * ceiling — precisely the scale where descent builds replace exact
    * ones and rounds get big).
    */
  def diskCheckpointed(spark: SparkSession, df: DataFrame,
                       gcNudge: Boolean = true): DataFrame = {
    val dir = ckptRoot.resolve(s"r${ckptSeq.incrementAndGet()}").toString
    df.write.mode("overwrite").parquet(dir)
    val rb = readBack(spark, df, dir).persist()
    rb.count()
    diskDirs.put(rb, dir)
    if (gcNudge)
      System.gc() // release superseded rounds' shuffle deps to the cleaner
    rb
  }
}
