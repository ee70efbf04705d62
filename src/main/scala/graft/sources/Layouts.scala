package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rbac.{Partitioned, Rbac}

/** Materialized physical layouts — the write-side of the reference's
  * partition tables (controller/baseline/prefilter/initialize_partitions
  * .py creates `documentblocks_role_%` TABLES; the Spark-native
  * equivalent is PARTITIONED PARQUET, where query-time routing becomes
  * file pruning the scan never reads past).
  *
  * `materializeRoleLayout` writes blocks duplicated per granting role,
  * `partitionBy("partition_role")`; `prunedRoleSearch` reads it back
  * with a partition predicate — `PartitionFilters` in the scan node (see
  * LayoutSpec) proves only the user's role directories are touched. At
  * 100 TB this is the difference between scanning ~2 role partitions
  * and scanning everything.
  */
object Layouts {

  /** Write the role-partitioned layout; returns the layout path. */
  def materializeRoleLayout(spark: SparkSession, dir: String, outDir: String): String =
    materializeRoleLayoutFrom(spark, dir, Rbac.blocks(spark, dir), outDir)

  /** Same, from an explicit block set (lets tests hold out an "insert"
    * batch to compact in later).
    */
  def materializeRoleLayoutFrom(spark: SparkSession, dir: String,
                                blocks: DataFrame, outDir: String): String = {
    val path = s"$outDir/blocks_by_role"
    if (!Files.exists(Paths.get(path))) {
      Partitioned.roleLayoutOf(spark, dir, blocks)
        .withColumn("batch_id", lit(0L)) // base build = batch 0
        .repartition(col("partition_role")) // one writer per partition dir
        .write.partitionBy("partition_role").mode("overwrite").parquet(path)
    }
    path
  }

  /** Incremental layout maintenance — the batch half of the insertion
    * story (reference: hnsw/insertion.py routes new blocks into
    * existing partitions and updates their indexes; G3/VectorStream is
    * the arrival half). Merges a batch of inserted blocks into the
    * materialized role layout:
    *   - each insert is routed to the partitions of its granting roles
    *     (same duplication rule the original build used);
    *   - an anti-join against the layout's existing (partition, block)
    *     keys makes the job IDEMPOTENT — re-running the same batch
    *     appends nothing;
    *   - only affected partition directories receive files (append of
    *     the delta — at 100 TB you periodically rewrite a partition
    *     when its delta-file count grows, which is this same job with
    *     an overwrite of that partition).
    * Search over the compacted layout needs no special handling:
    * `prunedRoleSearch` already dedups blocks per partition.
    */
  def compactInserts(spark: SparkSession, dir: String, layoutPath: String,
                     inserts: DataFrame, batchId: Long = 1L): Unit = {
    val routed = Partitioned.roleLayoutOf(spark, dir, inserts)
    val existing = graft.Tables.parquet(spark, layoutPath)
      .select("partition_role", "block_id")
    val toAppend = routed
      .join(existing, Seq("partition_role", "block_id"), "left_anti") // idempotent
      .withColumn("batch_id", lit(batchId)) // provenance → rollbackBatch
      .persist()
    // record WHICH partitions this batch touches (tiny sidecar, one role
    // id per line) so rollback never has to scan the whole layout to
    // find them. Collected BEFORE the append: the write refreshes the
    // layout path's file index and drops this cache, so a post-write
    // recompute would anti-join against the already-appended rows and
    // see an empty frame. Union with any prior manifest: an idempotent
    // re-run appends nothing and must not erase the original record.
    val touched = toAppend.select("partition_role").distinct()
      .collect().map(_.getLong(0)).toSet
    toAppend
      .repartition(col("partition_role"))
      .write.partitionBy("partition_role").mode("append").parquet(layoutPath)
    toAppend.unpersist()
    val mf = manifestPath(layoutPath, batchId)
    val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
    val all = (touched ++ readManifest(fs, mf).getOrElse(Set.empty)).toSeq.sorted
    // atomic publish: write to a temp path, rename over — a crash
    // mid-write must leave either the old manifest or none at all (a
    // TORN manifest would make rollback silently skip partitions; a
    // missing one falls back to the full scan, which is safe)
    val tmp = new Path(mf.getParent, mf.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(all.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    if (fs.exists(mf)) require(fs.delete(mf, false), s"manifest replace failed: $mf")
    require(fs.rename(tmp, mf), s"manifest publish failed: $tmp -> $mf")
  }

  private def manifestPath(layoutPath: String, batchId: Long): Path =
    new Path(layoutPath, s"_batch_manifests/batch_$batchId")

  private def readManifest(fs: FileSystem, mf: Path): Option[Set[Long]] =
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val roles = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSet
      // an empty manifest is indistinguishable from a torn one — treat
      // it as absent so rollback takes the safe full-scan fallback
      if (roles.isEmpty) None else Some(roles)
    }

  /** Batch rollback — the inverse `compactInserts` needs (reference:
    * hnsw/insertion_rolllback.py restores the pre-batch partition
    * state): every appended row carries its `batch_id`, so undoing a
    * batch = rewriting JUST the affected partitions without that
    * batch's rows. Sibling partitions are untouched; repeated rollback
    * of the same batch is a no-op. At 100 TB this is a per-partition
    * staging-swap rewrite, not a layout rebuild.
    */
  def rollbackBatch(spark: SparkSession, layoutPath: String, batchId: Long): Unit = {
    val mf = manifestPath(layoutPath, batchId)
    val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
    // the manifest compactInserts wrote names the affected partitions
    // directly — rollback opens ONLY those directories. The full-layout
    // scan survives as a fallback for layouts whose manifest is lost
    // (and no-ops cleanly on pre-provenance layouts with no batch_id).
    val affected: Seq[Long] = readManifest(fs, mf) match {
      case Some(roles) => roles.toSeq.sorted
      case None =>
        val layout = graft.Tables.parquet(spark, layoutPath)
        if (!layout.columns.contains("batch_id")) Seq.empty
        else layout
          .filter(col("batch_id") === batchId)
          // partition-column inference reads the directory key as int
          .select(col("partition_role").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSeq // tiny: roles the batch touched
    }
    affected.foreach { role =>
      swapPartition(spark, layoutPath, role,
        graft.Tables.parquet(spark, layoutPath)
          .filter(col("partition_role") === role)
          .filter(col("batch_id") =!= batchId)
          .drop("partition_role"))
    }
    fs.delete(mf, false) // batch gone; a re-rollback is a clean no-op
  }

  /** Physical delete batch — the destructive half of the deletion story
    * (reference: hnsw/deletion.py removes a block batch from its
    * partitions; A13's tombstone query is the logical half). The
    * affected partitions come from the PERMISSION map (doc → granting
    * roles), so only those directories are opened; the removed rows are
    * saved to an undo log FIRST (write-ahead), which is what makes
    * `rollbackDelete` possible without a snapshot of the layout.
    * Re-running the same batch is safe: a COMPLETE undo log (committer
    * `_SUCCESS` marker present) is never overwritten — a second run
    * sees no victims and must not clobber the saved rows with an empty
    * frame — while a torn log from a crashed write is discarded and
    * rebuilt before any row is deleted. The per-partition rewrite is a
    * no-op once the rows are gone. Contract: `batchId` names ONE fixed
    * document set — reusing an id with a different set would delete
    * under the old set's undo coverage.
    */
  def deleteBatch(spark: SparkSession, dir: String, layoutPath: String,
                  docs: DataFrame, batchId: Long): Unit = {
    val undo = undoPath(layoutPath, batchId)
    val fs = undo.getFileSystem(spark.sessionState.newHadoopConf())
    // a COMPLETE undo log carries the committer's _SUCCESS marker; a
    // directory without it is a crashed write — recreate it, never
    // trust it (trusting a torn log would delete rows it can't restore)
    if (fs.exists(undo) && !fs.exists(new Path(undo, "_SUCCESS")))
      require(fs.delete(undo, true), s"torn undo log removal failed: $undo")
    if (!fs.exists(undo)) {
      // victims come from the LAYOUT, not the permission map: a grant
      // revoked since routing must not hide a partition that still
      // physically holds the doc's rows. (At scale a doc→partition
      // sidecar index would prune this scan; correctness first.)
      graft.Tables.parquet(spark, layoutPath)
        .join(broadcast(docs.select("document_id")), Seq("document_id"), "left_semi")
        .select(col("partition_role").cast("long").as("partition_role"),
          col("block_id"), col("document_id"), col("embedding"), col("batch_id"))
        .write.parquet(undo.toString)
    }
    val roles = graft.Tables.parquet(spark, undo.toString)
      .select("partition_role").distinct()
      .collect().map(_.getLong(0)).sorted // tiny: partitions holding victims
    roles.foreach { role =>
      swapPartition(spark, layoutPath, role,
        graft.Tables.parquet(spark, layoutPath)
          .filter(col("partition_role") === role)
          .join(broadcast(docs.select("document_id")), Seq("document_id"), "left_anti")
          .drop("partition_role"))
    }
  }

  /** Delete rollback (reference: hnsw/deletion_rolllback.py): restore a
    * deleted batch's rows from the undo log `deleteBatch` wrote — a
    * per-affected-partition staging-swap union, never a layout rebuild.
    * The undo log is consumed on success; a re-rollback is a clean
    * no-op.
    *
    * Restore is IDEMPOTENT per partition: the saved rows are
    * anti-joined against the partition's CURRENT (block_id, batch_id)
    * keys before the union. This covers the exact crash window the
    * write-ahead log exists for — deleteBatch died after committing a
    * complete undo log (`_SUCCESS` present) but before/midway through
    * the per-partition sweep, so unswept partitions still physically
    * hold their victim rows, and a blind union would re-insert copies
    * of rows that were never deleted.
    */
  def rollbackDelete(spark: SparkSession, layoutPath: String, batchId: Long): Unit = {
    val undo = undoPath(layoutPath, batchId)
    val fs = undo.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(undo)) return
    val saved = graft.Tables.parquet(spark, undo.toString).persist()
    val roles = saved.select("partition_role").distinct()
      .collect().map(_.getLong(0)).sorted
    roles.foreach { role =>
      val current = graft.Tables.parquet(spark, layoutPath)
        .filter(col("partition_role") === role)
        .drop("partition_role")
      val missing = saved.filter(col("partition_role") === role)
        .drop("partition_role")
        .join(current.select("block_id", "batch_id"),
          Seq("block_id", "batch_id"), "left_anti") // only rows actually swept
      swapPartition(spark, layoutPath, role, current.unionByName(missing))
    }
    saved.unpersist()
    fs.delete(undo, true) // consumed
  }

  private def undoPath(layoutPath: String, batchId: Long): Path =
    new Path(layoutPath, s"_deleted_batches/batch_$batchId")

  /** Partition rewrite — the maintenance sweep `compactInserts` defers
    * to (reference: hnsw/helper.py reorganize_partitions /
    * clean_empty_partitions): once a partition directory accumulates
    * delta files from appended insert batches, rewrite JUST that
    * partition into one compacted file (dynamic partition overwrite —
    * sibling partitions untouched). Returns (files_before,
    * files_after). Idempotent; search results unchanged.
    */
  def rewritePartition(spark: SparkSession, layoutPath: String, role: Long,
                       targetBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    swapPartition(spark, layoutPath, role,
      graft.Tables.parquet(spark, layoutPath)
        .filter(col("partition_role") === role) // partition pruning: one dir read
        .drop("partition_role"),
      targetBytes)

  /** Replace one partition directory's contents with `data` (already
    * filtered to the rows to keep, `partition_role` dropped). All file
    * operations go through the Hadoop FileSystem API, so the same code
    * runs on local FS, HDFS, or an S3 committer. Output file count is
    * sized by `targetBytes` from the partition's CURRENT on-disk size —
    * a TB-scale partition rewrites with hundreds of parallel writers,
    * never a single funnel task.
    *
    * Swap order: staged files move IN under fresh names first, old
    * files are deleted after — a crash mid-swap leaves a partition with
    * duplicate rows (which `prunedRoleSearch`'s per-block dedup, bounded
    * by the partition's file count, and the idempotent re-run both
    * tolerate), never an empty one.
    */
  private def swapPartition(spark: SparkSession, layoutPath: String, role: Long,
                            data: DataFrame,
                            targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val partDir = new Path(layoutPath, s"partition_role=$role")
    val fs: FileSystem = partDir.getFileSystem(spark.sessionState.newHadoopConf())
    val olds = dataFiles(fs, partDir)
    if (olds.isEmpty) return (0, 0)
    val partBytes = fs.listStatus(partDir).filter(_.isFile).map(_.getLen).sum
    val nFiles = math.max(1L, (partBytes + targetBytes - 1) / targetBytes).toInt
    val staging = new Path(layoutPath + s"_rewrite_$role")
    // a (block, batch) row appears once per partition by construction
    // (the insert path anti-joins on block), so deduping here is a
    // no-op in steady state — and it HEALS the exact-copy rows a
    // mid-swap crash leaves. batch_id stays in the key: collapsing
    // same-block rows of DIFFERENT batches would silently destroy the
    // provenance rollbackBatch depends on.
    data.dropDuplicates("block_id", "batch_id")
      .repartition(nFiles).write.mode("overwrite").parquet(staging.toString)
    val staged = fs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    // move in first (fresh part-file names can't collide with olds)...
    // HDFS reports rename failure by RETURNING FALSE, not throwing — an
    // unchecked rename here would fall through to the deletes below and
    // silently drop the un-moved staged rows. Abort before any delete.
    staged.foreach { p =>
      val dst = new Path(partDir, p.getName)
      require(fs.rename(p, dst), s"swapPartition: rename failed: $p -> $dst")
    }
    // ...then drop the superseded files and the staging dir (same false-
    // means-failed contract; a missing file is fine, a stuck one is not —
    // it would silently double the partition's rows forever)
    olds.foreach { p =>
      require(fs.delete(p, false) || !fs.exists(p),
        s"swapPartition: delete failed: $p")
    }
    fs.delete(staging, true)
    (olds.length, dataFiles(fs, partDir).length)
  }

  /** Layout prefix → its layout path, once the directory exists, per
    * data version. Racing first callers of one layout share one build,
    * different layouts build concurrently, and later calls take no lock
    * and make no `Files.exists` stat.
    */
  private val built = new graft.BuildOnce[String, String]

  /** Shared tmp root for a per-dataset materialized layout. Scoped by
    * OS user and by a hash of the dataset's CANONICAL path (two
    * checkouts with the same directory basename cannot collide), and
    * named by a digest of the dataset's data version (`Tables.version`)
    * — rewriting any of its tables re-materializes the layout instead
    * of serving a stale one. Called on a `built` miss, it deletes the
    * dataset's roots of `prefix` under a superseded digest, so a
    * rewritten dataset keeps one layout directory per prefix.
    */
  private def layoutRoot(spark: SparkSession, dir: String, prefix: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(graft.Tables.version(spark, dir).mkString(",").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    val dirId = java.lang.Integer.toHexString(
      Paths.get(dir).toAbsolutePath.normalize.toString.hashCode)
    val user = System.getProperty("user.name", "nouser")
    val parent = new Path(s"${System.getProperty("java.io.tmpdir")}/graft_layouts_$user")
    val stem = s"${prefix}_${new java.io.File(dir).getName}_${dirId}_"
    val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(parent))
      fs.listStatus(parent).map(_.getPath).filter { p =>
        val n = p.getName
        n.startsWith(stem) && n.length == stem.length + digest.length && n != stem + digest
      }.foreach(p => require(fs.delete(p, true) || !fs.exists(p),
        s"superseded layout removal failed: $p"))
    s"$parent/$stem$digest"
  }

  /** Materialized COST-MODEL layout (A7's at-scale substrate): the
    * greedy layout's (partition_id → doc set), joined to blocks and
    * written as `partition_id=` parquet — the Spark-native equivalent
    * of the reference materializing each dynamic partition as its own
    * table (AnonySys_dynamic_partition.py; search.py:31 scans only the
    * routed one). Built once per (dataset, α, workload) with the same
    * lifetime as the index sidecars; the query-time routing is pure
    * directory pruning (see `Partitioned.dynamicPartitionTopK`).
    */
  def costModelLayoutPath(spark: SparkSession, dir: String, alpha: Double = 2.0,
                          nQueries: Int = 20): String = {
    val prefix = s"costmodel_a${alpha}_q$nQueries"
    built.getOrElseUpdate(spark, dir, prefix) {
      val path = s"${layoutRoot(spark, dir, prefix)}/blocks_by_costmodel"
      if (!Files.exists(Paths.get(path))) {
        Rbac.blocks(spark, dir)
          .join(Partitioned.costModelPartitionDocs(spark, dir, alpha, nQueries),
            "document_id")
          .select(col("partition_id"), col("block_id"), col("document_id"),
            col("embedding"))
          .repartition(col("partition_id")) // one writer per partition dir
          .write.partitionBy("partition_id").mode("overwrite").parquet(path)
      }
      path
    }
  }

  /** A2's documented 100 TB default for LOW-SELECTIVITY users
    * (SURVEY §5): the pre-filter with NO accessible-doc-set broadcast
    * anywhere in the plan — the permission predicate is satisfied
    * entirely by partition pruning of the materialized role layout
    * (scan only the `partition_role=` directories of the user's
    * roles). The broadcast prefilter assumes the per-user doc set
    * ships comfortably; at ~19% selectivity over a 100 TB corpus it
    * does not, and THIS is the escape hatch: the only driver-side
    * state is the user's 1-2 role ids, and the scan reads exactly the
    * granted partitions. Result is identical to `Rbac.prefilterTopK`
    * (the role partitions of the user's roles hold exactly the
    * accessible blocks — shares the prefilter oracle); the layout is
    * materialized once per data version (`built`), so concurrent
    * bench queries share one build.
    */
  def prefilterPruned(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame = {
    val path = built.getOrElseUpdate(spark, dir, "role")(
      materializeRoleLayout(spark, dir, layoutRoot(spark, dir, "role")))
    prunedRoleSearch(spark, dir, path, userId, k)
  }

  /** Top-k over the materialized layout: the role predicate is a
    * PARTITION filter (directory pruning), not a row filter.
    */
  def prunedRoleSearch(spark: SparkSession, dir: String, layoutPath: String,
                       userId: Long, k: Int): DataFrame = {
    val roleIds = Rbac.heldRoleIds(spark, dir, userId) // tiny: the user's 1-2 roles
    // a block sits at most once in each data file of a role partition
    // (one file per role at the build, one per appended insert batch),
    // but a mid-swap crash leaves a partition's old and new files side
    // by side: the files under the user's partitions bound its copies
    val fs = new Path(layoutPath).getFileSystem(spark.sessionState.newHadoopConf())
    val copies = roleIds.map(r => dataFiles(fs, new Path(layoutPath, s"partition_role=$r")).length).sum
    Partitioned.roleMergeTopK(spark, dir,
      graft.Tables.parquet(spark, layoutPath)
        .filter(col("partition_role").isin(roleIds: _*)), // partition pruning
      k, copies)
  }

  /** The parquet data files of one partition directory (none if it is absent). */
  private def dataFiles(fs: FileSystem, partDir: Path): Array[Path] =
    if (!fs.exists(partDir)) Array.empty
    else fs.listStatus(partDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
}
