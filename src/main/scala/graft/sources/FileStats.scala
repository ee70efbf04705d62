package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** H9: file-level data-skipping index — the per-file (count, min, max)
  * stats sidecar every lakehouse format maintains (Delta's stats
  * column in the transaction log, Iceberg's manifest min/max, the
  * parquet footer zone maps surfaced to the planner), plus the scan
  * path that uses it: a selective predicate consults the sidecar
  * first and opens ONLY the files whose [min, max] envelope
  * intersects it.
  *
  * Scale story: at 100 TB a table is O(10^5) files; the sidecar is
  * one row per file — metadata-scale, like the partition manifests —
  * so the skip decision costs a sidecar read, not a table scan. On a
  * layout clustered by the stat column (range-sorted or Z-ordered,
  * H7), a narrow band touches O(band) files instead of all of them;
  * on an unclustered layout the envelopes all overlap and skipping
  * degrades to the full scan WITHOUT changing results — stats can
  * only ever remove provably-empty files.
  *
  * The sidecar lives under `<table>/_file_stats/<column>`:
  * underscore-prefixed paths are invisible to Spark's parquet
  * discovery, so the table remains readable as plain parquet.
  */
object FileStats {

  /** Per-file stats for one column: a single scan aggregated by
    * `input_file_name` (one shuffle keyed on the file — #files rows
    * out).
    */
  def collect(spark: SparkSession, tablePath: String, column: String): DataFrame =
    graft.Tables.parquet(spark, tablePath)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(column)).as("min_v"), max(col(column)).as("max_v"))

  def sidecarPath(tablePath: String, column: String): String =
    s"$tablePath/_file_stats/$column"

  /** Build (or rebuild) the sidecar for a column. Overwrite keeps it
    * idempotent; callers re-run it after compaction/rewrite exactly
    * like the other layout sidecars.
    */
  def writeSidecar(spark: SparkSession, tablePath: String, column: String): String = {
    val out = sidecarPath(tablePath, column)
    collect(spark, tablePath, column)
      .coalesce(1) // metadata-scale: one row per file
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Band scan through the sidecar: open only files whose envelope
    * intersects [lo, hi], then apply the exact predicate to the
    * survivors (stats prune FILES, the filter prunes ROWS — results
    * are identical to the full scan by construction). Returns the
    * pruned frame plus the file counts the spec asserts on.
    */
  def skippingScan(spark: SparkSession, tablePath: String, column: String,
                   lo: Double, hi: Double): (DataFrame, Int, Int) = {
    val stats = graft.Tables.parquet(spark, sidecarPath(tablePath, column))
    // #files rows — metadata, same class as the partition manifests
    val files = stats.select("file", "min_v", "max_v").collect()
    val matching = files.filter(r =>
      !r.isNullAt(1) && !r.isNullAt(2) &&
        r.getDouble(2) >= lo && r.getDouble(1) <= hi)
    val pruned =
      if (matching.isEmpty) {
        graft.Tables.parquet(spark, tablePath).filter(lit(false))
      } else {
        val paths = matching.map(_.getString(0))
        graft.Tables.parquet(spark, paths.head, paths.tail.toIndexedSeq: _*)
          .filter(col(column) >= lo && col(column) <= hi)
      }
    (pruned, matching.length, files.length)
  }
}
