package graft

import org.apache.spark.sql.SparkSession

/** The one local-session bootstrap: every main and the test suite build
  * their session here (`Session.local(cpus)`).
  */
object Session {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    // bounded-heap aggregates (topk_ids/topk_kth) must stay on the
    // ObjectHashAggregate hash path: the default sort-based fallback
    // (128 keys) SORTS the full candidate-pair stream - at 10x scale
    // that spilled >79 GB on a count whose hash state is kilobytes
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
