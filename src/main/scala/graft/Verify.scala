package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-key subset (fast local
    // iteration on a few keys; the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = Env.int("SPARK_GRAFT_CPUS", 4)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Reproducibility stamp (r14, VERDICT r13 #2): the oracle SQL
    // interpolates ONE fixed sidecar root, so a later Verify at a
    // different dataset overwrites the sidecars out from under any
    // RECORDED outDir — re-running the oracle against the recorded
    // outputs then fails with mystery value diffs (the r13 audit hit
    // this adjudicating the 10× parity claims). Stamp the dataset
    // fingerprint into BOTH the outDir and the sidecar root;
    // check_parity refuses a mismatch with a named diagnostic instead
    // of diffing values.
    val fp = Bench.dataFingerprint(sfDir)
    Files.writeString(Paths.get(s"$outDir/data_fingerprint"), fp)
    if (Sidecars.active) {
      Files.createDirectories(Paths.get(Sidecars.root))
      Files.writeString(Paths.get(s"${Sidecars.root}/data_fingerprint"), fp)
    }
    spark.stop()
  }
}
