package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: per-query wall seconds on
  * SPARK_GRAFT_SF_DIR, measured once concurrently and once serially,
  * with each key's CostLedger row.
  *
  * An untimed warm phase runs first so session startup and index builds
  * are not billed to whichever query happens to run first. Set
  * SPARK_GRAFT_ONLY=name1,name2 to bench a subset while iterating.
  */
object Bench {
  /** Locale-fixed fixed-point render (ADVICE r10: the f interpolator
    * formats in the default locale — a comma decimal separator
    * corrupts the JSON).
    */
  private[graft] def fmt(d: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d))

  /** Known-law attributions for scaled-dir superlinear ratios (r16): a
    * ratio with a stamped mechanical cause carries it IN the artifact.
    * The C11 dispatcher's exact branch scales with the C5 candidate-pair
    * law (`c5_candidate_estimate`, stamped alongside: 4·10⁶→4·10⁸ pairs
    * for 10× data), so its time ratio is that law, not a regression.
    */
  private[graft] val SuperlinearAttribution: Map[String, String] = Map(
    "dedup_embedding_auto" -> "c5_candidate_law",
    "dedup_embedding" -> "c5_candidate_law")

  /** Render the superlinear map: each entry is {"ratio": R} plus an
    * "attributed" tag when a stamped law exists, so a reader of
    * BENCH_rN.json alone can tell a known-by-law ratio from a fresh
    * anomaly (an entry WITHOUT "attributed" is the alarm).
    */
  private[graft] def superlinearJson(sup: Seq[(String, Double)]): String =
    sup.map { case (k, r) =>
      val attr = SuperlinearAttribution.get(k)
        .map(a => s""","attributed":"$a"""").getOrElse("")
      "\"" + k + "\":{\"ratio\":" + fmt(r, 2) + attr + "}"
    }.mkString("{", ",", "}")

  /** Ceiling on the cores OTHER processes may take while a measurement
    * runs for it to count as clean: a quarter of the worker threads
    * (the round-8 lesson: serial rows taken at load 7-18 on a 32-cpu
    * host shipped numbers up to 43× off). Floored at 2 so a small-cpu
    * dev run (`SPARK_GRAFT_CPUS=4`) doesn't quarantine every row on an
    * otherwise healthy box.
    */
  private[graft] def loadThreshold(cpus: Int): Double =
    math.max(cpus / 4.0, 2.0)

  /** Split re-timed rows (name, seconds, other-process cores over the
    * row, error) into (clean, suspect) at `threshold`. Failed rows
    * belong to NEITHER half — they are reported under serial_errors,
    * never as a duration. Suspect rows keep their numbers (under a
    * separate key) so a reader can still see them, but cross-round
    * diff tooling reads only the clean map.
    */
  private[graft] def partitionByLoad(
      rows: Seq[(String, Double, Double, Option[String])], threshold: Double)
      : (Seq[(String, Double, Double)], Seq[(String, Double, Double)]) = {
    val ok = rows.collect { case (n, t, l, None) if l <= threshold => (n, t, l) }
    val bad = rows.collect { case (n, t, l, None) if l > threshold => (n, t, l) }
    (ok, bad)
  }

  /** Round-10 scale comparison: per-key serial ratios between this
    * run's clean serial map and a second-SF run's (ScaleGen's 10× dir),
    * so ONE bench artifact carries both points of the empirical scale
    * validation instead of a reader diffing two sidecar files. Pure
    * over the two maps — unit-tested without Spark. Returns (n_common,
    * median, p90, superlinear keys), where superlinear = time ratio
    * above the dataset factor, i.e. work grew faster than the data.
    */
  private[graft] def scaleRatios(
      cur: Map[String, Double], other: Map[String, Double], factor: Double)
      : (Int, Double, Double, Seq[(String, Double)]) = {
    val ratios = cur.keySet.intersect(other.keySet).toSeq
      .flatMap { k => val c = cur(k); if (c > 0) Some(k -> other(k) / c) else None }
      .sortBy(r => (r._2, r._1))
    if (ratios.isEmpty) return (0, 0.0, 0.0, Seq.empty)
    def pct(p: Double): Double =
      ratios(math.min(ratios.size - 1, (ratios.size * p).toInt))._2
    (ratios.size, pct(0.5), pct(0.9), ratios.filter(_._2 > factor))
  }

  /** Relational-family key classifier: the TPC-H flavors (q1..q22,
    * q_*) and the events family — exactly the tables ScaleGen mode
    * "rel" scales. qdtree_* reads embeddings and is NOT relational.
    * Used to scope each scale block's ratio stats to the family its
    * dir actually scales (see ScaledDirs).
    */
  private[graft] def relationalKey(name: String): Boolean =
    (name.startsWith("q") && !name.startsWith("qdtree")) ||
      name.startsWith("events_")

  /** The ScaleGen comparison ladder: scaled-dir name → (the base dir
    * the factor is RELATIVE to, the factor, the JSON key the block is
    * emitted under, the scaled FAMILY). Name and factor are bound in
    * ONE row, and a block is emitted ONLY when the current
    * run IS the base dir of that row.
    *
    * The family tag (r16): each ScaleGen mode scales SOME tables and
    * passes the rest through — iso/manifold scale embeddings+documents,
    * "rel" the relational/events fact tables. A key whose tables did
    * not scale runs at 1× data there and its ≈1.0 ratio would drag the
    * block's median, so ratio stats include only keys whose family the
    * dir scales: relational keys at the *r dirs, the rest at the
    * iso/manifold dirs. sf10xm is the MANIFOLD 100× dir (same rows as
    * sf10x, low intrinsic dimension: the regime graph indexes exist
    * for; sf10x stays as the adversarial control).
    */
  private val ScaledDirs: Seq[(String, String, Double, String, Boolean)] = Seq(
    ("sf1x", "sf0.1", 10.0, "scale", false),
    ("sf10x", "sf0.1", 100.0, "scale100", false),
    ("sf10xm", "sf0.1", 100.0, "scale100m", false),
    ("sf1xr", "sf0.1", 10.0, "scale_rel", true),
    ("sf10xr", "sf0.1", 100.0, "scale100_rel", true))

  /** Render the scale-comparison JSON fragments for this run's
    * artifact: for every ScaledDirs row whose BASE dir is the current
    * run, read the scaled dir's bench sidecar (written by a prior
    * Bench run there) and emit per-key serial ratios. Empty strings
    * when no sidecar applies or on any parse problem — the scale
    * blocks are additive, never a reason to fail the bench.
    *
    * Returns (full, compact): the FULL blocks (per-key superlinear
    * detail + the scaled run's own pool verdict + fingerprint flag)
    * ride only in the fullLine/sidecar; the COMPACT blocks
    * (wall/median/p90/n_superlinear/suspect) ride in the tail line,
    * which must stay inside a ~2000-char tail capture.
    */
  private def scaleSidecarJson(spark: SparkSession, sfDir: String,
                               curClean: Map[String, Double],
                               errors: scala.collection.mutable.Map[String, String]): (String, String) = {
    if (curClean.isEmpty) return ("", "")
    val curName = new java.io.File(sfDir).getName
    val frags = ScaledDirs.flatMap { case (scaled, base, factor, key, rel) =>
      val side = new java.io.File(s"bench_full_$scaled.json")
      def noted(e: Throwable): Unit =
        errors.getOrElseUpdate(s"scale:$scaled", firstLine(e))
      if (curName != base || !side.exists()) None
      else try {
        val df = spark.read.json(side.getAbsolutePath)
        if (!df.columns.contains("serial_full")) None
        else {
          val meta = df.select("value", "data_fingerprint", "sf").collect().head
          val serial = serialMap(df)
          val other = serial.filter { case (k, _) => relationalKey(k) == rel }
          val (n, med, p90, sup) = scaleRatios(curClean, other, factor)
          if (n == 0) None
          else {
            // the scaled run's own pool verdict rides in the block
            // (r15): a reader attributing this round's sf2_wall against
            // last round's sees the load regime the wall was taken
            // under WITHOUT opening the sidecar; absent fields (older
            // sidecars) emit nothing rather than a fabricated number
            def optNum(c: String): String =
              if (!df.columns.contains(c)) ""
              else try {
                df.select(c).collect().head.get(0) match {
                  case x: Number => s""","sf2_$c":${x.doubleValue}"""
                  case b: java.lang.Boolean => s""","sf2_$c":$b"""
                  case _ => ""
                }
              } catch { case e: Throwable => noted(e); "" }
            val verdictJson = Seq("concurrent_other_cores", "concurrent_suspect")
              .map(optNum).mkString
            // merge-refresh transparency (r16): a SPARK_GRAFT_MERGE_SIDECAR
            // subset run rewrites the sidecar header (wall/verdict = the
            // SUBSET run's) while the serial map carries prior rows;
            // n_carried out of n_serial says which kind of run it was.
            val carriedJson0 =
              if (!df.columns.contains("serial_carried_over")) ""
              else try {
                // serial_carried_over is an ARRAY of key names
                val nCarried = df.select(
                  org.apache.spark.sql.functions.size(
                    org.apache.spark.sql.functions.col("serial_carried_over")))
                  .collect().head.getInt(0)
                s""","sf2_n_carried":${math.max(nCarried, 0)},"sf2_n_serial":${serial.size}"""
              } catch { case _: Throwable =>
                // the column EXISTS but can't be sized — Spark infers an
                // EMPTY json array as array<null>/void and size() fails;
                // an empty carried list IS zero carried rows
                s""","sf2_n_carried":0,"sf2_n_serial":${serial.size}"""
              }
            // fingerprint drift flag: a regeneration of the scaled dir
            // between rounds is a recorded fact, not a silent ratio shift
            val liveFp = dataFingerprint(meta.getString(2))
            val changed = liveFp != meta.getString(1)
            val supJson = superlinearJson(sup)
            val full = s""","$key":{"sf2":"${JsonOut.escape(meta.getString(2))}","sf2_fingerprint":"${JsonOut.escape(meta.getString(1))}","sf2_data_changed":$changed,"sf2_wall":${meta.getDouble(0)}$carriedJson0$verdictJson,"factor":$factor,"n_common":$n,"serial_ratio_median":${fmt(med, 3)},"serial_ratio_p90":${fmt(p90, 3)},"superlinear":$supJson}"""
            // compact block: summary only, guaranteed-small; "suspect"
            // carries the scaled run's own pool verdict when recorded
            val suspectCompact = optNum("concurrent_suspect")
              .replace("sf2_concurrent_suspect", "suspect")
            val changedCompact = if (changed) ""","data_changed":true""" else ""
            val compact = s""","$key":{"wall":${fmt(meta.getDouble(0), 1)},"n":$n,"med":${fmt(med, 2)},"p90":${fmt(p90, 2)},"n_sup":${sup.size}$suspectCompact$changedCompact}"""
            Some((full, compact))
          }
        }
      } catch { case e: Throwable => noted(e); None }
    }
    (frags.map(_._1).mkString, frags.map(_._2).mkString)
  }

  /** The `serial_full` map of a bench full line read back as a frame. */
  private def serialMap(df: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    val row = df.select("serial_full.*").collect().head
    row.schema.fieldNames.zipWithIndex.flatMap { case (c, i) =>
      row.get(i) match { case n: Number => Some(c -> n.doubleValue); case _ => None }
    }.toMap
  }

  /** Digest of (name, size, mtime) over every file of the benched
    * dataset — the layout tmp-root stamp (Layouts.layoutRoot) promoted
    * into the bench artifact, so cross-round tooling can detect a
    * testdata regeneration mechanically (round-8: sizes were re-drawn
    * and absolute times silently stopped being comparable).
    */
  private[graft] def dataFingerprint(dir: String): String = {
    val root = new java.io.File(dir)
    // RECURSIVE walk (r10): a table stored as a parquet DIRECTORY can
    // be rewritten in place without moving the parent entry's
    // name/size/mtime — only the leaf files record the regeneration
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .flatMap(c => walk(c, s"$rel/${c.getName}")).toSeq
      else if (f.isFile) Seq(s"$rel:${f.length}:${f.lastModified}")
      else Seq.empty // missing path: falls through to the sentinel
    val entries = walk(root, "")
    // a missing or empty dataset dir must NEVER hash to a
    // plausible-looking digest (the empty string's digest would let
    // cross-round tooling "match" two broken runs) — emit a sentinel
    // that can't collide with a [0-9a-f]{16} digest
    if (entries.isEmpty) return "EMPTY_DATASET"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(entries.mkString("|").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Cached partitions currently MISSING from persisted RDDs (evicted
    * or not-yet-computed blocks). Sampled before each serial re-time:
    * a serial row whose session cache was evicted re-times the
    * RECOMPUTE, not the steady-state query — the r9 NND row (11.3 s
    * vs the 0.46 s sibling) was only explainable by narrative; this
    * makes it a recorded number in the artifact.
    */
  private def missingCachedPartitions(spark: SparkSession): Int =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.numPartitions - i.numCachedPartitions).sum

  /** Cores the host spent on OTHER processes since the previous call:
    * the OS's CPU load minus this process's over the same window, both
    * from the platform bean (0 where it gives no reading). One call
    * opens a window and the next closes it, so a row is measured over
    * its own run — a 1-min load average would also charge it for the
    * phase before it, and for this process's own threads.
    */
  private def otherCores(): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (host, self) = (os.getCpuLoad, os.getProcessCpuLoad)
    if (host < 0 || self < 0) 0.0
    else math.max(0.0, host - self) * os.getAvailableProcessors
  }

  /** `{"k":v,...}` with each value rendered as given. */
  private def jsonObj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Env.int("SPARK_GRAFT_CPUS", 4)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val ledger = CostLedger.attach(spark)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // exact-by-contract keys (r13): B11/C5/B27 are small-N operators by
    // EXPLICIT contract, each with a dispatching default (B42/C11/B41)
    // for scale. A scaled-dir run drops them so `scale.superlinear`
    // stays a regression detector; SPARK_GRAFT_ONLY or
    // SPARK_GRAFT_EXACT=1 overrides. The oracle SFs bench them fully.
    val exactContractKeys =
      Set("ann_knn_graph", "ann_knn_centrality", "dedup_embedding")
    val scaledDirRun = ScaledDirs.exists(_._1 == new java.io.File(sfDir).getName)
    val dropExact = scaledDirRun && only.isEmpty &&
      !sys.env.get("SPARK_GRAFT_EXACT").contains("1")
    val qs = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filter { case (n, _) => !(dropExact && exactContractKeys(n)) }
      .toSeq.sortBy(_._1)
    if (dropExact) System.err.println(
      s"scaled-dir run: excluded-by-contract keys ${exactContractKeys.mkString(",")}")
    // the warm phase's failure (if any) rides in the full line's errors
    // map under "warm": the builds after it ran inside timed rows
    val (warmBuilds, warmError) = warmUp(spark, sfDir, only)
    val loadMax = loadThreshold(cpus)
    // Overlap queries on a small pool: a single local session leaves
    // cores idle during per-query driver phases (planning, codegen,
    // stage boundaries); concurrent submission is how a real workload
    // runs. value = wall-clock for the whole workload; per-query
    // seconds are reported individually (measured under that
    // concurrency).
    val poolSize = Env.int("SPARK_GRAFT_POOL", 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    otherCores() // opens the pool phase's window
    val w0 = System.nanoTime()
    // per-row start/stop stamps relative to the pool phase start (r17):
    // overlapping spans are a row's contention set, so a cross-round
    // pool delta is attributable without re-running
    val poolSpans =
      new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]()
    val futures = qs.map { case (name, fn) =>
      scala.concurrent.Future {
        // job descriptions are thread-local, so each concurrent query's
        // jobs are charged to its own ledger row
        spark.sparkContext.setJobDescription(s"pool:$name")
        val t0 = System.nanoTime()
        // a failed query must SURFACE as a failure, not bench as a fast
        // success — record the error and report it in the JSON
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable => Some(firstLine(e))
        }
        val t1 = System.nanoTime()
        poolSpans.put(name, ((t0 - w0) / 1e9, (t1 - w0) / 1e9))
        (name, (t1 - t0) / 1e9, err)
      }
    }
    val results = futures.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    val wall = (System.nanoTime() - w0) / 1e9
    pool.shutdown()
    // the pool saturates the host on purpose; only cores OTHER processes
    // took while it ran make the phase incomparable across rounds
    val poolOther = otherCores()
    val concurrentSuspect = poolOther > loadMax
    // context for a reader (round-2 lesson), not a fence
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // one serial re-time per key (no pool overlap), in name order: the
    // cross-round per-key comparison when the concurrent wall lands in
    // a bad host window (SKEW.md round-5). Each row records the cores
    // other processes took while it ran; above loadMax it is reported
    // under serial_suspect instead of serial_full. Nothing waits or
    // retries.
    val serialMissing = scala.collection.mutable.Map.empty[String, Int]
    val serialTimes = results.map(_._1).sorted.map { name =>
      serialMissing(name) = missingCachedPartitions(spark)
      otherCores()
      spark.sparkContext.setJobDescription(s"serial:$name")
      val t0 = System.nanoTime()
      // same rule as the concurrent pass: a failure must surface as
      // a failure, never as a fast-looking number
      val err = try { SparkEntry.queries(name)(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(firstLine(e)) }
      (name, (System.nanoTime() - t0) / 1e9, otherCores(), err)
    }
    spark.sparkContext.setJobDescription(null)
    // read the ledger once every warm, pool and serial event is in
    ledger.drain(spark)
    def rowsJson(p: String): String =
      jsonObj(ledger.phase(p).toSeq.sortBy(_._1).map { case (k, r) => k -> r.json })
    val ledgerJson = s""","ledger":{"pool":${rowsJson("pool")},"serial":${rowsJson("serial")}},"ledger_unattributed_jobs":${ledger.unattributed}"""
    val warmJson = ""","warm_builds":""" + jsonObj(warmBuilds.map { case (b, t) =>
      b -> ledger.row(s"warm:$b").map(r => s"""{"s":${fmt(t, 3)},""" + r.json.drop(1))
        .getOrElse(s"""{"s":${fmt(t, 3)}}""")
    })
    val (clean, suspect) = partitionByLoad(serialTimes, loadMax)
    // Control isolation at the scaled dirs (r13): small control keys
    // inflate when they share one JVM with the heavy families' cached
    // state, so scaled dirs run one fresh session per family, and
    // SPARK_GRAFT_MERGE_SIDECAR=1 ACCUMULATES those runs into one
    // sidecar: clean serial rows of the existing sidecar (same data
    // fingerprint) are carried over for keys this run didn't time.
    val mergeSidecar = sys.env.get("SPARK_GRAFT_MERGE_SIDECAR").contains("1")
    // artifact readers below fall back to "absent" on a failure; the
    // failure's first line rides in the full line's errors map
    val readErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def priorSerial(): Map[String, Double] =
      if (!mergeSidecar) Map.empty
      else try {
        val side = new java.io.File(
          s"bench_full_${new java.io.File(sfDir).getName}.json")
        if (!side.exists()) Map.empty
        else {
          val df = spark.read.json(side.getAbsolutePath)
          val fpOld = df.select("data_fingerprint").collect().head.getString(0)
          if (fpOld != dataFingerprint(sfDir) ||
              !df.columns.contains("serial_full")) Map.empty
          else serialMap(df)
        }
      } catch { case e: Throwable => readErrors("prior_serial") = firstLine(e); Map.empty }
    val serialJson = {
      // carried rows fill in keys this run DIDN'T attempt (ADVICE r13:
      // resurrecting rows for keys that errored or were suspect THIS
      // run would mask a fresh regression behind an old clean time)
      val carried = priorSerial() -- serialTimes.map(_._1) --
        (if (dropExact) exactContractKeys else Set.empty[String])
      val ok = jsonObj((clean.map { case (n, t, _) => n -> t } ++ carried.toSeq).sortBy(_._1))
      // suspect rows stay visible, fenced off from the comparable map
      val sus = jsonObj(suspect.map { case (n, t, _) => n -> t })
      val other = jsonObj(serialTimes.collect { case (n, _, c, None) => n -> fmt(c, 2) })
      val serr = jsonObj(serialTimes.collect { case (n, _, _, Some(e)) =>
        n -> ("\"" + JsonOut.escape(e) + "\"") })
      // recompute visibility: cached partitions missing going INTO each
      // re-time (nonzero = the row timed a session-cache recompute)
      val miss = jsonObj(serialTimes.map { case (n, _, _, _) => n -> serialMissing(n) })
      // carried-over rows are flagged by key list so a merged sidecar
      // is never mistaken for a single-session run
      val carriedJson = if (carried.isEmpty) "" else
        s""","serial_carried_over":${carried.keys.toSeq.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      s""","serial_full":$ok,"serial_retime_policy":"once","serial_suspect":$sus,"serial_load_max":$loadMax,"serial_other_cores":$other,"serial_cached_missing":$miss$carriedJson,"serial_errors":$serr"""
    }
    val qjson = jsonObj(results.map { case (k, v, _) => k -> v })
    // pool co-scheduling spans — fullLine/sidecar only (the tail line
    // must stay inside the driver's ~2000-char capture, VERDICT r15 #1)
    val spansJson = {
      import scala.jdk.CollectionConverters._
      jsonObj(poolSpans.asScala.toSeq.sortBy(_._2._1).map { case (n, (s, e)) =>
        n -> ("[" + fmt(s, 2) + "," + fmt(e, 2) + "]") })
    }
    // the dataset digest rides in the artifact so cross-round tooling
    // can refuse to compare times across a testdata regeneration
    val fp = dataFingerprint(sfDir)
    // C5/C11 attributability (r13): the exact miner's cost at the scaled
    // dirs swings with the k-means fit, and the candidate-stream
    // estimate is exactly the quantity that varies; stamped so a reader
    // of `scale.superlinear` can tell fit-swing from a plan regression
    // (session-cached by the dedup keys, so a map lookup)
    val c5Json =
      if (qs.exists(q => q._1 == "dedup_embedding" || q._1 == "dedup_embedding_auto"))
        try {
          val cells = graft.dedup.Dedup.semanticCells(spark, sfDir)
          val est = graft.dedup.Dedup.embeddingCandidateEstimate(
            spark, sfDir, cells = cells)
          s""","c5_candidate_estimate":$est,"c5_cells":$cells"""
        } catch { case e: Throwable => readErrors("c5_estimate") = firstLine(e); "" }
      else ""
    // the contract exclusion is visible in the artifact, never silent
    // (the no-silent-caps rule)
    val exclJson = if (!dropExact) "" else
      s""","excluded_by_contract":${exactContractKeys.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // when a scaled-dir sidecar exists, the artifact carries the second
    // scale point + per-key ratios: full blocks in the full line,
    // compact summaries in the tail line
    val (scaleJson, scaleCompactJson) = scaleSidecarJson(spark, sfDir,
      clean.map { case (n, t, _) => n -> t }.toMap, readErrors)
    // a failed query, the warm phase and every artifact reader that
    // fell back to "absent" (prior_serial, c5_estimate, scale:<dir>)
    val errs = jsonObj((results.collect { case (k, _, Some(e)) => k -> e } ++
      warmError.map("warm" -> _) ++ readErrors)
      .map { case (k, e) => k -> ("\"" + JsonOut.escape(e) + "\"") })
    // heap stamp (ADVICE r15): the same main launched via
    // tools/run_graft.sh vs sbt could run at different -Xmx; GC/spill-
    // sensitive numbers are only comparable at a recorded heap
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // "total_full", not "total": exactly ONE stdout line may carry
    // metric=total or a consumer keying on it would double-count runs
    val fullLine = s"""{"metric":"total_full","value":$wall,"unit":"sec","queries":$qjson,"pool_spans":$spansJson,"errors":$errs,"load_avg_1m":$loadAvg,"concurrent_other_cores":${fmt(poolOther, 2)},"concurrent_suspect":$concurrentSuspect,"pool":$poolSize,"cpus":"$cpus","heap_max_gb":${fmt(heapGb, 1)}$warmJson$serialJson$ledgerJson$scaleJson$c5Json$exclJson,"data_fingerprint":"$fp","sf":"${JsonOut.escape(sfDir)}"}"""
    // The harness that collects this output keeps only the LAST ~2000
    // characters of stdout; the full per-query line above is longer than
    // that, so a consumer parsing the tail never sees its start. Emit
    // the full line to a sidecar file plus stdout, then END with a
    // compact line (rounded, heaviest queries only) guaranteed to fit
    // inside any reasonable tail window. Sidecar is named per-SF so
    // back-to-back runs at different scales don't clobber each other's
    // data out from under the pointer they printed.
    val sideName = s"bench_full_${new java.io.File(sfDir).getName}.json"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(sideName),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${firstLine(e)}")
    }
    // Durable per-run archive (VERDICT r11 #1): the sidecar above is
    // overwritten every run, so every run's full line (epoch-stamped)
    // is appended to a git-tracked history file for cross-round diffs.
    try {
      val hist = java.nio.file.Paths.get("benchdata", "history",
        "bench_history.jsonl")
      java.nio.file.Files.createDirectories(hist.getParent)
      val stamped = s"""{"ts_ms":${System.currentTimeMillis()},""" +
        fullLine.drop(1) + "\n"
      java.nio.file.Files.write(hist, stamped.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] history append failed: ${firstLine(e)}")
    }
    println(fullLine)
    def r3(d: Double): String = fmt(d, 3)
    // top-8 pool rows, top-10 serial rows (r16): with the compact scale
    // blocks this fits the tail capture; the complete maps are in the
    // full line, and the serial map is the comparable one
    val top = jsonObj(results.sortBy(-_._2).take(8).map { case (k, v, _) => k -> r3(v) })
    // the heaviest 10 CLEAN serial rows ride in the tail line too (the
    // complete map is in the sidecar file); suspect rows surface as a
    // count, failures under serial_errors, never as a duration
    val serialCompact = {
      val ok = jsonObj(clean.sortBy(-_._2).take(10).map { case (n, s, _) => n -> r3(s) })
      val bad = jsonObj(serialTimes.collect { case (n, _, _, Some(e)) =>
        n -> ("\"" + JsonOut.escape(e.take(60)) + "\"") })
      s""","serial_full":$ok,"n_serial_suspect":${suspect.size}""" +
        (if (bad == "{}") "" else s""","serial_errors":$bad""")
    }
    // compact scale blocks only: this line must fit a ~2000-char tail
    println(s"""{"metric":"total","value":${r3(wall)},"unit":"sec","queries":$top,"n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"load_avg_1m":${r3(loadAvg)},"concurrent_suspect":$concurrentSuspect,"pool":$poolSize,"cpus":"$cpus","heap_max_gb":${fmt(heapGb, 1)}$serialCompact$scaleCompactJson,"data_fingerprint":"$fp","sf":"${JsonOut.escape(sfDir)}","full":"${JsonOut.escape(sideName)}"}""")
    if (results.exists(_._3.isDefined)) System.err.println(
      s"BENCH ERRORS: ${results.count(_._3.isDefined)} queries failed")
    spark.stop()
  }

  /** A failure's first line (class and message), capped at 200 chars:
    * the form every error carries in the artifact.
    */
  private[graft] def firstLine(e: Throwable): String =
    e.toString.takeWhile(_ != '\n').take(200)

  /** The untimed warm phase: a small query through the full stack, plus
    * the index builds — the reference times search against pre-built
    * indexes (basic_benchmark builds, then benchmarks), so steady-state
    * per-query numbers should too. Each build runs under its own
    * `warm:<build>` job description (its CostLedger row) and returns
    * its wall seconds, in run order.
    *
    * A SUBSET run (`only`, from SPARK_GRAFT_ONLY) warms only the index
    * state its keys serve from: at the 100× dir the EXACT serving-graph
    * build is quadratic (the documented isotropic worst case), and the
    * NND/dedup subset benched there must not pay it in warm-up for
    * keys it never runs. Full runs warm everything.
    *
    * A failure stops the remaining warm builds, so their cost moves
    * into whichever timed row touches them first: the failure's first
    * line, prefixed with the failed build's name, is returned (None
    * when every build ran).
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String,
                            only: Option[Set[String]])
      : (Seq[(String, Double)], Option[String]) = {
    def warms(keys: String*): Boolean =
      only.forall(sel => keys.exists(sel.contains))
    val sc = spark.sparkContext
    val builds = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var current = ""
    def build(name: String)(body: => Any): Unit = {
      current = name
      sc.setJobDescription(s"warm:$name")
      val t0 = System.nanoTime()
      body
      builds += name -> (System.nanoTime() - t0) / 1e9
    }
    val err = try {
      build("session")(SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count())
      build("ivf16") {
        graft.ann.IvfIndex.assignments(spark, sfDir, 16).count()
        graft.ann.IvfIndex.cellRadii(spark, sfDir, 16)       // knn-graph pruning bound
        graft.ann.IvfIndex.withCells(spark, sfDir, 16).count()
      }
      build("ivf8")(graft.ann.IvfIndex.assignments(spark, sfDir, 8).count())
      // cosine-blocking index — C5/C10 derive cells ∝ corpus (=8 at
      // the oracle SFs, wider at the ScaleGen dirs), so warm THAT one
      if (warms("dedup_embedding", "dedup_semantic")) build("ivf_unit") {
        val unitCells = graft.dedup.Dedup.semanticCells(spark, sfDir)
        graft.ann.IvfIndex.getOrBuildUnit(spark, sfDir, unitCells)
        graft.ann.IvfIndex.cellRadii(spark, sfDir, unitCells, unit = true)
      }
      build("pq")(graft.ann.PqIndex.getOrBuild(spark, sfDir))
      build("qdtree")(graft.ann.QdTree.getOrBuild(spark, sfDir)) // greedy tree = index metadata
      build("sq")(graft.ann.SqIndex.getOrBuild(spark, sfDir))
      build("role_centroids")(graft.ann.GroupedKMeans.roleCentroids(spark, sfDir, 4, 5))
      build("recall_model")(graft.ann.RecallModel.measure(spark, sfDir)) // nprobe→recall curve
      // role closures (A19/A20 metadata sidecars, session-cached)
      build("role_closures") {
        graft.rbac.Hierarchy.roleClosure(spark).count()
        graft.rbac.Hierarchy.dagClosure(spark).count()
      }
      // the driver-side grant index of each permission model, which
      // every permission filter and role routing below reads
      build("grant_index")(Seq(graft.rbac.Rbac.Flat, graft.rbac.Rbac.Tree, graft.rbac.Rbac.Dag)
        .foreach(graft.rbac.Rbac.grantIndex(spark, sfDir, _)))
      // one-time role-layout materialization (the pruned prefilter's
      // "index build" — steady state serves from the existing layout)
      build("role_layout")(graft.sources.Layouts.prefilterPruned(spark, sfDir, 1, 1).count())
      // cost-model layout (A7's routed-scan substrate, round 6): the
      // materialized layout, which an earlier JVM may have left on
      // disk, and the in-memory layout plus the grant index's route
      // map, which no earlier JVM can leave
      build("costmodel_layout") {
        graft.sources.Layouts.costModelLayoutPath(spark, sfDir)
        graft.rbac.Partitioned.routedPartitionIds(spark, sfDir, 0L)
      }
      build("bq")(graft.ann.BqIndex.getOrBuild(spark, sfDir)) // BQ thresholds (B23)
      // PCA eigenbasis + OPQ rotated codebook (B25/B30): one-time fits,
      // warmed like the other quantizers so no pool row pays them. The
      // build KEYS (ann_pca_build / ann_opq_build) still compute their
      // report frames from the session state every run, exactly like
      // ann_pq_build.
      if (warms("ann_pca_build", "ann_pca_topk", "ann_opq_build",
                "ann_opq_search")) build("pca") {
        graft.ann.Pca.model(spark, sfDir, 16)
        graft.ann.Pca.model(spark, sfDir, 32)
      }
      if (warms("ann_opq_build", "ann_opq_search"))
        build("opq")(graft.ann.OpqIndex.getOrBuild(spark, sfDir))
      // graph-serving index state (B31-B37): the symmetrized kNN graph
      // + medoid entry points, full and base-prefix (B33) variants —
      // index builds; the WALK itself stays timed (it is the search).
      // The EXACT build is the quadratic step a 100×-dir subset run
      // must be able to skip (its at-scale replacement is the NND
      // build, warmed separately below).
      if (warms("ann_graph_topk", "rbac_graph_topk", "ann_graph_classify",
                "ann_graph_topk_model", "ann_graph_insert",
                "ann_graph_insert_links", "ann_graph_delete_topk",
                "ann_graph_upsert_topk")) build("serving_graph") {
        graft.ann.GraphSearch.servingGraph(spark, sfDir)
        val gcut = graft.ann.GraphSearch.insertCutoff(spark, sfDir)
        graft.ann.GraphSearch.servingGraph(spark, sfDir, baseMax = gcut)
        graft.ann.GraphSearch.cellMedoids(spark, sfDir, baseMax = gcut)
      }
      // the full-corpus medoid entry points are IVF-derived (cheap) and
      // seed BOTH the exact-graph and the NND walks
      build("cell_medoids")(graft.ann.GraphSearch.cellMedoids(spark, sfDir))
      // A21's per-dynamic-partition graph INDEX and serve POLICY (its
      // probes, and the descent builds they may trigger above the exact
      // ceiling) are index-build work by the B38/B43 convention; the
      // walk stays timed (it is the search). The sweep key serves
      // users 0-2: warm each routed partition's index too.
      if (warms("rbac_partition_graph_topk", "rbac_partition_graph_policy_topk"))
        build("partition_graph") {
          graft.ann.GraphSearch.partitionServePolicy(spark, sfDir, 1)
          graft.ann.GraphSearch.partitionGraphIndex(spark, sfDir, 1)
        }
      if (warms("rbac_partition_graph_sweep")) build("sweep_partition_graphs") {
        graft.ann.GraphSearch.SweepUsers.foreach { u =>
          graft.ann.GraphSearch.partitionServePolicy(spark, sfDir, u)
          graft.ann.GraphSearch.partitionGraphIndex(spark, sfDir, u)
        }
      }
      // B38's measured ef→recall fit (index-build-time work, the B22
      // convention; the model-ef WALK stays timed): the WHOLE fit,
      // including the probe walks efFor runs when no grid point meets
      // the recall target, so no pool row pays them
      if (warms("ann_graph_topk_model"))
        build("model_ef")(graft.ann.GraphSearch.modelEf(spark, sfDir))
      // B39's NN-Descent serving graph (the approximate INDEX build —
      // the walk stays timed)
      if (warms("ann_graph_topk_nnd"))
        build("nnd_graph")(graft.ann.GraphSearch.nndServingGraph(spark, sfDir))
      // B43's measured (iters, ef) policy — model fit + the descent
      // build(s) it probes are index-build work (the B38 convention);
      // the policy WALK stays timed
      if (warms("ann_graph_topk_nnd_model"))
        build("nnd_policy")(graft.ann.GraphSearch.nndServePolicy(spark, sfDir))
      // the derived-cells IVF fit the NND builds partition on (cells ∝
      // √N, so the scaled dirs fit a k-means the k=16/k=8 builds above
      // don't cover); the descent BUILD itself stays timed (B17/B42
      // are build keys)
      if (warms("ann_knn_centrality_nnd", "ann_knn_graph_auto",
                "ann_knn_graph_nnd", "ann_graph_topk_nnd")) build("ivf_descent") {
        val dc = graft.ann.Ann.descentCells(spark, sfDir)
        graft.ann.IvfIndex.withCells(spark, sfDir, dc).count()
      }
      // B40's repaired graph (index MAINTENANCE — hnswlib does this at
      // add time; the post-maintenance serving walk stays timed)
      if (warms("ann_graph_upsert_topk"))
        build("repaired_graph")(graft.ann.GraphSearch.repairedGraph(spark, sfDir))
      None
    } catch { case e: Throwable => Some(s"$current: ${firstLine(e)}") }
    finally sc.setJobDescription(null)
    (builds.toSeq, err)
  }
}
