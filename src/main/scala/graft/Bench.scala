package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): one JSON line with per-query wall
  * seconds on SPARK_GRAFT_SF_DIR.
  *
  * A warm-up action runs first (untimed) so JVM/codegen/session startup
  * is not billed to whichever query happens to run first. Set
  * SPARK_GRAFT_ONLY=name1,name2 to bench a subset while iterating.
  */
object Bench {
  private def jsonEscape(s: String): String = JsonOut.escape(s)

  /** Locale-fixed fixed-point render (ADVICE r10: the f interpolator
    * formats in the default locale — a comma decimal separator
    * corrupts the JSON).
    */
  private[graft] def fmt(d: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d))

  /** Known-law attributions for scaled-dir superlinear ratios (r16,
    * VERDICT r15 #4): a ratio with a stamped mechanical cause must
    * carry it IN the artifact — r14/r15 re-discovered
    * dedup_embedding_auto's 10× flag every round because the
    * attribution lived only in CALIBRATION prose. The C11 dispatcher's
    * exact branch scales with the C5 candidate-pair law
    * (`c5_candidate_estimate`, stamped alongside in the same artifact:
    * 4·10⁶→4·10⁸ candidate pairs for 10× data), so its time ratio is
    * the candidate law, not a plan regression.
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

  /** Host-load ceiling for a serial re-time to count as clean: a
    * quarter of the worker threads (the round-8 lesson: serial rows
    * taken at load 7-18 on a 32-cpu host shipped numbers up to 43×
    * off). Floored at 2 so a small-cpu dev run (`SPARK_GRAFT_CPUS=4`)
    * doesn't quarantine every row on an otherwise healthy box.
    */
  private[graft] def loadThreshold(cpus: Int): Double =
    math.max(cpus / 4.0, 2.0)

  /** Split re-timed rows into (clean, suspect) by end-of-query host
    * load. Failed rows belong to NEITHER half — they are reported under
    * serial_errors, never as a duration. Suspect rows keep their
    * numbers (under a separate key) so a reader can still see them,
    * but cross-round diff tooling reads only the clean map.
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
    * ONE row (ADVICE r10: deriving them independently let a run at any
    * other SF compare against the wrong baseline/factor), and a block
    * is emitted ONLY when the current run IS the base dir of that row.
    *
    * The family tag (r16): each ScaleGen mode scales SOME tables and
    * passes the rest through verbatim — iso/manifold scale
    * embeddings+documents, "rel" scales the relational/events fact
    * tables. A key whose tables did NOT scale at a dir runs at 1× data
    * there, and its ≈1.0 "ratio" both drags the block's median below
    * the family's true exponent and reads as spectacular
    * sub-linearity. Ratio stats therefore include only keys whose
    * family the dir scales: relational keys at the *r dirs, everything
    * else at the iso/manifold dirs. (Before the *r dirs existed this
    * was a documented caveat on the sf1x block's n=169; now each
    * family has a dir where its exponent is real.)
    */
  private val ScaledDirs: Seq[(String, String, Double, String, Boolean)] = Seq(
    ("sf1x", "sf0.1", 10.0, "scale", false),
    ("sf10x", "sf0.1", 100.0, "scale100", false),
    // the MANIFOLD 100× dir (r14, VERDICT r13 #6): same row count as
    // sf10x but low intrinsic dimension — the data regime graph
    // indexes exist for. Promoted from CALIBRATION-only into the bench
    // rotation so serving-family ratios get a law-matched point, with
    // the isotropic sf10x block kept as the adversarial control.
    ("sf10xm", "sf0.1", 100.0, "scale100m", false),
    // RELATIONAL-scaled dirs (r16, closing the "relational tables are
    // pass-through copies" caveat): ScaleGen mode "rel" key-shifts the
    // fact tables ×10/×100 with embeddings/documents passed through —
    // the E family's scale exponents get measured instead of caveated,
    // and its pure-SQL oracles give a cheap DuckDB parity surface at
    // 100×. Blocks emit only once a sidecar exists at the dir.
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
    * (wall/median/p90/n_superlinear/suspect) ride in the tail-visible
    * line. r15 embedded the full blocks in both and the compact line
    * outgrew the driver's ~2000-char tail capture — the round shipped
    * with `parsed: null` (VERDICT r15 #1).
    */
  private def scaleSidecarJson(spark: SparkSession, sfDir: String,
                               curClean: Map[String, Double]): (String, String) = {
    if (curClean.isEmpty) return ("", "")
    val curName = new java.io.File(sfDir).getName
    val frags = ScaledDirs.flatMap { case (scaled, base, factor, key, rel) =>
      val side = new java.io.File(s"bench_full_$scaled.json")
      if (curName != base || !side.exists()) None
      else try {
        val df = spark.read.json(side.getAbsolutePath)
        if (!df.columns.contains("serial_full")) None
        else {
          val meta = df.select("value", "data_fingerprint", "sf").collect().head
          val srow = df.select("serial_full.*").collect().head
          val other = srow.schema.fieldNames.zipWithIndex.flatMap { case (c, i) =>
            srow.get(i) match { case n: Number => Some(c -> n.doubleValue); case _ => None }
          }.toMap.filter { case (k, _) => relationalKey(k) == rel }
          val (n, med, p90, sup) = scaleRatios(curClean, other, factor)
          if (n == 0) None
          else {
            // the scaled run's own pool/load verdict rides in the
            // block (r15, VERDICT r14 #3): a reader attributing this
            // round's sf2_wall against last round's must see the
            // load regime the wall was taken under WITHOUT opening
            // the sidecar; absent fields (pre-r15 sidecars) emit
            // nothing rather than a fabricated number
            def optNum(c: String): String =
              if (!df.columns.contains(c)) ""
              else try {
                df.select(c).collect().head.get(0) match {
                  case x: Number => s""","sf2_$c":${x.doubleValue}"""
                  case b: java.lang.Boolean => s""","sf2_$c":$b"""
                  case _ => ""
                }
              } catch { case _: Throwable => "" }
            val verdictJson = Seq("concurrent_load_pre", "concurrent_load_mean",
              "concurrent_load_peak", "concurrent_ambient_mean",
              "concurrent_self_cores_mean", "concurrent_suspect")
              .map(optNum).mkString
            // merge-refresh transparency (r16): a subset run with
            // SPARK_GRAFT_MERGE_SIDECAR=1 rewrites the sidecar header
            // (wall/verdict = the SUBSET run's) while the serial map
            // carries the prior rows — without the carried count a
            // cross-round reader sees the dir's wall "collapse"
            // (222.8 s → 1.3 s after a one-key refresh). n_carried
            // out of n_serial says which kind of run the header is.
            val carriedJson0 =
              if (!df.columns.contains("serial_carried_over")) ""
              else try {
                // serial_carried_over is an ARRAY of key names
                val nCarried = df.select(
                  org.apache.spark.sql.functions.size(
                    org.apache.spark.sql.functions.col("serial_carried_over")))
                  .collect().head.getInt(0)
                s""","sf2_n_carried":${math.max(nCarried, 0)},"sf2_n_serial":${srow.schema.size}"""
              } catch { case _: Throwable =>
                // the column EXISTS but can't be sized — Spark infers an
                // EMPTY json array as array<null>/void and size() fails;
                // an empty carried list IS zero carried rows
                s""","sf2_n_carried":0,"sf2_n_serial":${srow.schema.size}"""
              }
            // fingerprint drift flag: the sidecar's serial map is only
            // comparable while the scaled dir still holds the data it
            // was timed on — a regeneration between rounds must be a
            // recorded fact, not a silent ratio shift
            val liveFp = dataFingerprint(meta.getString(2))
            val changed = liveFp != meta.getString(1)
            val supJson = superlinearJson(sup)
            val full = s""","$key":{"sf2":"${jsonEscape(meta.getString(2))}","sf2_fingerprint":"${jsonEscape(meta.getString(1))}","sf2_data_changed":$changed,"sf2_wall":${meta.getDouble(0)}$carriedJson0$verdictJson,"factor":$factor,"n_common":$n,"serial_ratio_median":${fmt(med, 3)},"serial_ratio_p90":${fmt(p90, 3)},"superlinear":$supJson}"""
            // compact block: summary only, guaranteed-small; "suspect"
            // carries the scaled run's own pool verdict when the
            // sidecar recorded one (pre-r15 sidecars: absent)
            val suspectCompact =
              if (!df.columns.contains("concurrent_suspect")) ""
              else try {
                df.select("concurrent_suspect").collect().head.get(0) match {
                  case b: java.lang.Boolean => s""","suspect":$b"""
                  case _ => ""
                }
              } catch { case _: Throwable => "" }
            val changedCompact = if (changed) ""","data_changed":true""" else ""
            val compact = s""","$key":{"wall":${fmt(meta.getDouble(0), 1)},"n":$n,"med":${fmt(med, 2)},"p90":${fmt(p90, 2)},"n_sup":${sup.size}$suspectCompact$changedCompact}"""
            Some((full, compact))
          }
        }
      } catch { case _: Throwable => None }
    }
    (frags.map(_._1).mkString, frags.map(_._2).mkString)
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

  /** Ambient-vs-self split of the pool phase's load samples (r15,
    * VERDICT r14 #4): the 1-min load average mixes the host's OTHER
    * work with this process's own saturated pool — the r14 rule
    * (mean > cpus + loadMax) could not tell a loaded box from a busy
    * phase, so the two recorded r14 sf0.1 walls (108.2 s quiet /
    * 161.3 s loaded) shipped the same non-flag. Each sample carries
    * the JVM's cumulative process-CPU seconds; self-cores at sample i
    * is the trailing-60 s CPU rate (the 1-min average's own window;
    * cumulative-from-start while the phase is younger than 60 s) and
    * ambient_i = max(0, load_i − self_i). Pure over the samples —
    * unit-tested without Spark, and REPLAYABLE against recorded walls:
    * the phase's total self-CPU work is wall-invariant for a fixed
    * query set, so self-cores under a recorded wall = work/wall.
    *
    * samples: (wallSec since phase start, 1-min load, cumulative
    * process-CPU sec). Returns (ambientMean, ambientPeak,
    * selfCoresMean); None below 2 samples (no interval to rate).
    */
  private[graft] def ambientStats(
      samples: Seq[(Double, Double, Double)]): Option[(Double, Double, Double)] = {
    if (samples.size < 2) return None
    val rows = samples.indices.drop(1).map { i =>
      val (wi, li, ci) = samples(i)
      val j0 = samples.lastIndexWhere({ case (wj, _, _) => wi - wj >= 60.0 }, i - 1)
      val (wj, _, cj) = samples(if (j0 >= 0) j0 else 0)
      val self = if (wi > wj) math.max(0.0, (ci - cj) / (wi - wj)) else 0.0
      (math.max(0.0, li - self), self)
    }
    Some((rows.map(_._1).sum / rows.size, rows.map(_._1).max,
      rows.map(_._2).sum / rows.size))
  }

  /** Replay the ambient rule against a RECORDED wall (r15): for a
    * fixed query set the phase's total self-CPU work is wall-invariant
    * (competition stretches the wall, not the work), so a recorded
    * (wall, mean-load) pair plus a measured work figure yields the
    * ambient mean the new rule would have seen: load − work/wall.
    */
  private[graft] def replayAmbient(wall: Double, loadMean: Double,
                                   selfCpuSec: Double): Double =
    math.max(0.0, loadMean - selfCpuSec / wall)

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

  def main(args: Array[String]): Unit = {
    // bench usually runs at a different SF than the oracle's Verify —
    // never let its sidecar writes clobber the oracle's fixed path
    Sidecars.isolate("graft_bench_sidecars")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // exact-by-contract keys (r13, VERDICT r12 #6): B11/C5/B27 are
    // small-N/clustered-regime operators by EXPLICIT contract — each
    // has a shipped dispatching default (B42/C11/B41) that is what a
    // user would run at scale. Benching the raw exact keys at the
    // ScaleGen dirs makes `scale.superlinear` a list of known-by-
    // contract alarms instead of a regression detector, so a scaled-dir
    // run drops them by default; SPARK_GRAFT_ONLY (explicit choice) or
    // SPARK_GRAFT_EXACT=1 overrides. They stay fully benched + oracle-
    // checked at the oracle SFs, which anchor the dispatch keys.
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
    val warmError = warmUp(spark, sfDir, only)
    // load ceiling for a clean measurement window (round-8 lesson:
    // rows taken at load 7-18 shipped numbers up to 43× off);
    // overridable for the synthetic-load test harness
    val loadMax = sys.env.get("SPARK_GRAFT_LOAD_MAX").map(_.toDouble)
      .getOrElse(loadThreshold(cpus.toInt))
    def loadNow(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // bounded wait for a quiet host before a measurement phase — give
    // up after 120 s and let the phase's load stamp mark the run
    def awaitQuietHost(): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (loadNow() > loadMax && System.nanoTime() < deadline) {
        Thread.sleep(5000)
      }
    }
    // Overlap queries on a small pool: a single local session leaves
    // cores idle during per-query driver phases (planning, codegen,
    // stage boundaries); concurrent submission is how a real workload
    // runs. value = wall-clock for the whole workload; per-query
    // seconds are reported individually (measured under that
    // concurrency).
    //
    // The concurrent wall gets the same fence the serial phase got in
    // r9: wait for a quiet host first (r9's headline wall was taken at
    // load 17 — noise, not signal), stamp the PRE-phase load, and flag
    // the whole phase suspect when the wait gave up on a loaded box.
    awaitQuietHost()
    val loadPre = loadNow()
    val poolSize = Env.int("SPARK_GRAFT_POOL", 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // in-run load samples for the POOL phase (r14, VERDICT r13 #3):
    // the pre-phase stamp alone can't explain a wall that degraded
    // MID-phase (r13's 190.7 s wall started at load 7.59 — just under
    // the ceiling — and averaged 19.3 during the run, so the artifact
    // said "clean" about a measurement contention had already ruined).
    // A daemon samples the 1-min average every 5 s for the phase's
    // duration; mean/peak ride in the artifact and the suspect flag
    // covers the whole window, not its first instant. Self-load note:
    // the pool intentionally saturates the host, so the ceiling for
    // the MEAN is loadMax + the worker threads the phase itself runs —
    // the flag fires on load the phase cannot have generated.
    // self-CPU alongside each load sample (r15, VERDICT r14 #4): the
    // process's cumulative CPU seconds let the verdict subtract the
    // phase's OWN work from the 1-min average — the flag fires on
    // AMBIENT load (what the host's other tenants ran), not on the
    // pool's intentional saturation
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def processCpuSec(): Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val t = b.getProcessCpuTime; if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }
    val poolLoads =
      new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Double)]()
    val poolSamplerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val phase0 = System.nanoTime()
    val cpuSec0 = processCpuSec()
    val poolSampler = new Thread(() => {
      while (!poolSamplerDone.get()) {
        poolLoads.add(((System.nanoTime() - phase0) / 1e9, loadNow(), processCpuSec()))
        Thread.sleep(5000)
      }
    })
    poolSampler.setDaemon(true)
    poolSampler.start()
    val w0 = System.nanoTime()
    // per-row start/stop stamps relative to the pool phase start (r17,
    // VERDICT r16 #6): pool walls moved ±5× round-over-round with no
    // code change because WHAT CO-RAN with a row is invisible in the
    // artifact — the spans make cross-round pool deltas attributable
    // (overlapping spans = the row's contention set) without re-running
    val poolSpans =
      new java.util.concurrent.ConcurrentHashMap[String, (Double, Double)]()
    val futures = qs.map { case (name, fn) =>
      scala.concurrent.Future {
        // label the jobs (guide §1.5) — job descriptions are
        // thread-local, so each concurrent query is tagged correctly
        // in event logs / the UI; zero effect on the timed work
        spark.sparkContext.setJobDescription(s"pool:$name")
        val t0 = System.nanoTime()
        // a failed query must SURFACE as a failure, not bench as a fast
        // success — record the error and report it in the JSON
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200))
        }
        val t1 = System.nanoTime()
        poolSpans.put(name, ((t0 - w0) / 1e9, (t1 - w0) / 1e9))
        (name, (t1 - t0) / 1e9, err)
      }
    }
    val results = futures.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    val wall = (System.nanoTime() - w0) / 1e9
    poolSamplerDone.set(true)
    pool.shutdown()
    // pool-phase comparability verdict: mean/peak of the in-run samples
    // plus a suspect flag. The phase's OWN work shows up in the load
    // average (up to cpus on a saturated local[cpus]), so the mean's
    // ceiling is cpus + loadMax: ambient load beyond what this process
    // can generate. The pre-phase stamp keeps its original ceiling.
    val poolSamples = {
      import scala.jdk.CollectionConverters._
      // one closing sample at drain time: a sub-cadence phase would
      // otherwise carry a single sample — no interval to rate self
      // CPU over, so the ambient verdict would silently vanish
      poolLoads.add(((System.nanoTime() - phase0) / 1e9, loadNow(), processCpuSec()))
      poolLoads.asScala.toSeq.sortBy(_._1)
    }
    val poolLoadMean = poolSamples.map(_._2).sum / poolSamples.size
    val poolLoadPeak = poolSamples.map(_._2).max
    // ambient verdict (r15): subtract the measured self-cores from
    // each load sample; the flag fires on load the phase cannot have
    // generated. Falls back to the r14 whole-process ceiling when the
    // platform bean exposes no process CPU (never on this JDK).
    val ambient =
      if (cpuSec0 < 0) None
      else ambientStats(poolSamples)
    // total self-CPU work of the phase — wall-invariant for a fixed
    // query set, so a recorded wall can be REPLAYED: self-cores under
    // wall W = this work / W (the r14-pair calibration demo)
    val poolSelfCpuSec =
      if (cpuSec0 < 0) -1.0 else math.max(0.0, processCpuSec() - cpuSec0)
    val concurrentSuspect = loadPre > loadMax ||
      ambient.map(_._1 > loadMax)
        .getOrElse(poolLoadMean > cpus.toInt + loadMax)
    // the concurrent tail numbers are only comparable across rounds at
    // similar machine load — record it so a reader can tell a
    // regression from a loaded box (round-2 lesson), and optionally
    // re-time the heaviest queries serially (no pool overlap)
    val loadAvg = loadNow()
    // serial re-times are ON by default (SPARK_GRAFT_SERIAL=off to
    // skip): the shared host intermittently collapses under
    // multi-job concurrency (SKEW.md round-5 — identical binaries vary
    // 15× between windows while serial times stay stable), so the
    // serial numbers are the only cross-round-comparable signal when
    // the concurrent wall lands in a bad window.
    //   full (default): re-time EVERY query — the deterministic
    //                   cross-round comparison artifact (a judge can
    //                   diff rounds query-by-query regardless of what
    //                   the concurrent wall did)
    //   heavy:          re-time only the 5 heaviest concurrent queries
    //                   (the faster pre-round-6 behavior)
    val serialMode = sys.env.getOrElse("SPARK_GRAFT_SERIAL", "full") match {
      case m @ ("off" | "heavy" | "full") => m
      case other =>
        // an unrecognized value must not silently fall back to a SMALLER
        // artifact (a typo'd "ful" would quietly drop 115 of 120 serial
        // re-times from the cross-round comparison)
        System.err.println(s"SPARK_GRAFT_SERIAL=$other unrecognized; using 'full'")
        "full"
    }
    val serialKey = if (serialMode == "full") "serial_full" else "serial_heavy"
    // per-key recompute visibility: cached partitions missing from the
    // session's persisted RDDs going INTO each re-time — a nonzero
    // value means the row timed a cache recompute, not steady state
    val serialMissing = scala.collection.concurrent.TrieMap.empty[String, Int]
    def retimeOnce(name: String): (String, Double, Double, Option[String]) = {
      serialMissing.put(name, missingCachedPartitions(spark))
      // load sampled BEFORE the re-time (r10): the fence must measure
      // the AMBIENT window the row starts in. The r9 end-sample charged
      // each row for its predecessor's burst — at the 10× dir the two
      // 60 s knn keys run first (alphabetical) and the next ~3 minutes
      // of sub-second keys quarantined SYSTEMATICALLY on the decaying
      // 1-min average (21 of 167 rows fenced on an otherwise idle
      // host) — and a long key's OWN 32-thread work could fence the
      // key itself, which is self-load, not contention.
      val pre = loadNow()
      spark.sparkContext.setJobDescription(s"serial:$name") // guide §1.5
      val t0 = System.nanoTime()
      // same rule as the concurrent pass: a failure must surface as
      // a failure, never as a fast-looking number
      val err = try { SparkEntry.queries(name)(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
      (name, (System.nanoTime() - t0) / 1e9, pre, err)
    }
    // per-key quiet wait under a GLOBAL budget: a heavy key's burst
    // decays over ~60 s of 1-min-average; waiting it out before the
    // next row keeps the fence meaningful without letting 168 keys
    // each wait the full cap on a genuinely busy host
    // 1800 s (r12, was 600): the steady-state fence doubles the serial
    // phase, so heavy keys' own bursts take longer to decay — at the
    // 10× dir the old budget drained mid-phase and the remaining rows
    // shipped load-fenced (10 suspects) instead of waited-out
    val serialWaitBudgetNs = new java.util.concurrent.atomic.AtomicLong(
      1800L * 1000 * 1000 * 1000)
    def awaitQuietSerial(): Unit = {
      var last = System.nanoTime()
      while (loadNow() > loadMax && serialWaitBudgetNs.get() > 0) {
        Thread.sleep(5000)
        val now = System.nanoTime()
        serialWaitBudgetNs.addAndGet(last - now)
        last = now
      }
    }
    // steady-state instability audit (r12): keys whose first re-time
    // exceeded the kept one by >1.5× — the rows the old single-shot
    // serial phase would have shipped as cross-round "regressions"
    val serialUnstable = scala.collection.concurrent.TrieMap.empty[String, Double]
    // kept-second audit (r16, ADVICE r15): the fence reads the FIRST
    // attempt's awaited pre-load, so a kept SECOND run's own window is
    // invisible — ambient arriving mid-pair while the second run still
    // beats a cache-recovery-inflated first run would ship under the
    // first attempt's quiet stamp. Record the second attempt's
    // pre-load for every kept-second row so those rows stay auditable.
    val serialKeptSecondLoad = scala.collection.concurrent.TrieMap.empty[String, Double]
    def retime(names: Seq[String]): Seq[(String, Double, Double, Option[String])] =
      names.map { name =>
        awaitQuietSerial()
        val first = retimeOnce(name)
        // a row that STARTED in a loaded host window is not a
        // measurement — wait the burst out (the fixed 3 s backoff this
        // replaces was useless after a multi-minute heavy-key burst:
        // the 1-min average needs ~60+ s to decay) and retry; rows
        // STILL above the ceiling are quarantined under serial_suspect
        // below instead of shipping as cross-round-comparable numbers
        val base = if (first._4.isEmpty && first._3 > loadMax) {
          awaitQuietSerial()
          retimeOnce(name)
        } else first
        // steady-state fence (r12, VERDICT r11 #1): the pool phase can
        // leave a key's cached inputs spilled or disk-resident, so the
        // FIRST serial re-time measures cache recovery, not the
        // operator — bisecting the r11 "serial regression" found
        // walk-family rows 2–6× elevated in-bench while isolated
        // cold AND warm runs matched r10 exactly (CALIBRATION r12).
        // A second back-to-back run executes from the state the first
        // run restored; keep the faster, record >1.5× gaps.
        if (base._4.isEmpty) {
          val second = retimeOnce(name)
          val kept = if (second._4.isEmpty && second._2 < base._2) second else base
          if (kept eq second) serialKeptSecondLoad.put(name, second._3)
          // the instability audit compares CLEAN runs only (r13): a
          // second re-time that errored has a partial elapsed time —
          // a ratio derived from it would be meaningless
          if (second._4.isEmpty) {
            val worst = math.max(base._2, second._2)
            if (kept._2 > 0 && worst / kept._2 > 1.5)
              serialUnstable.put(name, math.rint(worst / kept._2 * 100) / 100)
          }
          // fence on the FIRST (awaited) attempt's pre-load (r15): the
          // second back-to-back run STARTS inside the first's own
          // 32-thread burst by design (that is what makes it the
          // steady-state sample), so its 1-min load reads SELF-load,
          // not ambient — the r10 rule. Fencing on it quarantined
          // every ≥15 s key whose warm second run was the faster one
          // (observed at the 100× dirs: substring/embedding_auto/
          // centrality suspect on an idle host while sub-second
          // siblings passed). Ambient arriving MID-pair inflates the
          // second run's time, min-of-2 then keeps the first — which
          // base's awaited pre-load stamp covers.
          (kept._1, kept._2, base._3, kept._4)
        } else base
      }
    // The serial phase starts the moment the pool drains, while the
    // 1-min load average still carries the concurrent burst (~60 s
    // decay) — without the quiet-host wait the alphabetically-first
    // rows are quarantined SYSTEMATICALLY (observed: 23 early ann_*
    // rows suspect on an otherwise quiet host).
    val serialTimes: Option[Seq[(String, Double, Double, Option[String])]] = serialMode match {
      case "off"  => None
      case "full" => awaitQuietHost(); Some(retime(results.map(_._1).sorted))
      case _      => awaitQuietHost(); Some(retime(results.sortBy(-_._2).take(5).map(_._1)))
    }
    // Control isolation at the scaled dirs (r13, VERDICT r12 #2b/#4):
    // the 100× subset's small control keys inflate when they co-reside
    // with the heavy families' cached state in one JVM (GC/page-cache
    // pressure: brute force 0.5→2.2 s in r12) — at real scale those
    // co-residents are separate executors. The fix is fresh-session-
    // per-family runs; SPARK_GRAFT_MERGE_SIDECAR=1 lets those runs
    // ACCUMULATE into one scaled-dir sidecar: clean serial rows from
    // the existing sidecar (same data fingerprint) are carried over
    // for keys the current run didn't time, so the sf0.1 run's scale
    // blocks still see one complete per-key map.
    val mergeSidecar = sys.env.get("SPARK_GRAFT_MERGE_SIDECAR").contains("1")
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
          else {
            val srow = df.select("serial_full.*").collect().head
            srow.schema.fieldNames.zipWithIndex.flatMap { case (c, i) =>
              srow.get(i) match {
                case n: Number => Some(c -> n.doubleValue); case _ => None }
            }.toMap
          }
        }
      } catch { case _: Throwable => Map.empty }
    val serialJson = serialTimes.map { timed =>
      val (clean, suspect) = partitionByLoad(timed, loadMax)
      // carried rows fill in keys this run DIDN'T attempt (ADVICE r13:
      // the bare `-- clean` resurrected sidecar rows for keys that
      // errored or were load-fenced THIS run — masking a fresh
      // regression behind its old clean time — and re-imported the
      // exact-by-contract keys a scaled-dir run deliberately excludes)
      val attempted = timed.map(_._1).toSet
      val carried = priorSerial() -- clean.map(_._1) -- attempted --
        (if (dropExact) exactContractKeys else Set.empty[String])
      val ok = (clean.map { case (n, t, _) => n -> t } ++ carried.toSeq)
        .sortBy(_._1)
        .map { case (n, t) => "\"" + n + "\":" + t }
        .mkString("{", ",", "}")
      // rows whose retry STILL ended above the load ceiling: visible,
      // but fenced off from the cross-round-comparable map (round-8
      // shipped a 43×-wrong serial row taken at load 8)
      val sus = suspect.map { case (n, t, _) => "\"" + n + "\":" + t }
        .mkString("{", ",", "}")
      // parallel map, not nested objects: keeps the name→sec shape of
      // serial_full stable for cross-round diff tooling; loads cover
      // clean AND suspect rows so the fence is auditable
      val loads = timed.collect { case (n, _, l, None) => "\"" + n + "\":" + l }
        .mkString("{", ",", "}")
      val serr = timed.collect { case (n, _, _, Some(e)) =>
        "\"" + n + "\":\"" + jsonEscape(e) + "\"" }
        .mkString("{", ",", "}")
      // recompute visibility: cached partitions missing going INTO each
      // re-time (nonzero = the row timed a session-cache recompute, not
      // steady state — r9's 11.3 s NND row vs its 0.46 s sibling)
      val miss = timed.map { case (n, _, _, _) =>
        "\"" + n + "\":" + serialMissing.getOrElse(n, 0) }
        .mkString("{", ",", "}")
      // the steady-state fence's audit trail: keys whose slower
      // re-time was >1.5× the kept one (the rows the single-shot
      // phase would have shipped as phantom cross-round regressions)
      val unstable = serialUnstable.toSeq.sortBy(-_._2)
        .map { case (n, r) => "\"" + n + "\":" + r }
        .mkString("{", ",", "}")
      // the kept-second audit map (ADVICE r15): second-attempt pre-load
      // for every row whose kept time came from the second run — a
      // reader can fence-check those rows' own windows even though the
      // shipped load stamp is the first attempt's awaited one
      val keptSecond = serialKeptSecondLoad.toSeq.sortBy(_._1)
        .map { case (n, l) => "\"" + n + "\":" + l }
        .mkString("{", ",", "}")
      // retime_policy (r13, ADVICE r12): the steady-state fence ships
      // min-of-two per clean key since r12, which systematically
      // shifts serial numbers DOWN vs the single-shot rows of r11 and
      // earlier — cross-round tooling diffing against pre-r12 history
      // lines needs the methodology stamped in the schema, not in
      // narrative
      // carried-over rows are flagged by count + key list so a merged
      // sidecar is never mistaken for a single-session run
      val carriedJson = if (carried.isEmpty) "" else
        s""","serial_carried_over":${carried.keys.toSeq.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
      s""","$serialKey":$ok,"serial_retime_policy":"min_of_2","serial_suspect":$sus,"serial_load_max":$loadMax,"serial_load_1m":$loads,"serial_cached_missing":$miss,"serial_retime_unstable":$unstable,"serial_kept_second_load":$keptSecond$carriedJson,"serial_errors":$serr"""
    }.getOrElse("")
    val qjson = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // pool co-scheduling spans — fullLine/sidecar only (the tail line
    // must stay inside the driver's ~2000-char capture, VERDICT r15 #1)
    val spansJson = {
      import scala.jdk.CollectionConverters._
      poolSpans.asScala.toSeq.sortBy(_._2._1)
        .map { case (n, (s, e)) =>
          "\"" + n + "\":[" + fmt(s, 2) + "," + fmt(e, 2) + "]" }
        .mkString("{", ",", "}")
    }
    val errs = (results.collect { case (k, _, Some(e)) => k -> e } ++
      warmError.map("warm" -> _))
      .map { case (k, e) => "\"" + k + "\":\"" + jsonEscape(e) + "\"" }
      .mkString("{", ",", "}")
    // the dataset digest rides in the artifact so cross-round tooling
    // can refuse to compare times across a testdata regeneration
    val fp = dataFingerprint(sfDir)
    // C5/C11 attributability (r13, VERDICT r12 #2a): the exact miner's
    // cost at the scaled dirs is FIT-dependent (the k-means blocking's
    // selectivity swings with the fit — r11 vs r12 measured 8.2 s vs
    // 38 s at identical data), and the candidate-stream estimate is
    // exactly the quantity that varies. Stamp it into the artifact so
    // a reader of `scale.superlinear` can distinguish fit-swing from a
    // plan regression without re-running anything. Session-cached —
    // the dedup keys already computed it, so this is a map lookup.
    val c5Json =
      if (qs.exists(q => q._1 == "dedup_embedding" || q._1 == "dedup_embedding_auto"))
        try {
          val cells = graft.dedup.Dedup.semanticCells(spark, sfDir)
          val est = graft.dedup.Dedup.embeddingCandidateEstimate(
            spark, sfDir, cells = cells)
          s""","c5_candidate_estimate":$est,"c5_cells":$cells"""
        } catch { case _: Throwable => "" }
      else ""
    // the contract exclusion is visible in the artifact, never silent
    // (the no-silent-caps rule)
    val exclJson = if (!dropExact) "" else
      s""","excluded_by_contract":${exactContractKeys.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    // round 10: when the 10×-dir sidecar exists, the artifact carries
    // the second scale point + per-key ratios (empirical scale check).
    // Full blocks → fullLine only; compact summaries → the tail line
    // (r16, VERDICT r15 #1: both lines carried the full blocks and the
    // tail line outgrew the driver's capture window)
    val (scaleJson, scaleCompactJson) = serialTimes.map { timed =>
      val curClean = partitionByLoad(timed, loadMax)._1
        .map { case (n, t, _) => n -> t }.toMap
      scaleSidecarJson(spark, sfDir, curClean)
    }.getOrElse(("", ""))
    // "total_full", not "total": exactly ONE stdout line may carry
    // metric=total or a consumer keying on it would double-count runs
    // ambient fields ride in the artifact so a wall delta is
    // attributable without re-running (r15): ambient ≈ other tenants'
    // cores; self_cpu_sec is the replay invariant
    val ambientJson = ambient.map { case (m, p, s) =>
      s""","concurrent_ambient_mean":$m,"concurrent_ambient_peak":$p,"concurrent_self_cores_mean":$s,"concurrent_self_cpu_sec":$poolSelfCpuSec"""
    }.getOrElse("")
    // heap stamp (ADVICE r15): the same main launched via
    // tools/run_graft.sh vs sbt could run at different -Xmx; GC/spill-
    // sensitive numbers are only comparable at a recorded heap
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val fullLine = s"""{"metric":"total_full","value":$wall,"unit":"sec","queries":$qjson,"pool_spans":$spansJson,"errors":$errs,"load_avg_1m":$loadAvg,"concurrent_load_pre":$loadPre,"concurrent_load_mean":$poolLoadMean,"concurrent_load_peak":$poolLoadPeak$ambientJson,"concurrent_suspect":$concurrentSuspect,"pool":$poolSize,"cpus":"${jsonEscape(cpus)}","heap_max_gb":${fmt(heapGb, 1)}$serialJson$scaleJson$c5Json$exclJson,"data_fingerprint":"$fp","sf":"${jsonEscape(sfDir)}"}"""
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
    } catch { case _: Throwable => () }
    // Durable per-run archive (VERDICT r11 #1): the sidecar above is
    // OVERWRITTEN every run and BENCH_r*.json keeps only the stdout
    // tail (top-15 serial rows) — which left the r10→r11 1.5× wall
    // drift unattributable because no round-over-round full serial map
    // survived. Append every run's full line (epoch-stamped) to a
    // git-tracked history file so cross-round per-key diffs are always
    // possible.
    try {
      val hist = java.nio.file.Paths.get("benchdata", "history",
        "bench_history.jsonl")
      java.nio.file.Files.createDirectories(hist.getParent)
      val stamped = s"""{"ts_ms":${System.currentTimeMillis()},""" +
        fullLine.drop(1) + "\n"
      java.nio.file.Files.write(hist, stamped.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () }
    println(fullLine)
    def r3(d: Double): String = // Locale.ROOT: a comma decimal separator would break the JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // top-8, not 15 (r16): two big maps of 32-char key names plus the
    // compact scale blocks (5 dirs since the relational pair landed)
    // brushed the driver's capture window — the complete maps are in
    // the sidecar/fullLine either way, and of the two maps the SERIAL
    // one is the comparable signal, so it keeps more rows (10) than
    // the pool-amortized queries map (8)
    val top = results.sortBy(-_._2).take(8)
      .map { case (k, v, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // the serial numbers ride in the compact tail-visible line too —
    // when the concurrent wall hits a bad host window they are the
    // comparable signal (see SKEW.md round-5)
    // same failure rule as everywhere else: a failed serial re-run must
    // never print as a fast-looking duration — successes go under
    // serial_heavy, failures under serial_errors, in the tail line too
    val serialCompact = serialTimes.map { t =>
      val (clean, suspect) = partitionByLoad(t, loadMax)
      // full mode re-times everything — the tail line only fits the
      // heaviest 10 CLEAN rows (the complete map is in the sidecar
      // file); suspect rows surface as a count, never as numbers
      val shown = if (serialMode == "full") clean.sortBy(-_._2).take(10) else clean
      val ok = shown.map { case (n, s, _) => "\"" + n + "\":" + r3(s) }
        .mkString("{", ",", "}")
      val bad = t.collect { case (n, _, _, Some(e)) =>
        "\"" + n + "\":\"" + jsonEscape(e.take(60)) + "\"" }
        .mkString("{", ",", "}")
      s""","$serialKey":$ok,"n_serial_suspect":${suspect.size}""" +
        (if (bad == "{}") "" else s""","serial_errors":$bad""")
    }.getOrElse("")
    // compact scale blocks only (r16, VERDICT r15 #1): the full blocks
    // pushed this line past the driver's ~2000-char tail capture in
    // r15 and the round's totals went unparsed
    println(s"""{"metric":"total","value":${r3(wall)},"unit":"sec","queries":$top,"n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"load_avg_1m":${r3(loadAvg)},"concurrent_suspect":$concurrentSuspect,"pool":$poolSize,"cpus":"${jsonEscape(cpus)}","heap_max_gb":${fmt(heapGb, 1)}$serialCompact$scaleCompactJson,"data_fingerprint":"$fp","sf":"${jsonEscape(sfDir)}","full":"${jsonEscape(sideName)}"}""")
    if (results.exists(_._3.isDefined)) System.err.println(
      s"BENCH ERRORS: ${results.count(_._3.isDefined)} queries failed")
    spark.stop()
  }

  /** The untimed warm phase: a small query through the full stack, plus
    * the index builds — the reference times search against pre-built
    * indexes (basic_benchmark builds, then benchmarks), so steady-state
    * per-query numbers should too. Build cost is still visible in the
    * first cold run of Verify.
    *
    * A SUBSET run (`only`, from SPARK_GRAFT_ONLY) warms only the index
    * state its keys serve from: at the 100× dir the EXACT serving-graph
    * build is quadratic (the documented isotropic worst case), and the
    * NND/dedup subset benched there must not pay it in warm-up for
    * keys it never runs. Full runs warm everything.
    *
    * A failure stops the remaining warm builds, so their cost moves
    * into whichever timed row touches them first: the failure's first
    * line is returned (None when every build ran).
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String,
                            only: Option[Set[String]]): Option[String] = {
    def warms(keys: String*): Boolean =
      only.forall(sel => keys.exists(sel.contains))
    try {
      SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count()
      graft.ann.IvfIndex.assignments(spark, sfDir, 16).count()
      graft.ann.IvfIndex.assignments(spark, sfDir, 8).count()
      graft.ann.IvfIndex.cellRadii(spark, sfDir, 16)       // knn-graph pruning bound
      graft.ann.IvfIndex.withCells(spark, sfDir, 16).count()
      // cosine-blocking index — C5/C10 derive cells ∝ corpus (=8 at
      // the oracle SFs, wider at the ScaleGen dirs), so warm THAT one
      if (warms("dedup_embedding", "dedup_semantic")) {
        val unitCells = graft.dedup.Dedup.semanticCells(spark, sfDir)
        graft.ann.IvfIndex.getOrBuildUnit(spark, sfDir, unitCells)
        graft.ann.IvfIndex.cellRadii(spark, sfDir, unitCells, unit = true)
      }
      graft.ann.PqIndex.getOrBuild(spark, sfDir)
      graft.ann.QdTree.getOrBuild(spark, sfDir) // greedy tree = index metadata
      graft.ann.SqIndex.getOrBuild(spark, sfDir)
      graft.ann.GroupedKMeans.roleCentroids(spark, sfDir, 4, 5) // per-role sidecars
      graft.ann.RecallModel.measure(spark, sfDir)        // nprobe→recall curve sidecar
      // one-time role-layout materialization (the pruned prefilter's
      // "index build" — steady state serves from the existing layout)
      graft.sources.Layouts.prefilterPruned(spark, sfDir, 1, 1).count()
      // cost-model layout (A7's routed-scan substrate, round 6)
      graft.sources.Layouts.costModelLayoutPath(spark, sfDir)
      // BQ thresholds sidecar (B23)
      graft.ann.BqIndex.getOrBuild(spark, sfDir)
      // PCA eigenbasis + OPQ rotated codebook (B25/B30) — r16: these
      // were the only quantization-ladder indexes NOT in the warm list
      // (PQ/SQ/BQ builds above predate them), so their one-time fits
      // were billed to whichever pool query touched them first,
      // inconsistently with the stated convention ("the reference
      // times search against pre-built indexes"). The build KEYS
      // (ann_pca_build / ann_opq_build) still compute their report
      // frames from the session state every run, exactly like
      // ann_pq_build has since r6. Old numbers: r16 baseline pool rows
      // ann_opq_search 16.0 s / ann_opq_build 14.5 s / ann_pca_topk
      // 8.6 s carried the fits under pool contention.
      if (warms("ann_pca_build", "ann_pca_topk", "ann_opq_build",
                "ann_opq_search")) {
        graft.ann.Pca.model(spark, sfDir, 16)
        graft.ann.Pca.model(spark, sfDir, 32)
      }
      if (warms("ann_opq_build", "ann_opq_search"))
        graft.ann.OpqIndex.getOrBuild(spark, sfDir)
      // role closures (A19/A20 metadata sidecars, session-cached)
      graft.rbac.Hierarchy.roleClosure(spark).count()
      graft.rbac.Hierarchy.dagClosure(spark).count()
      // graph-serving index state (B31-B37): the symmetrized kNN graph
      // + medoid entry points, full and base-prefix (B33) variants —
      // index builds; the WALK itself stays timed (it is the search).
      // The EXACT build is the quadratic step a 100×-dir subset run
      // must be able to skip (its at-scale replacement is the NND
      // build, warmed separately below).
      if (warms("ann_graph_topk", "rbac_graph_topk", "ann_graph_classify",
                "ann_graph_topk_model", "ann_graph_insert",
                "ann_graph_insert_links", "ann_graph_delete_topk",
                "ann_graph_upsert_topk")) {
        graft.ann.GraphSearch.servingGraph(spark, sfDir)
        val gcut = graft.ann.GraphSearch.insertCutoff(spark, sfDir)
        graft.ann.GraphSearch.servingGraph(spark, sfDir, baseMax = gcut)
        graft.ann.GraphSearch.cellMedoids(spark, sfDir, baseMax = gcut)
      }
      // the full-corpus medoid entry points are IVF-derived (cheap) and
      // seed BOTH the exact-graph and the NND walks
      graft.ann.GraphSearch.cellMedoids(spark, sfDir)
      // A21's per-dynamic-partition graph INDEX (built by the layout
      // job at scale); the walk stays timed like B31-B37's — it is
      // the search. The sweep key serves users 0-2: warm each routed
      // partition's index too.
      // the per-partition serve POLICY (r14) is index-build work by
      // the B38/B43 convention — its probes (and the descent builds
      // they may trigger above the exact ceiling) are warmed; the
      // policy-pick walk stays timed. Below the ceiling the policy is
      // pinned without probing, so this is a no-op at the oracle SFs.
      if (warms("rbac_partition_graph_topk", "rbac_partition_graph_policy_topk")) {
        graft.ann.GraphSearch.partitionServePolicy(spark, sfDir, 1)
        graft.ann.GraphSearch.partitionGraphIndex(spark, sfDir, 1)
      }
      if (warms("rbac_partition_graph_sweep"))
        graft.ann.GraphSearch.SweepUsers.foreach { u =>
          graft.ann.GraphSearch.partitionServePolicy(spark, sfDir, u)
          graft.ann.GraphSearch.partitionGraphIndex(spark, sfDir, u)
        }
      // B38's measured ef→recall fit (model fit = index-build-time
      // work, the B22 convention; the model-ef WALK stays timed).
      // r17: warm modelEf (the WHOLE fit), not just the default grid —
      // when no grid point meets the recall target, efFor keeps
      // doubling the beam with transient probe walks (the hnswlib
      // tuning loop), and at sf0.1 those probes (ef 128…) previously
      // ran inside whichever pool query touched modelEf first
      // (measured: 11.7 s pool row on the 5-key serving subset, vs
      // 0.18 s serial once fit). Same fit-vs-walk line as the warmed
      // PCA/OPQ/nndServePolicy fits; disclosed in OPTIMIZATION_r17.md.
      if (warms("ann_graph_topk_model"))
        graft.ann.GraphSearch.modelEf(spark, sfDir)
      // B39's NN-Descent serving graph (the approximate INDEX build —
      // the walk stays timed)
      if (warms("ann_graph_topk_nnd"))
        graft.ann.GraphSearch.nndServingGraph(spark, sfDir)
      // B43's measured (iters, ef) policy — model fit + the descent
      // build(s) it probes are index-build work (the B38 convention:
      // efRecallCurve is warmed the same way); the policy WALK stays
      // timed
      if (warms("ann_graph_topk_nnd_model"))
        graft.ann.GraphSearch.nndServePolicy(spark, sfDir)
      // the derived-cells IVF fit the NND builds partition on (r12:
      // cells ∝ √N means the scaled dirs fit a NEW k-means the k=16/
      // k=8 warm lines above don't cover — un-warmed it landed in the
      // pool as +100 s of contention charged to whichever NND key ran
      // first). The fit is index scaffolding by the same convention as
      // those lines; the descent BUILD itself stays timed (B17/B42
      // are build keys).
      if (warms("ann_knn_centrality_nnd", "ann_knn_graph_auto",
                "ann_knn_graph_nnd", "ann_graph_topk_nnd")) {
        val dc = graft.ann.Ann.descentCells(spark, sfDir)
        graft.ann.IvfIndex.withCells(spark, sfDir, dc).count()
      }
      // B40's repaired graph (index MAINTENANCE — hnswlib does this at
      // add time; the post-maintenance serving walk stays timed)
      if (warms("ann_graph_upsert_topk"))
        graft.ann.GraphSearch.repairedGraph(spark, sfDir)
      None
    } catch { case e: Throwable =>
      val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
      Some(s"${e.getClass.getName}: $msg")
    }
  }
}
