package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables

/** D19/D20: byte-pair-encoding tokenizer TRAINING and ENCODING — the
  * canonical LLM-pipeline operation the token-counting heuristic (D3)
  * stands in for. Reference scope: the reference counts tokens with a
  * pretrained tokenizer (basic_benchmark scripts tokenize result text);
  * training one from the corpus is the at-scale form of the same
  * surface (Sennrich et al. 2016; every HF `tokenizers` BPE trainer
  * implements this exact loop).
  *
  * Spark-native shape — the trick every real BPE trainer uses, made
  * distributed:
  *   - The corpus is collapsed ONCE to a (word, count) frequency table
  *     (one map-side-combined shuffle over slim word strings). All
  *     training iterations run over that aggregation-reduced frame —
  *     at 100 TB the corpus is billions of docs but the distinct-word
  *     table is ~10⁷-10⁸ rows, and it stays distributed (never
  *     collected; only the single argmax pair row comes to the driver
  *     per merge round).
  *   - Each round: adjacent symbol pairs explode into slim
  *     (left, right, count) rows → partial-agg'd sum → global top-1
  *     with a deterministic tie-break (count desc, then lexicographic),
  *     then the merge is applied with a builtin `aggregate`
  *     higher-order fold — a left-to-right greedy scan carrying
  *     (rebuilt array, just-merged flag) state, exactly the classic
  *     non-overlapping merge rule ("aaaa" + (a,a) → ["aa","aa"]). No
  *     UDF: the fold is a native Catalyst HigherOrderFunction over the
  *     word table only.
  *   - A per-round localCheckpoint of the word frame keeps plan depth
  *     constant across rounds (the GroupedKMeans iteration discipline,
  *     with a distributed — never driver-localized — frame).
  *   - ENCODING never re-runs merges over the corpus: after the final
  *     round the word table already holds every word's terminal symbol
  *     sequence, so corpus encode = explode words → join the trained
  *     dictionary (unhinted — aggregation-reduced but unbounded, AQE
  *     picks broadcast at small SF, shuffle at scale) → per-doc
  *     aggregate. Each distinct word is encoded once, not once per
  *     occurrence — the standard tokenizer word-cache, distributed.
  *
  * Both keys are fully oracle-checked (since r10): the merge loop
  * unrolls into `Merges` MATERIALIZED CTE round-groups in SparkEntry —
  * pair-explode → count → deterministic argmax per round, the greedy
  * non-overlapping merge as window functions — so DuckDB replays
  * train AND encode end to end. BpeSpec additionally proves the
  * trainer and encoder EXACTLY equal to an independent single-machine
  * reference implementation, plus reconstruction/monotonicity
  * invariants.
  */
object Bpe {

  /** End-of-word marker (classic BPE; guarantees no merge crosses a
    * word boundary and makes every symbol sequence reconstructible).
    */
  val EndMark = "</w>"

  /** Word tokenization shared by train and encode: lowercased
    * `[a-z0-9]+` runs — D3's "BPE-ish" segmentation, reused verbatim so
    * the two token-count surfaces are comparable.
    */
  def wordsOf(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** One learned merge: rank order, the pair, and its count at pick
    * time.
    */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Trained model: the ranked merge list (driver-held — bounded by
    * numMerges, the vocab-size knob) and the word table in its terminal
    * merged state (word, cnt, syms) — the encode dictionary.
    */
  final case class Model(merges: Seq[Merge], words: DataFrame)

  /** Greedy left-to-right application of one merge (a,b)→ab as a
    * builtin `aggregate` fold. State = (rebuilt array, last-was-merged
    * flag); a freshly merged token never re-participates as the LEFT
    * half of the same pair in this pass, matching the classic
    * non-overlapping rule.
    */
  private[graft] def applyMerge(syms: Column, a: String, b: String): Column = {
    val init = struct(
      typedLit(Seq.empty[String]).as("arr"), lit(false).as("m"))
    aggregate(
      syms,
      init,
      (st, x) => {
        val arr = st.getField("arr")
        val hit = !st.getField("m") && size(arr) > 0 &&
          element_at(arr, -1) === lit(a) && x === lit(b)
        struct(
          when(hit, concat(slice(arr, lit(1), size(arr) - 1), array(lit(a + b))))
            .otherwise(concat(arr, array(x))).as("arr"),
          hit.as("m"))
      },
      st => st.getField("arr"))
  }

  /** Adjacent symbol pairs of `syms` as (a, b) structs — slim shuffle
    * payload for the pair count.
    */
  private def adjacentPairs(syms: Column): Column =
    transform(
      slice(syms, lit(1), size(syms) - 1),
      (x, i) => struct(x.as("a"), element_at(syms, i + 2).as("b")))

  // session-scoped: the cached Model holds localCheckpoint blocks owned
  // by ONE SparkContext — serving them to a new session in the same JVM
  // would fail on dead block references
  private val modelCache = new graft.SessionCache[(Int, Long), Model]

  /** Driver-side merge-loop ceiling (r17, guide §5 / VERDICT r16 #3):
    * the trainer's per-round work is TWO scans of the (word, cnt,
    * syms) table plus one argmax collect — for `numMerges` rounds,
    * i.e. ~50 driver-bound job round-trips over a table that is a few
    * THOUSAND rows at the bench SFs (the corpus-sized work, the word
    * aggregation, already happened). Below this ceiling the table is
    * collected once and the identical greedy loop runs locally (ms,
    * zero jobs); above it — the 10⁷–10⁸-distinct-word regime of a
    * 100 TB corpus — the distributed loop runs unchanged. Both paths
    * compute bit-identical merges: same argmax tie-break ((count
    * desc, left asc, right asc) — pure-ASCII symbols, so Java string
    * order == UTF8 binary order) and same greedy non-overlapping
    * apply; BpeTrainDispatchSpec pins the two paths equal on the same
    * corpus.
    */
  val DriverVocabMax: Long = 131072L

  /** The greedy left-to-right non-overlapping application of one merge
    * — the driver twin of `applyMerge`'s Catalyst fold (same flag
    * semantics: a freshly merged token never re-participates as the
    * LEFT half of the same pair in this pass).
    */
  private[graft] def applyMergeLocal(syms: Array[String], a: String,
                                     b: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var justMerged = false
    for (x <- syms) {
      if (!justMerged && buf.nonEmpty && buf.last == a && x == b) {
        buf(buf.length - 1) = a + b
        justMerged = true
      } else {
        buf += x
        justMerged = false
      }
    }
    buf.toArray
  }

  /** The merge loop on the COLLECTED word table — same picks, same
    * applies, zero Spark jobs. Returns the merges and the terminal
    * symbol state.
    */
  private[graft] def trainLocal(table: Array[(String, Long, Array[String])],
                                numMerges: Int): (Seq[Merge], Array[(String, Long, Array[String])]) = {
    var words = table
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((_, cnt, syms) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(o => Some(o.getOrElse(0L) + cnt))
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += Merge(r, a, b, n)
        words = words.map { case (w, c, syms) =>
          (w, c, applyMergeLocal(syms, a, b))
        }
        r += 1
      }
    }
    (merges.result(), words)
  }

  /** Train a BPE vocabulary of `numMerges` merges over the corpus.
    * Deterministic: seedless — the argmax tie-break (count desc, left
    * asc, right asc) pins every pick.
    */
  def train(spark: SparkSession, dir: String, numMerges: Int = 24,
            driverMax: Long = DriverVocabMax): Model = {
    // `driverMax` rides in the key so the dispatch-equality spec can
    // force the distributed branch without poisoning the default
    // entry.
    modelCache.getOrElseUpdate(spark, dir, (numMerges, driverMax)) {
      // localCheckpoint (not bare persist) each round: the fold
      // expression is large, and 24 rounds of accreted lineage make
      // re-planning and plan stringification quadratic — checkpointing
      // pins the round's result as the new (still distributed) root,
      // the standard iterative-algorithm discipline
      var words = Tables.documents(spark, dir)
        .select(explode(wordsOf(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .withColumn("syms",
          concat(filter(split(col("word"), ""), x => x =!= ""),
            array(lit(EndMark))))
        .localCheckpoint()
      // r16 (guide §2.2): size the round frame's partitions from the
      // VOCABULARY, not the session's shuffle-partition constant — the
      // frame is scanned twice per merge round (pair argmax + merge
      // apply) for `numMerges` rounds, so a 32-partition frame of a
      // few thousand distinct words paid ~1,500 near-empty task
      // launches per trained model. The count is a cache scan (the
      // frame is just-checkpointed) and the partition count grows with
      // the vocabulary at scale.
      val nWords = words.count()
      // cost-based dispatch (r17): the merge loop's input is the
      // aggregation-reduced word table — when it fits comfortably on
      // the driver, 2·numMerges scan-jobs + numMerges argmax collects
      // become one collect + a local loop (measured: the two BPE keys'
      // pool rows were 15.2/15.7 s at 32 cores in r16 — all driver-
      // bound round latency). The distributed loop below is unchanged
      // for the at-scale regime.
      if (nWords <= driverMax) {
        val table = words.select("word", "cnt", "syms").collect().map(r =>
          (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray))
        words.unpersist()
        val (merges, terminal) = trainLocal(table, numMerges)
        import spark.implicits._
        val dict = terminal.toSeq.map { case (w, c, s) => (w, c, s.toSeq) }
          .toDF("word", "cnt", "syms")
        Model(merges, dict)
      } else {
      val vocabParts = math.max(1L, nWords / 65536L).toInt
      if (vocabParts < words.rdd.getNumPartitions) {
        val sized = words.coalesce(vocabParts).localCheckpoint()
        words.unpersist()
        words = sized
      }
      val merges = Seq.newBuilder[Merge]
      var r = 0
      var exhausted = false
      while (r < numMerges && !exhausted) {
        val top = words
          .select(col("cnt"), explode(adjacentPairs(col("syms"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("n"))
          .orderBy(desc("n"), col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += Merge(r, a, b, n)
          val next = words
            .withColumn("syms", applyMerge(col("syms"), a, b))
            .localCheckpoint()
          words.unpersist()
          words = next
          r += 1
        }
      }
      Model(merges.result(), words)
      }
    }
  }

  /** D19 `text_bpe_train`: the learned merge table — (rank, left,
    * right, pair_count), the exact observable a tokenizer trainer
    * emits. Rows-only; BpeSpec asserts it equal to the single-machine
    * reference trainer.
    */
  def trainReport(spark: SparkSession, dir: String, numMerges: Int = 24): DataFrame = {
    val m = train(spark, dir, numMerges)
    spark.createDataFrame(m.merges)
      .select(col("rank"), col("left"), col("right"), col("count").as("pair_count"))
      .orderBy("rank")
  }

  /** D20 `text_bpe_encode`: per-doc token accounting under the trained
    * vocab — explode words, join the trained dictionary (each distinct
    * word encoded once corpus-wide), aggregate back per doc. Every
    * corpus word is in-dictionary by construction (trained on the same
    * corpus); an OOV word in a serving pipeline falls back to its
    * character count + 1, the untrained-symbol floor.
    */
  def encodeReport(spark: SparkSession, dir: String, numMerges: Int = 24): DataFrame = {
    val m = train(spark, dir, numMerges)
    val dict = m.words.select(col("word"), size(col("syms")).as("word_tokens"))
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordsOf(col("text"))).as("word"))
      // left join + fallback: an OOV word (possible whenever the
      // encoded corpus is not the training corpus) costs its
      // character count + 1, the untrained-symbol floor — never a
      // silently dropped row
      .join(dict, Seq("word"), "left")
      .withColumn("word_tokens",
        coalesce(col("word_tokens"), length(col("word")) + 1))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum("word_tokens").as("n_tokens"))
    // a doc with no [a-z0-9] runs has no exploded rows — report it as
    // (0, 0) instead of dropping it
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("tokens_per_word",
        when(col("n_words") > 0,
          round(col("n_tokens").cast("double") / col("n_words"), 4)))
      .orderBy("doc_id")
  }
}
