package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.hashes._

/** Text-analysis operators over `documents` (SURVEY.md §2.D): language
  * ID, quality scoring, token counting, fingerprinting, n-gram stats.
  * All are single-scan, codegen-friendly column pipelines (no UDFs) —
  * per-row cost is what matters at 100 TB, and every one of these stays
  * inside WholeStageCodegen.
  */
object TextOps {

  private def ws(c: Column): Column = split(c, " ")

  /** D1: marker-word language heuristic, reported as a confusion matrix
    * against the `lang` column (labeled_lang, guess, n).
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(lit(" "), col("text"), lit(" "))
    val guess =
      when(t.contains(" the "), "en")
        .when(t.contains(" der ") || t.contains(" die "), "de")
        .when(t.contains(" le ") || t.contains(" les "), "fr")
        .when(t.contains(" el ") || t.contains(" los "), "es")
        .otherwise("und")
    Tables.documents(spark, dir)
      .select(col("lang"), guess.as("guess"))
      .groupBy("lang", "guess")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }

  /** D2: per-doc quality features + composite score. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val w = ws(col("text"))
    val stop = filter(w, x => x.isin("the", "a"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars_m"),
        size(w).cast("bigint").as("n_words"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") / size(w), 4)
          .as("avg_word_len"),
        round(size(stop).cast("double") / size(w), 4).as("stopword_ratio"))
      .withColumn("quality_score",
        round(log(col("n_words").cast("double") + 1) * (lit(1.0) - col("stopword_ratio")), 4))
      .orderBy("doc_id")
  }

  /** D3: token counts — whitespace words vs a BPE-ish `[a-z]+|[0-9]+`
    * alpha/numeric segmentation.
    */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(ws(col("text"))).cast("bigint").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .cast("bigint").as("re_tokens"))
      .orderBy("doc_id")

  /** D4: rolling-hash document fingerprint (custom codegen'd Catalyst
    * expression `rolling_hash`; the oracle replays the identical
    * recurrence with DuckDB list_reduce).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), rolling_hash(col("text")).as("fp"))
      .orderBy("doc_id")

  /** D7: TF-IDF top terms per document — the classic two-aggregate
    * text pipeline (term frequency × inverse document frequency), exact
    * and oracle-checked. Rank is computed on the ROUNDED weight in both
    * engines so tie-breaks agree bit-for-bit.
    */
  def tfidf(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
    val terms = docs.select(col("doc_id"), explode(ws(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency FROM tf, not from the raw term stream: tf
    // already holds one row per (doc, term), so per-term row counts ARE
    // countDistinct(doc_id) — the corpus is tokenized/exploded once and
    // the shared tf exchange is reused for both branches (guide §2.3:
    // aggregate before you shuffle; the raw-stream countDistinct
    // re-tokenized every document and shuffled the full occurrence
    // stream a second time)
    val df = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weighted = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("weight",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    weighted
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("weight").desc, col("term"))).cast("bigint"))
      .filter(col("rnk") <= topN)
      .select("doc_id", "rnk", "term", "weight")
      .orderBy("doc_id", "rnk")
  }

  /** Oracle sidecar frame: the corpus's token → bucket dictionary. */
  def hashBuckets(spark: SparkSession, dir: String, dims: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(ws(col("text"))).as("token")).distinct()
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(dims)).cast("int"))

  /** D6: hashed bag-of-words embedding (services/embedding_service.py
    * stand-in — that uses spacy vectors, unavailable here; the hashing
    * trick is the standard scalable featurizer). Output long form:
    * (doc_id, bucket, weight) with weight = bucket term count / doc
    * token count. Oracle-checked since r11 via the token→bucket
    * dictionary sidecar (`hashBuckets`): xxhash64 lives ONLY in the
    * dictionary derivation, so given (token, bucket) rows DuckDB
    * replays the featurize — tokenize, dictionary join, per-doc bucket
    * counts, the weight quotient — exactly.
    */
  def hashEmbedding(spark: SparkSession, dir: String, dims: Int = 16): DataFrame = {
    val w = ws(col("text"))
    Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"), size(w).cast("double").as("n_tokens"),
        explode(w).as("token"))
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(dims)).cast("int"))
      .groupBy("doc_id", "n_tokens", "bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("doc_id"), col("bucket"),
        round(col("n") / col("n_tokens"), 4).as("weight"))
      .orderBy("doc_id", "bucket")
  }

  /** D8: sequence packing — the training-data step that assembles docs
    * into fixed token-budget context windows (concat-and-chunk packing:
    * docs concatenated in doc_id order, chopped every `budget` tokens;
    * a doc's window is where its first token lands).
    *
    * The running token sum is a DISTRIBUTED prefix sum, not a global
    * Window: a partition-less `Window.orderBy` would funnel the whole
    * corpus through one task. Instead: range-bucket by doc_id, local
    * running sums per bucket (bounded window state), bucket base
    * offsets from the tiny per-bucket totals. The result is
    * bucket-count-independent, so the DuckDB oracle replays it with a
    * plain running sum.
    */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(ws(col("text"))).cast("bigint").as("n_tokens"))
    val nb = spark.sparkContext.defaultParallelism
    val bucketed = docs.repartitionByRange(nb, col("doc_id"))
      .withColumn("bucket", spark_partition_id())
    val local = bucketed.withColumn("local_cum",
      sum("n_tokens").over(Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bases = bucketed.groupBy("bucket").agg(sum("n_tokens").as("tot"))
      .withColumn("base", coalesce(sum("tot").over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))) // ≤ nb rows
      .select("bucket", "base")
    local.join(broadcast(bases), "bucket")
      .withColumn("tok_start", col("base") + col("local_cum") - col("n_tokens"))
      .withColumn("window_id", floor(col("tok_start") / budget).cast("bigint"))
      .withColumn("tok_offset", col("tok_start") % budget)
      .select("doc_id", "n_tokens", "window_id", "tok_offset")
      .orderBy("doc_id")
  }

  /** D9: deterministic train/validation split — the assignment step
    * every training pipeline runs before packing. Multiplicative-hash
    * of the DOC ID (Knuth's 2654435761), not of position or a random
    * draw: a doc's split never changes when the corpus grows, reshards,
    * or re-orders — the property that keeps eval sets stable across
    * dataset versions. Computed in overflow-free modular form:
    * (id·C) mod 100 depends only on (id mod 100), so reducing BOTH
    * factors first gives the identical assignment for every id while
    * never exceeding 99·61 — a raw 64-bit multiply would silently wrap
    * (or, under ANSI mode / the DuckDB oracle, raise) once doc_id
    * passes ~3.5e9, i.e. exactly at corpus scale. The arithmetic is
    * plain BIGINT ops, so the oracle replays it exactly (a production
    * system would use a seeded 64-bit hash; the constant form is
    * chosen for cross-engine replayability and has the same stability
    * property).
    */
  def trainSplit(spark: SparkSession, dir: String, trainPct: Int = 90): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(pmod(pmod(col("doc_id"), lit(100)) * lit(2654435761L % 100), lit(100)) < trainPct,
          "train").otherwise("val").as("split"))
      .orderBy("doc_id")

  /** D10: Gopher-style repetition quality signals (Rae et al. 2021
    * §A1.1) — top-word / top-bigram mass and duplicate-trigram
    * fraction per document, one kernel pass per row
    * (functions.RepetitionStats), zero shuffle. The standard
    * "repetitious text" filter every pretraining pipeline applies
    * before tokenization; thresholding is the caller's policy (the
    * fractions are the operator).
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.repetition.repetition_stats
    Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"), repetition_stats(col("text")).as("r"))
      .select(col("doc_id"),
        element_at(col("r"), 1).cast("bigint").as("n_words"),
        round(element_at(col("r"), 2), 4).as("top_word_frac"),
        round(element_at(col("r"), 3), 4).as("top_bigram_frac"),
        round(element_at(col("r"), 4), 4).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** D13: document chunking — the step that PRODUCES the reference's
    * `documentblocks` rows (initialize_main_tables.py's block_content;
    * every RAG/embedding ingest runs it): fixed word-window chunks
    * with overlap, deterministic chunk ids and token offsets. Pure
    * per-row explode — no shuffle, composes with `hashEmbedding` /
    * the IVF build downstream exactly like the reference's
    * chunk→embed→index pipeline. `chunk` words per window, stride
    * `chunk − overlap`; the final window clips at the doc end. NULL
    * text is treated as empty (coalesce on BOTH engines — concat_ws
    * never returns NULL, so the oracle must not either). The chunk
    * computation is per-row; the two exchanges in the plan are
    * incidental: a round-robin repartition for parallelism over the
    * one-row-group test files, and the deterministic output sort.
    */
  def chunkDocuments(spark: SparkSession, dir: String, chunk: Int = 64,
                     overlap: Int = 16): DataFrame = {
    val stride = chunk - overlap
    Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"), ws(coalesce(col("text"), lit(""))).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
          lit(stride))).as("tok_start"))
      .select(col("doc_id"),
        expr(s"tok_start div $stride").cast("bigint").as("chunk_id"),
        col("tok_start").cast("bigint").as("tok_start"),
        concat_ws(" ", slice(col("w"), col("tok_start") + 1, lit(chunk)))
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The PII preset patterns every scrub pass starts from. Written in
    * the common regex subset (character classes, bounded repetition,
    * word boundaries, non-capturing groups) that Java's engine and the
    * oracle's RE2 interpret identically.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",
    "phone" -> "\\+?\\d[\\d -]{7,}\\d")

  /** D14: pattern scrub — the redaction pass every training pipeline
    * runs before text leaves the trust boundary (PII, secrets, markup).
    * Per document: one match count per pattern plus the post-scrub
    * character length. The REPLACEMENT chain applies the patterns IN
    * ORDER (order is part of the contract — a later pattern scrubs
    * the earlier patterns' output, and the oracle replays the same
    * chain); the per-pattern COUNTS all read the ORIGINAL text (they
    * report what each pattern found in the input, not in the
    * partially-scrubbed intermediate — ScrubSpec pins both halves).
    *
    * Pure per-row column pipeline: regexp_extract_all / regexp_replace
    * are codegen'd builtins, so the whole operator is one scan with no
    * shuffle — per-row regex cost is the only cost, exactly what you
    * want at 100 TB. Counts and scrub share the single text read.
    */
  def patternScrub(docs: DataFrame, patterns: Seq[(String, String)],
                   token: String = "[X]"): DataFrame = {
    val counts = patterns.map { case (nm, re) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
        .cast("bigint").as(s"n_$nm")
    }
    val scrubbed = patterns.foldLeft(col("text")) { case (c, (_, re)) =>
      regexp_replace(c, re, token)
    }
    docs.select(
      (col("doc_id") +: counts :+
        length(scrubbed).cast("bigint").as("scrubbed_n_chars")): _*)
      .orderBy("doc_id")
  }

  /** The `text_scrub` query: the email PII preset plus a corpus-live
    * marker pattern (the synthetic corpus carries no PII strings, so
    * the preset column exercises the zero-match path while the marker
    * pattern exercises real match/replace arithmetic; ScrubSpec plants
    * genuine emails/IPs/phones and asserts the full preset list).
    */
  def textScrub(spark: SparkSession, dir: String): DataFrame =
    patternScrub(Tables.documents(spark, dir),
      Seq("marker" -> "\\b(?:value|customer)\\b", "email" -> piiPatterns.head._2))

  /** D5: corpus-level top word-bigrams (explode → one shuffle with
    * map-side partial aggregation — the canonical n-gram count shape).
    */
  def ngramStats(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(explode(graft.dedup.Dedup.wordShingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topN)
  }

  /** D21 `text_lm_score`: bigram language-model quality scoring — the
    * CCNet/RefinedWeb perplexity gate (Wenzek et al. 2019 score with a
    * KenLM model; here the LM is trained ON the corpus in the same
    * job): add-1-smoothed bigram probabilities with a BOS context,
    * per-doc mean negative log-likelihood. High nll = improbable text
    * under the corpus LM — the standard junk/outlier signal between
    * the surface heuristics (D2/D10) and model-based scoring.
    *
    * Exactness contract (the D15 recipe): each VOCAB-dimension log
    * probability is quantized once to integer micro-nats, per-doc sums
    * run on BIGINT (order-independent), one divide in the report —
    * so the DuckDB oracle replays bit-for-bit. Plan shape: one corpus
    * explode → vocab-sized bigram/context aggregates, a 1-row
    * vocab-size broadcast, unhinted vocab attaches (AQE), one per-doc
    * aggregate.
    */
  /** D22 `text_compression_ratio`: per-doc DEFLATE compression ratio —
    * the Dolma/RedPajama gzip-ratio junk signal (templated or
    * machine-looped text compresses far below natural prose; very high
    * ratios flag near-random noise). One codegen'd kernel pass, zero
    * shuffle (the only exchange is the output sort). Rows-only (DuckDB
    * has no deflate); the spec re-runs the identical Deflater on the
    * driver for exact equality.
    *
    * The denominator is the UTF-8 BYTE length — the same octets the
    * Deflater consumes — so the ratio is encoding-invariant (a char
    * denominator would inflate CJK prose ~3× and misfire the
    * high-ratio=noise rule). Empty documents get a null ratio (under
    * ANSI mode the unguarded divide would fail the whole job).
    */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("bigint").as("n_bytes"),
        graft.functions.compression.deflate_size(col("text")).as("deflate_bytes"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          round(col("deflate_bytes").cast("double") / col("n_bytes"), 4)))
      .orderBy("doc_id")

  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .transform(graft.Tables.spread(spark, _))
      .select(col("doc_id"), ws(col("text")).as("words"))
      .select(col("doc_id"), explode(expr(
        "transform(words, (w, i) -> named_struct(" +
          "'w1', IF(i = 0, '<s>', element_at(words, i)), 'w2', w))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val uc = bc.groupBy("w1").agg(sum("cb").as("cu"))
    val v = bi.agg(countDistinct("w2").as("v"))
    val mn = bc.join(uc, "w1").join(broadcast(v))
      .select(col("w1"), col("w2"),
        round(log((col("cb") + 1).cast("double") /
          (col("cu") + col("v")).cast("double")) * 1e6, 0).cast("bigint").as("lp6"))
    val scored = bi.join(mn, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp6").as("s6"))
    // every-doc contract (same as compressionRatio/encodeReport): a doc
    // with no bigrams still gets a row — (doc_id, 0, null) — so the
    // report never silently drops documents
    Tables.documents(spark, dir).select("doc_id")
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-col("s6").cast("double") / 1e6 / col("n_bigrams"), 4).as("nll"))
      .orderBy("doc_id")
  }
}
