package graft.ann

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.functions.vector._

/** B28 `hybrid_rrf_topk`: hybrid dense-vector + lexical retrieval
  * fused with Reciprocal Rank Fusion (Cormack & Clarke, SIGIR'09) —
  * the standard two-retriever serving shape modern vector stores
  * document as "hybrid search" (pgvector's hybrid-query cookbook
  * pattern: a `<=>`-ordered LIMIT list full-outer-joined to a lexical
  * rank list, fused by Σ 1/(k0 + rank)).
  *
  * Query = "more docs like doc 0": the dense side ranks by exact
  * cosine to doc 0's embedding (vec_id and doc_id share the id
  * domain); the lexical side is more-like-this TF-IDF — doc 0's
  * distinct words scored against every other document with D7's
  * weight formula (round(tf · ln(N/df), 4), summed then re-rounded).
  *
  * Scale shape: each retriever produces a BOUNDED top-C candidate
  * list via TakeOrderedAndProject (per-partition heap — no global
  * sort touches the corpus); the rank windows then run over C-row
  * frames (constant-sized by construction, not corpus-sized) and the
  * fusion join is C×C. The lexical side semi-joins the posting scan
  * to the broadcast query-term dictionary before any aggregation, so
  * df/tf work is proportional to the query's postings, not the
  * vocabulary. RRF needs no score calibration between retrievers —
  * exactly why it is the fusion of choice when the two score
  * distributions (cosine vs TF-IDF) are incomparable.
  *
  * Determinism: sims rounded to 4dp (the C5 convention DuckDB
  * bit-replays); the lexical score uses the D15 integer recipe —
  * each term weight quantized once to integer ten-thousandths, per-
  * doc sums on BIGINT (order-independent, no FP summation-order
  * hazard); every rank tie-broken by doc_id; fusion score rounded to
  * 6dp — fully oracle-checked.
  */
object Hybrid {

  def hybridRrfTopK(spark: SparkSession, dir: String, k: Int = 10,
                    c: Int = 100, rrfK: Int = 60): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // dense retriever: exact cosine top-C, then ranks over the C rows
    val vecRanked = Ann.withQuery(emb.filter(col("vec_id") =!= 0), spark, dir, 0)
      .select(col("vec_id").as("doc_id"),
        round(cosine_sim(col("embedding"), col("qvec")), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(c)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("sim").desc, col("doc_id"))).cast("bigint"))

    // lexical retriever: doc 0's distinct words as the query bag
    val docs = Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // query bag from doc 0's ROW, not from the exploded corpus stream:
    // filtering before the explode pushes doc_id = 0 into the parquet
    // scan (PushedFilters), so the branch tokenizes one document
    // instead of re-tokenizing the corpus (guide §6: filters on derived
    // columns do not push down)
    val qterms = docs.filter(col("doc_id") === 0)
      .select(explode(split(col("text"), " ")).as("term")).distinct()
    // postings restricted to query terms BEFORE tf/df aggregation
    val qpostings = terms.join(broadcast(qterms), "term")
    val tf = qpostings.filter(col("doc_id") =!= 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = qpostings.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val textRanked = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("w6", round(col("tf") * log(col("n_docs").cast("double") / col("df"))
        * 10000, 0).cast("bigint"))
      .groupBy("doc_id").agg(sum("w6").as("mlt"))
      .orderBy(col("mlt").desc, col("doc_id"))
      .limit(c)
      .withColumn("text_rank", row_number().over(
        Window.orderBy(col("mlt").desc, col("doc_id"))).cast("bigint"))

    // RRF fusion: a doc absent from one list simply contributes
    // nothing for it (the standard bounded-list RRF semantics)
    vecRanked.select("doc_id", "vec_rank")
      .join(textRanked.select("doc_id", "text_rank"), Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("text_rank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "vec_rank", "text_rank", "rrf")
  }
}
