package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pure-SQL façade: the reference's users talk to pgvector in SQL, so
  * the same queries must be expressible through `spark.sql` with the
  * engine's registered functions (GraftExtensions) — no DataFrame code.
  *
  * Views are registered once per (session, sfDir); the SQL texts mirror
  * the reference's queries (common_function.py:134 prefilter et al.)
  * with `l2_dist(...)` standing in for `vector <-> %s`.
  */
object SqlSurface {

  // keyed by the SparkSession ITSELF as well as its application: temp
  // views and function registrations live in one SESSION, and sibling
  // sessions from newSession() share an applicationId but not a view
  // catalog.
  private val registered = new SessionCache[SparkSession, Unit]

  /** Register testdata tables as temp views + the function surface,
    * plus the grant tables under the reference's names (`user_roles`,
    * `permission_assignment`) — `Rbac`'s frames, not a SQL re-derivation.
    */
  def init(spark: SparkSession, dir: String): Unit =
    registered.getOrElseUpdate(spark, dir, spark) {
      GraftExtensions.install(spark)
      Tables.names.foreach { t =>
        // events needs the nanos-aware reader (Tables.events), not a raw scan
        val df = if (t == "events") Tables.events(spark, dir) else Tables.table(spark, dir, t)
        df.createOrReplaceTempView(t)
      }
      rbac.Rbac.userRoles(spark, dir).createOrReplaceTempView("user_roles")
      rbac.Rbac.permissions(spark, dir).createOrReplaceTempView("permission_assignment")
    }

  /** SQL spelling of the prefilter top-k (same result as
    * Rbac.prefilterTopK — the DataFrame and SQL paths share the oracle):
    * the accessible docs are common_function.py's prefilter join of
    * PermissionAssignment and UserRoles.
    */
  def prefilterTopKSql(spark: SparkSession, dir: String): DataFrame = {
    init(spark, dir)
    spark.sql(
      """WITH acc AS (
        |  SELECT DISTINCT pa.document_id FROM permission_assignment pa
        |  JOIN user_roles ur ON pa.role_id = ur.role_id
        |  WHERE ur.user_id = 1
        |),
        |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS block_id, e.vec_id AS document_id
        |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
        |ORDER BY l2_dist(e.embedding, q.qvec), e.vec_id
        |LIMIT 10""".stripMargin)
  }

  /** SQL spelling of the strictly-ordered funnel (same rows as
    * Analytics.eventsFunnel — the DataFrame and SQL paths share the
    * E39 oracle): product analytics is the surface users most often
    * reach through raw SQL.
    */
  def funnelSql(spark: SparkSession, dir: String): DataFrame = {
    init(spark, dir)
    spark.sql(
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT s1.user_id,
        |       CAST(1 + CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END
        |              + CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS funnel_stage
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin)
  }

  /** SQL spelling of grouped ANN top-k via the registered bounded-heap
    * aggregate.
    */
  def batchTopKSql(spark: SparkSession, dir: String): DataFrame = {
    init(spark, dir)
    spark.sql(
      """WITH qs AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8
        |)
        |SELECT query_id, explode(ids) AS block_id FROM (
        |  SELECT qs.query_id, topk10_ids(l2_dist(e.embedding, qs.qvec), e.vec_id) AS ids
        |  FROM embeddings e JOIN qs ON e.vec_id <> qs.query_id
        |  GROUP BY qs.query_id
        |)
        |ORDER BY query_id, block_id""".stripMargin)
  }
}
