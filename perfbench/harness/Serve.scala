package perfbench

import org.apache.spark.sql.functions.{broadcast, col, max}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.IvfIndex
import graft.functions.vector.l2_dist
import graft.rbac.{Partitioned, Rbac}
import graft.sources.Layouts

/** Permission-aware top-k serving: a closed loop of `clients` threads,
  * each cycling through every strategy with its own seeded users.
  *
  * Phases: `setup` touches every strategy once (the first touch builds
  * its layouts and indexes), `warm` runs the approximate strategies for
  * fixed check users (their recall is the run's recall), then `timed`
  * runs the closed loop for the measured window, traced in a traced
  * run, which then runs the layer probes. perfbench/run.py chooses each
  * client's setup and warm lists.
  */
object Serve {
  val K = 10

  /** (name, query) in cycle order; names are `<module>.<function>`. */
  def strategies(spark: SparkSession, dir: String): Seq[(String, Long => DataFrame)] = Seq(
    "rbac.prefilterTopK" -> (u => Rbac.prefilterTopK(spark, dir, u, K)),
    "rbac.postfilterTopK" -> (u => Rbac.postfilterTopK(spark, dir, u, K)),
    "rbac.rlsTopK" -> (u => Rbac.rlsTopK(spark, dir, u, K)),
    "rbac.rolePartitionTopK" -> (u => Partitioned.rolePartitionTopK(spark, dir, u, K)),
    "rbac.combPartitionTopK" -> (u => Partitioned.combPartitionTopK(spark, dir, u, K)),
    "rbac.dynamicPartitionTopK" -> (u => Partitioned.dynamicPartitionTopK(spark, dir, u, K)),
    "sources.prefilterPruned" -> (u => Layouts.prefilterPruned(spark, dir, u, K)),
    "ann.predicateAwareSearch" -> (u => IvfIndex.predicateAwareSearch(spark, dir, u, topk = K)))

  def run(spark: SparkSession, plan: Plan): Map[String, Any] = {
    val dir = plan("dir").str
    val clients = plan("clients").int
    val strats = strategies(spark, dir)
    val users = plan("users").items.map(_.items.map(_.long))
    var rec = new Recorder(spark, traced = false)
    val calls = Vector.newBuilder[(Int, Long, Call)]
    val phases = Map.newBuilder[String, Seq[Double]]

    def query(phase: String, c: Int, s: Int, u: Long): Unit = {
      val (name, f) = strats(s % strats.size)
      val call = rec.call(phase, name, () => f(u))
      calls.synchronized(calls += ((c, u, call)))
    }
    val index = strats.map(_._1).zipWithIndex.toMap
    def parallel(phase: String)(body: Int => Unit): Unit = {
      val t0 = rec.now()
      val ts = (0 until clients).map(c => new Thread(() => body(c)))
      ts.foreach(_.start())
      ts.foreach(_.join())
      phases += phase -> Seq(t0, rec.now())
    }
    // each client runs its own fixed list of {strategy, user} items
    def fixed(phase: String): Seq[String] = {
      val work = plan(phase).items.map(_.items)
      parallel(phase)(c => work(c).foreach(w =>
        query(phase, c, index(w("strategy").str), w("user").long)))
      work.flatten.map(_("strategy").str)
    }
    def window(phase: String): Unit = {
      val deadline = rec.now() + plan("seconds").int * 1000.0
      phases += s"$phase.deadline" -> Seq(deadline)
      parallel(phase) { c =>
        var i = 0
        while (rec.now() < deadline) {
          query(phase, c, c + i, users(c)(i % users(c).size))
          i += 1
        }
      }
    }

    val touched = fixed("setup").toSet
    require(touched == index.keySet, s"setup misses ${index.keySet -- touched}")
    fixed("warm")
    rec = new Recorder(spark, plan("trace").bool)
    window("timed")
    if (rec.traced)
      probes(spark, dir, plan, rec).foreach(call => calls += ((-1, 0L, call)))
    rec.finish() ++ Map(
      "calls" -> calls.result().map { case (c, u, call) =>
        // every strategy returns its block ids first
        call.toMap ++ Map("client" -> c, "user" -> u,
          "ids" -> (if (c < 0) Nil else call.rows.map(_.getLong(0)))) },
      "phases" -> phases.result())
  }

  /** Layer probes, run after the traced calls: the permission set alone
    * (`Rbac.accessibleDocs`) and the distance kernel over the whole corpus.
    */
  def probes(spark: SparkSession, dir: String, plan: Plan, rec: Recorder): Seq[Call] = {
    val acc = plan("probe_users").items.map(_.long).map(u =>
      rec.call("probe", "rbac.accessibleDocs", () => Rbac.accessibleDocs(spark, dir, u).count()))
    val scan = Seq.fill(5)(rec.call("probe", "functions.l2_dist", () =>
      Rbac.blocks(spark, dir).crossJoin(broadcast(Rbac.queryVector(spark, dir)))
        .agg(max(l2_dist(col("embedding"), col("qvec"))))))
    acc ++ scan
  }
}
