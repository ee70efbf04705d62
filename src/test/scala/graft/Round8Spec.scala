package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 hardening: session-cycling survival of the engine's frame
  * caches, single-build guarantees under racing first touch, persisted
  * block stability across repeated dedup invocations, and the lmScore
  * every-doc contract.
  */
class SessionCacheSpec extends AnyFunSuite {
  import SparkTest._

  test("SessionCache runs ONE build under racing first touch") {
    val c = new SessionCache[String, Int]
    val builds = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4)
    val latch = new CountDownLatch(1)
    val s = spark
    val fs = (1 to 4).map { _ =>
      pool.submit(new Callable[Int] {
        def call(): Int = {
          latch.await()
          c.getOrElseUpdate(s, sf, "k") { builds.incrementAndGet(); Thread.sleep(50); 42 }
        }
      })
    }
    latch.countDown()
    assert(fs.map(_.get()).toSet == Set(42))
    pool.shutdown()
    assert(builds.get() == 1, "racing callers must share ONE build")
  }

  test("racing first-touch PCA model is built once and shared") {
    // cold key: k = 3 is used by no other suite, so both threads hit
    // the build path together — the synchronized cache must serve one
    // model instance (an unsynchronized getOrElseUpdate would run the
    // moments scan + eigensolve once per caller)
    val s = spark
    val pool = Executors.newFixedThreadPool(2)
    val latch = new CountDownLatch(1)
    val fs = (1 to 2).map { _ =>
      pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = { latch.await(); graft.ann.Pca.model(s, sf, 3) }
      })
    }
    latch.countDown()
    val a = fs(0).get()
    val b = fs(1).get()
    pool.shutdown()
    assert(a eq b, "both racers must observe the same model instance")
  }
}

class SidecarPathSpec extends AnyFunSuite {
  test("oracle SQL reads sidecars only as registered files under the default root") {
    // every read_parquet of a sidecar in the oracle must point at the
    // root Verify writes (the one process allowed to own it), and must
    // name a file of the one table Verify writes from, so a
    // writer/oracle filename drift fails here instead of as a mystery
    // oracle value diff
    val refs = SparkEntry.oracleSql.values
      .flatMap(_.linesIterator.filter(_.contains("read_parquet"))).toSeq
    refs.foreach { l =>
      assert(l.contains(Sidecars.DefaultRoot), s"oracle sidecar path drifted: $l")
      assert(Sidecars.frames.keys.exists(n => l.contains(s"/$n/")),
        s"oracle reads an unregistered sidecar file: $l")
    }
    assert(refs.nonEmpty, "expected sidecar-replayed oracles to exist")
    // every registered sidecar is actually consumed — by some oracle,
    // or (the mm payload dumps) by the parity tool's independent
    // decoders, declared in ToolRead
    assert(Sidecars.ToolRead.keySet.subsetOf(Sidecars.frames.keySet),
      "ToolRead names an unregistered sidecar")
    (Sidecars.frames.keySet -- Sidecars.ToolRead.keySet).foreach { n =>
      assert(refs.exists(_.contains(s"/$n/")), s"sidecar $n registered but never read")
    }
  }

  test("every ToolRead key is a query key") {
    val keys = Sidecars.ToolRead.values.flatten.toSet
    assert(keys.nonEmpty)
    assert(keys.subsetOf(SparkEntry.queries.keySet),
      s"ToolRead names unknown keys: ${keys -- SparkEntry.queries.keySet}")
  }

  test("readBy names the files a key's oracle reads plus its ToolRead files") {
    def readBy(key: String) = Sidecars.readBy(key, SparkEntry.oracleSql.get(key))
    assert(readBy("ann_graph_topk_nnd") ==
      Seq("ivf_centroids_k16.parquet", "nnd_graph_k8.parquet"))
    assert(readBy("mm_audio_features") == Seq("media_payloads.parquet"))
    assert(readBy("q1_pricing_summary").isEmpty)
  }

  test("the one writer persists every registered sidecar as a non-empty table") {
    import SparkTest._
    val root = java.nio.file.Files.createTempDirectory("graft_sidecars").toString
    Sidecars.frames.keys.toSeq.sorted.foreach { n =>
      Sidecars.write(spark, sf, root, n)
      assert(spark.read.parquet(s"$root/$n").count() > 0, s"sidecar $n is empty")
    }
  }
}

class DedupPersistSpec extends AnyFunSuite {
  import SparkTest._

  test("repeated dedup invocations don't accrete persisted blocks") {
    val s = spark
    def persisted(): Int = s.sparkContext.getPersistentRDDs.size
    // thresholds no other suite uses → the builds are cold here even
    // when earlier suites warmed the default-threshold caches
    val base = persisted()
    graft.dedup.Dedup.ngramJaccard(s, sf, threshold = 0.81).count()
    // exactly ONE new persisted frame (the cached verified-pair set);
    // the build-local candidate-id frame must have been unpersisted
    val afterFirst = persisted()
    assert(afterFirst == base + 1,
      s"expected one persisted frame from the pair cache, got +${afterFirst - base}")
    graft.dedup.Dedup.ngramJaccard(s, sf, threshold = 0.81).count()
    assert(persisted() == afterFirst, "second invocation must reuse the cache")
    graft.dedup.Dedup.minhashLsh(s, sf, threshold = 0.79).count()
    val afterMinhash = persisted()
    assert(afterMinhash == afterFirst + 1,
      "minhash adds exactly its own cached pair frame")
    graft.dedup.Dedup.minhashLsh(s, sf, threshold = 0.79).count()
    assert(persisted() == afterMinhash, "repeat minhash must not persist more")
  }
}

class LmScoreContractSpec extends AnyFunSuite {
  import SparkTest._
  import graft.text.TextOps

  test("lmScore emits a row for EVERY doc; bigram-less docs get (0, null)") {
    val sparkRef = spark; import sparkRef.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lm").toString
    Seq(
      (1L, "a b a", "en", "s"),
      (2L, null.asInstanceOf[String], "en", "s"), // no words → no bigrams
      (3L, "a", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.lmScore(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "every doc reported, in order")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 3, "doc 1 has <s>+2 transition bigrams")
    assert(byId(2L).getLong(1) == 0 && byId(2L).isNullAt(2),
      "bigram-less doc scores (0, null), not silence")
    assert(byId(3L).getLong(1) == 1, "single word still has the BOS bigram")
    assert(!byId(1L).isNullAt(2) && byId(1L).getDouble(2) > 0, "real docs get a real nll")
  }
}

/** Stops the shared session and proves the engine serves correct
  * results from a FRESH session in the same JVM — the r6 ADVICE
  * session-cache hazard: a cache keyed by dir alone would serve a
  * frame bound to the stopped context and fail here.
  */
class SessionCycleSpec extends AnyFunSuite {
  import SparkTest._
  import graft.operators.Analytics

  test("q15/q11/SQL-surface/dedup/graph-walk caches survive session cycling") {
    val s1 = spark
    val app1 = s1.sparkContext.applicationId
    val q15a = Analytics.q15TopSupplier(s1, sf).collect().map(_.toString).toSeq
    val q11a = Analytics.q11ImportantStock(s1, sf).collect().map(_.toString).toSeq
    val sqlA = SqlSurface.prefilterTopKSql(s1, sf).collect().map(_.toString).toSeq
    val lshA = graft.dedup.Dedup.minhashLsh(s1, sf).collect().map(_.toString).toSeq
    // graph-serving state: three nested SessionFrameCaches (walk →
    // graph/medoids → IVF cell frames), all context-bound
    val gwA = graft.ann.GraphSearch.graphTopK(s1, sf).collect().map(_.toString).toSeq
    s1.stop()

    val s2 = spark // SparkTest self-heals: fresh session, fresh context
    assert(s2.sparkContext.applicationId != app1, "cycle must change the applicationId")
    assert(Analytics.q15TopSupplier(s2, sf).collect().map(_.toString).toSeq == q15a)
    assert(Analytics.q11ImportantStock(s2, sf).collect().map(_.toString).toSeq == q11a)
    assert(SqlSurface.prefilterTopKSql(s2, sf).collect().map(_.toString).toSeq == sqlA)
    assert(graft.dedup.Dedup.minhashLsh(s2, sf).collect().map(_.toString).toSeq == lshA)
    assert(graft.ann.GraphSearch.graphTopK(s2, sf).collect().map(_.toString).toSeq == gwA)
  }
}
