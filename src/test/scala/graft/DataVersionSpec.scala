package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{GraphSearch, IvfIndex, PqIndex, QdTree}
import graft.rbac.{Partitioned, Rbac}
import graft.sources.Layouts

/** One data version keys every derived store: after `documents`,
  * `customer` and `embeddings` are rewritten in place, a session that
  * already served from the old files answers exactly as it does on a
  * dataset dir it never touched, and a version bump leaves no
  * superseded persisted frame behind.
  */
class DataVersionSpec extends AnyFunSuite {
  import SparkTest._

  /** A copy of the sf0.001 dataset in a new temp dir. */
  private def copyOf(): String = {
    val d = Files.createTempDirectory("data_version")
    Tables.names.foreach(n => Files.copy(Paths.get(sf, s"$n.parquet"), d.resolve(s"$n.parquet")))
    d.toString
  }

  /** The rewritten tables as single parquet files: the first 100 docs,
    * the customers whose key is not a multiple of 4 (user 4 loses its
    * roles), and every vector moved to the mirrored vec_id.
    */
  private lazy val rewritten: Map[String, Path] = {
    val sp = spark
    val out = Files.createTempDirectory("data_version_new")
    val emb = Tables.embeddings(sp, sf)
    val n = emb.count()
    val mirrored = emb.drop("embedding").join(
      Tables.embeddings(sp, sf).select((lit(n - 1) - col("vec_id")).as("vec_id"), col("embedding")),
      "vec_id").select(emb.columns.map(col): _*)
    Seq(
      "documents" -> Tables.documents(sp, sf).orderBy("doc_id").limit(100),
      "customer" -> Tables.customer(sp, sf).filter(col("c_custkey") % 4 =!= 0),
      "embeddings" -> mirrored
    ).map { case (name, df) =>
      val d = out.resolve(name)
      df.coalesce(1).write.parquet(d.toString)
      name -> Files.list(d).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    }.toMap
  }

  /** Replace `name` in `dir` in place, with an explicit new mtime (the
    * stamp has millisecond granularity).
    */
  private def replace(dir: String, name: String, from: Path, bump: Int): Unit = {
    val target = Paths.get(dir, s"$name.parquet")
    val mtime = Files.getLastModifiedTime(target).toMillis
    Files.copy(from, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, FileTime.fromMillis(mtime + 60000L * bump))
  }

  private def rewrite(dir: String): Unit =
    rewritten.foreach { case (name, file) => replace(dir, name, file, 1) }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every answer under test, by name: users 1 and 4 on each grant path. */
  private def answers(sp: SparkSession, dir: String): Map[String, Seq[String]] = {
    val perUser = Seq(1L, 4L).flatMap { u =>
      Seq(
        s"accessibleDocs($u)" -> rows(Rbac.accessibleDocs(sp, dir, u)),
        s"prefilterTopK($u)" -> rows(Rbac.prefilterTopK(sp, dir, u, 10)),
        s"prefilterTopK($u) broadcast" ->
          Rbac.withBroadcastGrants(rows(Rbac.prefilterTopK(sp, dir, u, 10))),
        s"dynamicPartitionTopK($u)" -> rows(Partitioned.dynamicPartitionTopK(sp, dir, u, 10)),
        s"prefilterPruned($u)" -> rows(Layouts.prefilterPruned(sp, dir, u, 10)),
        s"rolePartitionTopK($u)" -> rows(Partitioned.rolePartitionTopK(sp, dir, u, 10)),
        s"combPartitionTopK($u)" -> rows(Partitioned.combPartitionTopK(sp, dir, u, 10)),
        s"predicateAwareSearch($u)" -> rows(IvfIndex.predicateAwareSearch(sp, dir, u)))
    }
    (perUser ++ Seq(
      "IvfIndex.search" -> rows(IvfIndex.search(sp, dir)),
      // the cell layout (withCells) and what is projected from it
      "IvfIndex.buildReport" -> rows(IvfIndex.buildReport(sp, dir)),
      "IvfIndex.qdTreeAssign" -> rows(IvfIndex.qdTreeAssign(sp, dir)),
      "PqIndex.ivfAdcSearch(1)" -> rows(PqIndex.ivfAdcSearch(sp, dir, userId = Some(1L))),
      "QdTree.leafReport" -> rows(QdTree.leafReport(sp, dir)),
      "GraphSearch.graphTopK" -> rows(GraphSearch.graphTopK(sp, dir)))).toMap
  }

  test("an in-place rewrite is served as a dataset the session never touched") {
    val sp = spark
    val dir = copyOf()
    val old = answers(sp, dir) // every store built at the old version
    rewrite(dir)
    val after = answers(sp, dir)
    val untouched = copyOf()
    rewrite(untouched)
    val fresh = answers(sp, untouched)
    val unchanged = fresh.keys.filter(n => old(n) == fresh(n)).toSeq.sorted
    assert(unchanged.isEmpty, s"answers the rewrite does not change: $unchanged")
    val stale = fresh.keys.filter(n => after(n) != fresh(n)).toSeq.sorted
    assert(stale.isEmpty, s"answers stale after the rewrite: $stale")
  }

  test("three version bumps leave no more persisted RDDs than the first") {
    val sp = spark
    val dir = copyOf()
    answers(sp, dir)
    def bumped(i: Int): Int = {
      replace(dir, "documents", Paths.get(sf, "documents.parquet"), i)
      answers(sp, dir)
      sp.sparkContext.getPersistentRDDs.size
    }
    val first = bumped(1)
    val later = (2 to 3).map(bumped)
    assert(later.forall(_ <= first), s"persisted RDDs after each bump: ${first +: later}")
    // the materialized layouts: one directory per layout prefix, the
    // current version's, under the dataset's tmp root
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_layouts_${System.getProperty("user.name", "nouser")}")
    val dirId = Integer.toHexString(Paths.get(dir).toAbsolutePath.normalize.toString.hashCode)
    val ours = Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains(s"_${Paths.get(dir).getFileName}_${dirId}_")).toSeq
    val perPrefix = ours.groupBy(n => n.substring(0, n.lastIndexOf('_')))
    assert(perPrefix.keySet.size == 2, s"layout directories of the dataset: $ours")
    assert(perPrefix.values.forall(_.size == 1), s"superseded layout directories remain: $ours")
  }
}
