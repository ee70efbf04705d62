package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.{Ann, GraphSearch, GroupedKMeans, Half, IvfIndex, Lsh, OpqIndex, Pca, PqIndex, QdTree}
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.text.TextOps

/** Oracle sidecar tables: build-side index state (fitted centroids,
  * codebooks, seeded constants, hash-derived graphs, measured policy
  * picks) persisted as parquet so the DuckDB oracle can replay
  * everything downstream of it in SQL.
  *
  * The oracle SQL interpolates one fixed root, `DefaultRoot`, so
  * exactly one process may write there: `graft.Verify`, whose outputs
  * the oracle checks. Verify writes, before each key it runs, the files
  * that key's oracle reads (and the `ToolRead` files of the mm keys),
  * each once per run. No query function writes a sidecar: tests,
  * Bench and every other main run the same functions without a disk
  * side effect, so a concurrent run at a different scale factor can no
  * longer overwrite the files between Verify and the oracle compare.
  */
object Sidecars {
  val DefaultRoot = "/tmp/graft_oracle_sidecars"

  /** Every sidecar file, with the frame persisted under it. A frame
    * takes exactly the parameters its key passes; where the file name
    * carries a parameter, the entry fixes it. SidecarPathSpec checks
    * that every oracle `read_parquet` names a key of this table, so a
    * writer/oracle filename drift fails fast instead of surfacing as
    * oracle value diffs.
    */
  val frames: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ivf_centroids_k16.parquet" -> ((s, d) => IvfIndex.centroidFrame(s, d, 16)),
    "ivf_centroids_k8.parquet" -> ((s, d) => IvfIndex.centroidFrame(s, d, 8)),
    "ivf_unit_centroids_k8.parquet" -> ((s, d) => IvfIndex.unitCentroidFrame(s, d, 8)),
    "role_centroids_k4.parquet" -> ((s, d) => GroupedKMeans.centroidFrame(s, d, 4, 5)),
    "pq_codebook.parquet" -> PqIndex.codebookFrame,
    "opq_components.parquet" -> OpqIndex.componentFrame,
    "opq_codebook.parquet" -> OpqIndex.codebookFrame,
    "pca_components_k32.parquet" -> ((s, d) => Pca.componentFrame(s, d, 32)),
    "qdtree_splits.parquet" -> QdTree.splitFrame,
    "graph_ef.parquet" -> GraphSearch.efFrame,
    // the xxhash64/seeded-constant family: the engine-specific
    // derivation (seeded hyperplanes, xxhash64 sketches, descent init)
    // persists and DuckDB replays everything DOWNSTREAM of it in SQL
    "lsh_hyperplanes.parquet" -> ((s, _) => Lsh.hyperplaneFrame(s)),
    "simhash_sigs.parquet" -> Dedup.simhashSigs,
    "hash_buckets.parquet" -> ((s, d) => TextOps.hashBuckets(s, d, 16)),
    // the canonical descent graphs: iters 2, derived cells, rho 0.5
    // (k=5 feeds B41's centrality, k=8 the B39 serving walk)
    "nnd_graph_k5.parquet" -> ((s, d) => Ann.knnGraphDescent(s, d, 5)),
    "nnd_graph_k8.parquet" -> ((s, d) => Ann.knnGraphDescent(s, d, 8)),
    // B43's policy replay pair: the descent graph at the POLICY-picked
    // iters plus the one-row (iters, ef) parameter table
    "nnd_graph_model.parquet" -> GraphSearch.nndServeGraph,
    "nnd_serve.parquet" -> GraphSearch.nndServeFrame,
    // A22's policy replay pair at user 1, alpha 2.0
    "dynpart_graph.parquet" -> ((s, d) => GraphSearch.partitionServeGraph(s, d, 1, 2.0)),
    "dynpart_serve.parquet" -> ((s, d) => GraphSearch.partitionServeFrame(s, d, 1, 2.0)),
    // the media tables' exact payload bytes, re-decoded by the parity
    // tool's independent parsers (stdlib wave, a hand PGM reader, a
    // zlib PNG un-filterer, a from-spec JPEG SOF header parser)
    "media_payloads.parquet" -> ((s, d) => Multimodal.mediaTable(s, d).toDF()),
    "media_png.parquet" -> ((s, d) => Multimodal.pngTable(s, d).toDF()),
    "media_jpeg.parquet" -> ((s, d) => Multimodal.jpegTable(s, d).toDF()),
    "half_vecs.parquet" -> Half.halfVecs)

  /** Sidecars read by the PARITY TOOL (tools/check_parity.py) rather
    * than by oracle SQL, each with the mm keys whose outputs the tool
    * diffs against its independent decode of the file.
    */
  val ToolRead: Map[String, Set[String]] = Map(
    "media_payloads.parquet" -> Set("mm_binary_features", "mm_audio_features",
      "mm_frame_sample", "mm_resize_plan"),
    "media_png.parquet" -> Set("mm_png_features"),
    "media_jpeg.parquet" -> Set("mm_jpeg_features"))

  private val oracleRead =
    ("""read_parquet\('""" + java.util.regex.Pattern.quote(DefaultRoot) + """/([^/']+)/""").r

  /** The registered files query `key` reads: those its oracle SQL
    * names in `read_parquet`, plus its `ToolRead` files.
    */
  def readBy(key: String, oracleSql: Option[String]): Seq[String] =
    (oracleSql.toSeq.flatMap(oracleRead.findAllMatchIn(_).map(_.group(1))) ++
      ToolRead.collect { case (f, keys) if keys(key) => f }).distinct.sorted

  /** Remove every registered sidecar file under `root`. */
  def clear(root: String): Unit =
    frames.keys.foreach(n => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root, n)))

  /** The one writer: sidecar `name` of dataset `dir`, as one parquet
    * file under `root/name`.
    */
  def write(spark: SparkSession, dir: String, root: String, name: String): Unit = {
    require(frames.contains(name), s"unregistered sidecar name: $name")
    frames(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
  }
}
