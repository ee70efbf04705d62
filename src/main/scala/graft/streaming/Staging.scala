package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** FileStreamSource monitors a DIRECTORY (new files appear → new
  * micro-batches); testdata ships single files, so each stream stages
  * its table into a stream-input dir (in production the ingest dir
  * exists anyway). ONE implementation for every stream:
  *   - one staging dir PER (source path, table file) — the sanitized
  *     path keeps dirs readable, the appended content-independent
  *     UUID-of-path makes the key injective (sanitization alone maps
  *     distinct paths like `sf_1` and `sf/1` to the same string);
  *   - the staged copy carries the SOURCE's mtime, and freshness
  *     requires size AND mtime to match exactly — a regenerated
  *     dataset is re-staged even when a restore backdated its
  *     timestamp; if the source is missing, an existing staged copy is
  *     served (a rebuild window must not crash stream creation);
  *   - copies go through a temp file OUTSIDE the watched dir + atomic
  *     move (a concurrently starting stream never sees a truncated
  *     file), with the temp removed on failure.
  */
private[streaming] object Staging {

  def stageFile(dir: String, fileName: String): String = {
    val src = Paths.get(dir, fileName)
    val abs = Paths.get(dir, fileName).toAbsolutePath.toString
    val key = abs.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(80) + "_" +
      java.util.UUID.nameUUIDFromBytes(abs.getBytes("UTF-8")).toString.take(8)
    val d = Paths.get(sys.props("java.io.tmpdir"), s"graft_stage_$key")
    val dst = d.resolve(fileName)
    if (!Files.exists(src)) {
      // source rebuild window: serve the staged copy if we have one
      if (Files.exists(dst)) return d.toString
      throw new java.io.FileNotFoundException(src.toString)
    }
    val srcStamp = graft.Tables.localStamp(src.toString)
    val fresh = Files.exists(dst) && graft.Tables.localStamp(dst.toString) == srcStamp
    if (!fresh) {
      Files.createDirectories(d)
      val tmp = Files.createTempFile(d.getParent, "graft_stage_tmp_", ".parquet")
      try {
        Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(tmp, FileTime.fromMillis(srcStamp(1)))
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
    }
    d.toString
  }
}
