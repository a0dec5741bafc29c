package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's own scratch roots. */
object Fs {
  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
  }

  /** Moves the one part file a `coalesce(1)` write left under `tmp` to
    * `target`, deletes `tmp`, and returns the file's size. */
  def single(tmp: String, target: String): Long = {
    val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
    val t = Paths.get(target)
    Files.createDirectories(t.getParent)
    Files.move(part.toPath, t)
    deleteTree(tmp)
    Files.size(t)
  }

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.filter(f => Files.isRegularFile(f)).toList)
  }

  /** Bytes and file count under `dir` of the files modified at or after
    * `sinceMs`, Hadoop checksum files excluded. */
  def usage(dir: String, sinceMs: Long = 0L): (Long, Long) = {
    val fs = files(dir).filter(f => !f.getFileName.toString.endsWith(".crc") &&
      Files.getLastModifiedTime(f).toMillis >= sinceMs)
    (fs.map(Files.size).sum, fs.size.toLong)
  }

  /** Paths of the build-once stamps under `dir` with their modification times. */
  def stamps(dir: String): Map[String, Long] =
    files(dir).filter(_.getFileName.toString == "_GRAFT_SOURCE_STAMP")
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
}
