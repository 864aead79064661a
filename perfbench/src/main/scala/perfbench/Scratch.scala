package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** What the queries leave on disk, seen from directory listings taken
  * before and after each query: the engine's throwaway stores and
  * checkpoints (new top-level entries of tmpfs `/dev/shm`, where the
  * engine's `TempDirs` and streaming checkpoints live) plus the
  * benchmark's temp and warehouse directories.
  */
final class Scratch(workDirs: Seq[Path]) {
  private val shm = Paths.get("/dev/shm")
  private val shmAtStart: Set[Path] = entries(shm).toSet

  private def entries(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir))(_.iterator.asScala.toList)

  def roots: Seq[Path] = entries(shm).filterNot(shmAtStart) ++ workDirs

  /** Every regular file under the roots: path -> (bytes, mtime ms). */
  def snapshot(): Map[String, (Long, Long)] = roots.flatMap { r =>
    if (!Files.exists(r)) Nil
    else Using.resource(Files.walk(r))(_.iterator.asScala.toList).flatMap { p =>
      try {
        if (Files.isRegularFile(p))
          Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        else None
      } catch { case _: java.io.IOException => None } // deleted mid-walk
    }
  }.toMap
}

/** One query's on-disk footprint, from two [[Scratch]] snapshots. */
final case class Footprint(filesWritten: Int, bytesWritten: Long, commits: Int,
    filesLive: Int)

object Footprint {
  private def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
  private def parent(p: String) = p.substring(0, math.max(p.lastIndexOf('/'), 0))

  /** Data files of a table: Spark part files and the store's merged and
    * rewritten files.
    */
  def isData(p: String): Boolean = {
    val n = name(p)
    !n.endsWith(".crc") && (n.startsWith("part-") || n.startsWith("merged-") ||
      n.startsWith("rewrite-"))
  }

  /** Commit points: a store manifest version, a streaming commit-log
    * entry, or a file-output job's success marker.
    */
  def isCommit(p: String): Boolean = {
    val n = name(p)
    !n.endsWith(".crc") && (n.startsWith("_MANIFEST.v") || n == "_SUCCESS" ||
      name(parent(p)) == "commits")
  }

  def of(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Footprint = {
    val written = after.filter { case (p, st) =>
      !p.endsWith(".crc") && !before.get(p).contains(st)
    }
    val dirs = written.keySet.map(parent)
    val live = after.keys.count(p => isData(p) && dirs(parent(p)))
    Footprint(written.size, written.values.map(_._1).sum,
      written.keys.count(isCommit), live)
  }
}
