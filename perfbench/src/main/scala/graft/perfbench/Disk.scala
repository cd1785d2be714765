package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Storage accounting from outside the engine: what a workload's tables
  * and indexes leave on disk. */
object Disk {
  /** Commit-log version files (`_log/<20 digits>.json`) under `roots`. */
  def logVersions(roots: Seq[String]): Long = roots.flatMap(files).count { p =>
    p.getParent != null && p.getParent.getFileName.toString == "_log" &&
      p.getFileName.toString.matches("\\d{20}\\.json")
  }.toLong

  /** (count, bytes) of table data files under `roots`: files with no
    * `_`- or `.`-prefixed path component (logs, checksums, staging). */
  def dataFiles(roots: Seq[String]): (Long, Long) = {
    val data = roots.flatMap(r => files(r).filter(_.iterator().asScala.forall { c =>
      val n = c.toString
      !n.startsWith("_") && !n.startsWith(".")
    }).map(Paths.get(r).resolve))
    (data.size.toLong, data.map(Files.size).sum)
  }

  /** Regular files under `root`, relative to it. */
  private def files(root: String): Seq[Path] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Nil
    else {
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(r.relativize).toList
      finally s.close()
    }
  }
}
