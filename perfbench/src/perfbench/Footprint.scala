package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Regular files (path -> size) under a directory: the on-disk footprint
  * of a store or a sink, taken before and after an operation so the
  * files and bytes the operation added show up as a diff. */
final case class Footprint(files: Map[String, Long]) {
  def bytes: Long = files.values.sum

  /** Files present here but not in `before`, and the bytes they hold
    * plus the growth of files present in both. */
  def addedSince(before: Footprint): (Long, Long) = {
    var n = 0L
    var b = 0L
    files.foreach { case (p, size) =>
      before.files.get(p) match {
        case None => n += 1; b += size
        case Some(old) => b += math.max(0L, size - old)
      }
    }
    (n, b)
  }
}

object Footprint {
  def of(dir: String): Footprint = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Footprint(Map.empty)
    else {
      val walk = Files.walk(root)
      try Footprint(walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> Files.size(p)).toMap)
      finally walk.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }
}
