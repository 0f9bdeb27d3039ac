package graft

import java.nio.file.{Files, Path}

/** Small filesystem helpers shared by mains/queries (the store keeps its
  * own private copies with identical semantics).
  */
object FsUtil {

  /** Recursive delete, closing the walk stream (dir handles leak at ulimit
    * scale otherwise) and ignoring per-file failures.
    */
  def deleteRecursively(root: Path): Unit = {
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toSeq.reverse
          .foreach(p => try Files.delete(p) catch { case _: Throwable => () })
      } finally stream.close()
    }
  }

  /** Count of files under `root` whose name ends with `suffix`, skipping
    * any path containing `excludeDirPart` (0 if absent). Closes the walk
    * stream like the other helpers — unclosed walks leak directory
    * handles at the 100k-file layouts this repo measures.
    */
  def countFiles(root: Path, suffix: String,
      excludeDirPart: String = ""): Long = {
    if (!Files.exists(root)) 0L
    else {
      val stream = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.count { p =>
          val s = p.toString
          s.endsWith(suffix) &&
            (excludeDirPart.isEmpty || !s.contains(excludeDirPart))
        }.toLong
      } finally stream.close()
    }
  }
}
