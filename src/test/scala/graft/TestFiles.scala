package graft

import java.nio.file.{Files, Path}

/** Shared test-fixture filesystem helpers (every spec was re-implementing
  * the recursive delete).
  */
object TestFiles {
  def rmrf(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Last-modified millis of every regular file under `path`, keyed by
    * relative path: equal before and after a call proves it rewrote
    * nothing.
    */
  def fileTimes(path: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  /** Lowercase md5 hex of a UTF-8 string — brute-force-replay twin of
    * the engine's md5-prefix sample predicates.
    */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
