package graft

/** Fixture facts shared by several specs, each declared once (round-12
  * review: the embeddings hash lived in two files, so a re-pin applied to
  * one would leave the other suite's exact assertions silently skipped
  * forever).
  */
object TestFixtures {

  /** Content hash of the sf0.01 embeddings fixture the exact pinned
    * operating curves (q271/q277/q293/q294/q295) were measured on.
    */
  val pinnedEmbeddingsMd5 = "4232d4b317b4b9f35bd5a6abf25d0ade"

  /** Content hash of the fixture at `dir` — a single file hashes its
    * bytes; a DIRECTORY (the shape a Spark-written regeneration takes,
    * exactly the case the pin exists to catch — round-12 ADVICE: the
    * plain readAllBytes threw IOException there, turning the intended
    * assume()-skip into a test error) hashes every regular file's
    * (relative path, bytes) in sorted path order.
    */
  def embeddingsMd5(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val md = java.security.MessageDigest.getInstance("MD5")
    if (java.nio.file.Files.isDirectory(root)) {
      val files = java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .toSeq.sortBy(p => root.relativize(p).toString)
      files.foreach { p =>
        md.update(root.relativize(p).toString.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(p))
      }
    } else md.update(java.nio.file.Files.readAllBytes(root))
    md.digest().map("%02x".format(_)).mkString
  }
}
