package graft

/** Fixture facts shared by several specs, each declared once (round-12
  * review: the embeddings hash lived in two files, so a re-pin applied to
  * one would leave the other suite's exact assertions silently skipped
  * forever).
  */
object TestFixtures {

  /** The `qNN` prefixes of the queries that read TPC-H tables. */
  private val tpchQueries = Set("q01", "q02", "q03", "q04", "q05", "q06",
    "q07", "q08", "q09", "q10", "q11", "q12", "q29", "q37", "q38", "q42",
    "q43", "q44", "q58", "q71", "q111", "q114", "q115", "q120", "q141",
    "q149", "q150", "q151", "q156", "q173", "q217", "q218", "q219",
    "q259", "q260", "q266", "q267", "q273", "q274", "q278", "q279",
    "q281", "q282", "q283", "q284", "q285", "q286", "q287", "q288",
    "q289", "q290", "q291", "q292")

  /** Whether query `name` reads no TPC-H table, so it runs on a corpus
    * that carries none (EmptyCorpusSpec, NullTextSpec). Matches the full
    * `qNN` prefix: `take(3)` would make q100+ collide with q10.
    */
  def readsDocsOnly(name: String): Boolean =
    !tpchQueries.contains(name.takeWhile(_ != '_'))

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
