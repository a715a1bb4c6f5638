package graft.core

import java.nio.file.{Files, Path}
import graft.fs.FileEntry
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator properties from the SURVEY.md §5 port plan:
  * chunk plans reassemble to the file, the directory hash is
  * deterministic, and sensitive to content/structure changes. Raw Gen
  * sampling with fixed seeds (scalatestplus bridge isn't available in the
  * offline dependency set) — deterministic across runs.
  */
class ChunkerPropSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val sizes: Gen[Long] = Gen.oneOf(
    Gen.choose(0L, 4L), Gen.choose(0L, 4096L), Gen.oneOf(0L, 1L, 1023L, 1024L, 1025L))
  private val blocks: Gen[Long] = Gen.oneOf(1L, 2L, 3L, 7L, 64L, 1024L, 4096L)

  test("property: chunk plan covers the file exactly once, in order") {
    for {
      size <- samples(sizes, 60)
      block <- samples(blocks, 7)
    } {
      val specs = Chunker.planChunks("/r", Seq(FileEntry("f", isDir = false, size)), block)
      assert(specs.map(_.idx) == specs.indices.map(_.toLong)) // dense 0..n-1
      assert(specs.map(_.len).sum == size) // tiles [0, size): no gap/overlap
      specs.foreach(s => assert(s.offset == s.idx * block))
      specs.dropRight(1).foreach(s => assert(s.len == block))
      specs.lastOption.foreach(s => assert(s.len == size - s.offset && s.len > 0))
      if (size == 0) assert(specs.isEmpty) // empty file => zero chunks (§1.3)
    }
  }

  private val fileGen: Gen[(String, Array[Byte])] = for {
    dir <- Gen.oneOf("a", "b", "deep/nested")
    name <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    bytes <- Gen.choose(0, 600).flatMap(n => Gen.listOfN(n, Arbitrary.arbByte.arbitrary))
  } yield (s"$dir/$name", bytes.toArray)

  private def writeTree(files: Map[String, Array[Byte]]): Path = {
    val root = Files.createTempDirectory("graft-prop")
    files.foreach { case (rel, bytes) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    root
  }

  private def rmTree(root: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  test("property: directory hash deterministic, content- and name-sensitive") {
    for ((files, block) <- samples(Gen.mapOfN(3, fileGen), 4).zip(samples(blocks, 4))
         if files.nonEmpty) {
      val root = writeTree(files)
      try {
        val h1 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block)
        val h2 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block)
        assert(h1 == h2) // deterministic across runs (incl. shuffle order)

        val (rel, bytes) = files.head
        if (bytes.nonEmpty) { // flipping one byte changes the hash
          val mutated = bytes.clone(); mutated(0) = (mutated(0) ^ 1).toByte
          Files.write(root.resolve(rel), mutated)
          assert(DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block) != h1)
          Files.write(root.resolve(rel), bytes)
        }

        // renaming a file changes the hash (listing + digest domain)
        Files.move(root.resolve(rel), root.resolve(rel + ".renamed"))
        assert(DirHash.hashDirectoryRaw(spark, root.toString, "sha256", block) != h1)
      } finally rmTree(root)
    }
  }

  test("property: hash invariant to block size when every file fits one chunk") {
    for (files <- samples(Gen.mapOfN(2, fileGen), 3) if files.nonEmpty) {
      val root = writeTree(files)
      try {
        val big1 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", 1 << 20)
        val big2 = DirHash.hashDirectoryRaw(spark, root.toString, "sha256", 1 << 21)
        assert(big1 == big2)
      } finally rmTree(root)
    }
  }

  // Names whose UTF-8 and UTF-16 orders differ (U+FF5E sorts before the
  // astral U+1D11E in UTF-8, after its D834 surrogate in UTF-16), a space,
  // "é", and a file beside a same-named directory ("." 0x2E < "/" 0x2F).
  private val names = Seq("a b.txt", "a b/e.bin", "a b/\u00e9", "\u00e9",
    "\u30c7\uff5e", "\u30c7\ud834\udd1e", "x/y/z", "zz")
  private val listings: Gen[Seq[FileEntry]] = for {
    picked <- Gen.someOf(names)
    lens <- Gen.listOfN(picked.size, sizes)
    dirs <- Gen.someOf(Seq("a b/", "x/", "x/y/", "empty/"))
    giant <- Gen.oneOf(false, true)
  } yield {
    val files = picked.toSeq.zip(lens).map { case (n, len) => FileEntry(n, isDir = false, len) }
    // one file larger than the whole rest
    val sized = if (giant && files.nonEmpty)
      files.updated(0, files.head.copy(size = files.map(_.size).sum + 1))
    else files
    sized ++ dirs.map(FileEntry(_, isDir = true, 0L))
  }

  test("property: plan partitions are ordered UTF-8 runs of balanced bytes") {
    val cores = spark.sparkContext.defaultParallelism
    val byKey = Ordering.Tuple2(graft.fs.Listing.utf8Ordering, Ordering.Long)
    for {
      entries <- samples(listings, 40)
      block <- samples(blocks, 3)
    } {
      val parts = Chunker.planChunksDataset(spark, "/r", entries, block).rdd
        .mapPartitionsWithIndex((i, it) => Iterator(i -> it.toVector)).collect()
      val expected = Chunker.planChunks("/r", entries, block)
        .sortBy(s => (s.relPath, s.idx))(byKey)
      val at = s"at block=$block, entries=$entries"
      assert(parts.map(_._1).toSeq == parts.indices, at)
      assert(parts.length == math.max(1, math.min(expected.size, cores)), at)
      assert(parts.toSeq.flatMap(_._2) == expected, at) // no re-sort of the rows
      val total = expected.map(_.len).sum
      parts.foreach { case (i, p) => // |bytes - total / nParts| <= one block
        assert(math.abs(p.map(_.len).sum * parts.length - total) <= block * parts.length,
          s"partition $i $at")
      }
    }
  }

  test("a 10-million-chunk listing plans without driver materialization") {
    import graft.fs.FileEntry
    // 10 files × 1e6 chunks each: a driver Seq would be 1e7 ChunkSpec
    // objects (~1.5 GB with object headers + two boxed paths each); the
    // Dataset plan ships one slice of file segments per partition and
    // expands it lazily inside the task, spot-checked at both extremes.
    // (Planning needs sizes only; no bytes are read.)
    val entries = (0 until 10).map(i =>
      FileEntry(f"big$i%02d", isDir = false, 1000000L * 512))
    val ds = Chunker.planChunksDataset(spark, "/r", entries, 512L)
    assert(ds.count() == 10000000L)
    import spark.implicits._
    val last = ds.filter($"relPath" === "big09" && $"idx" === 999999L)
      .collect()
    assert(last.length == 1 && last(0).offset == 999999L * 512 &&
      last(0).len == 512L)
  }

  test("a file that grew or shrank after listing fails with FileChangedException") {
    val root = writeTree(Map("a/one" -> Array.fill[Byte](3000)(1),
      "b/two" -> Array.fill[Byte](5000)(2)))
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val specs = Chunker.planChunksDataset(spark, root.toString,
        graft.fs.Listing.list(root.toString, conf), 1024L)
      def digest() = Chunker.digestChunks(spark, specs, -1L, "sha256", conf).collect()
      assert(digest().length == 3 + 5)
      // the hash's own RDD job over the same (now stale) listing
      val listing = graft.fs.Listing.list(root.toString, conf)
      def rddDigests() = Chunker.digestListing(spark.sparkContext, root.toString, listing,
        1024L, "sha256")
      assert(rddDigests().map(_.toSeq).toSeq == digest().map(_.digest.toSeq).toSeq)
      val changed = root.resolve("a/one")
      def assertChanged(): Unit = {
        val e = intercept[Exception](digest())
        assert(e.getMessage.contains(changed.toString), e.getMessage)
        val typed = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case f: FileChangedException => f }
        assert(typed.exists(f => f.path == changed.toString && f.listedLen == 3000L),
          s"no FileChangedException for $changed in the causes of $e")
        // the hash path rethrows the typed error itself
        val f = intercept[FileChangedException](rddDigests())
        assert(f.path == changed.toString && f.listedLen == 3000L, f.getMessage)
      }
      // grew by one byte: the final chunk reads as listed, the EOF probe fails
      Files.write(changed, Array[Byte](9), java.nio.file.StandardOpenOption.APPEND)
      assertChanged()
      // truncated below chunk 1's offset: a short read, and a seek past EOF
      Files.write(changed, Array.fill[Byte](1000)(1))
      assertChanged()
    } finally rmTree(root)
  }

  test("a file listed empty that grew fails with FileChangedException") {
    val root = writeTree(Map("a/one" -> Array.fill[Byte](3000)(1),
      "e/still" -> Array.emptyByteArray, "e/grows" -> Array.emptyByteArray))
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val entries = graft.fs.Listing.list(root.toString, conf)
      Chunker.checkListedEmpty(root.toString, entries, conf) // unchanged: passes
      val grown = root.resolve("e/grows")
      Files.write(grown, Array[Byte](9))
      val e = intercept[FileChangedException](
        Chunker.checkListedEmpty(root.toString, entries, conf))
      assert(e.path == grown.toString && e.listedLen == 0L)
      assert(e.getMessage.contains(grown.toString), e.getMessage)
    } finally rmTree(root)
  }
}
