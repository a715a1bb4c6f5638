package graft.core

import graft.fs.FileEntry
import graft.hash.Algos
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** One planned fixed-length block read: chunk `idx` of file `relPath`,
  * bytes `[offset, offset+len)` of the underlying file, whose listed
  * length is `fileLen`.
  */
final case class ChunkSpec(relPath: String, absPath: String, idx: Long, offset: Long, len: Long,
    fileLen: Long)

/** Digest of one chunk, keyed by (relPath, idx) — the fold order. */
final case class ChunkDigest(relPath: String, idx: Long, digest: Array[Byte])

/** A file's length on disk no longer matches its listing: it grew or
  * shrank between the listing and the read of its chunks, so its bytes
  * cannot be hashed as listed.
  */
final class FileChangedException(val path: String, val listedLen: Long)
    extends java.io.IOException(s"$path changed since it was listed at $listedLen bytes")

/** Fixed-length chunking as driver-planned range reads.
  *
  * The reference uses a custom Hadoop InputFormat whose splits are aligned
  * to record multiples (/root/reference/FixedLengthBinaryInputFormat.scala:
  * 41-85) and one RDD per file union-folded together
  * (/root/reference/dirhash.py:399-406) — a lineage chain that collapses at
  * 10⁵+ files. Here the whole tree is ONE `Dataset[ChunkSpec]` (a row per
  * chunk, planned from the listing's sizes), so Spark schedules uniformly
  * across files and within large files, with no custom InputFormat and no
  * union chain. Alignment is by construction; the short-final-chunk and
  * empty-file→zero-chunks semantics match the reference's record reader
  * (/root/reference/FixedLengthBinaryRecordReader.scala:105-142).
  */
object Chunker {

  private def chunkCount(fileLen: Long, blockSize: Long): Long =
    (fileLen + blockSize - 1) / blockSize // 0 for empty files

  /** Chunks `[from, until)` of one listed file under `root`. */
  private def fileChunkSpecs(root: String, fe: FileEntry, blockSize: Long,
      from: Long, until: Long): Iterator[ChunkSpec] =
    (from until until).iterator.map { i =>
      val offset = i * blockSize
      ChunkSpec(fe.relPath, s"$root/${fe.relPath}", i, offset,
        math.min(blockSize, fe.size - offset), fe.size)
    }

  /** Plans chunk ranges for every regular file, in listing order. Empty
    * files yield no chunks (they still appear in the listing — SURVEY.md
    * §1.3).
    */
  def planChunks(rootDir: String, entries: Seq[FileEntry], blockSize: Long): Seq[ChunkSpec] = {
    require(blockSize > 0, s"block size must be positive: $blockSize")
    val root = graft.fs.Listing.stripTrailingSlashes(rootDir)
    entries.iterator.filterNot(_.isDir).flatMap { fe =>
      fileChunkSpecs(root, fe, blockSize, 0L, chunkCount(fe.size, blockSize))
    }.toSeq
  }

  /** Total planned chunks for a listing — O(#files) driver arithmetic,
    * no spec materialization.
    */
  def countChunks(entries: Seq[FileEntry], blockSize: Long): Long =
    entries.iterator.filterNot(_.isDir).map(fe => chunkCount(fe.size, blockSize)).sum

  /** Chunks `[from, until)` of one file: a contiguous piece of a slice. */
  private final case class Segment(file: FileEntry, from: Long, until: Long)

  /** Cuts the chunk sequence of the non-empty files, in UTF-8
    * `(relPath, idx)` order, at chunk boundaries into `nParts` contiguous
    * slices of about equal bytes: cut `j` falls at the first chunk end at
    * or past `j * total / nParts`, so every slice holds within one block
    * of `total / nParts` bytes. A file may span several slices. O(#files +
    * nParts) time and memory.
    */
  private def planSlices(files: Seq[FileEntry], blockSize: Long,
      nParts: Int): Array[Array[Segment]] = {
    val total = files.iterator.map(_.size).sum
    val (q, r) = (total / nParts, total % nParts)
    def cutAt(j: Int): Long = j * q + (j * r + nParts - 1) / nParts // ceil(j * total / nParts)
    val slices = Array.newBuilder[Array[Segment]]
    var slice = Array.newBuilder[Segment]
    var j = 1
    var fileStart = 0L
    files.foreach { fe =>
      val n = chunkCount(fe.size, blockSize)
      var from = 0L
      while (j < nParts && cutAt(j) <= fileStart + fe.size) {
        val cut = chunkCount(cutAt(j) - fileStart, blockSize)
        if (cut > from) slice += Segment(fe, from, cut)
        slices += slice.result()
        slice = Array.newBuilder[Segment]
        from = cut
        j += 1
      }
      if (n > from) slice += Segment(fe, from, n)
      fileStart += fe.size
    }
    slices += slice.result()
    slices.result()
  }

  /** The chunk plan as a Dataset with no shuffle behind it: the driver
    * cuts the UTF-8 `(relPath, idx)`-ordered chunk sequence into
    * `max(1, min(#chunks, defaultParallelism))` contiguous, byte-balanced
    * slices ([[planSlices]]) and ships one slice per partition, each
    * expanded lazily into its `ChunkSpec`s inside the task. Partition `i`
    * therefore holds the chunks just before partition `i+1`'s, and the
    * driver holds O(#files + #partitions) whatever the block size.
    *
    * `knownChunkCount` is unused: the plan counts chunks while cutting
    * slices. It stays for callers that pass it.
    */
  def planChunksDataset(spark: SparkSession, rootDir: String,
      entries: Seq[FileEntry], blockSize: Long,
      knownChunkCount: Long = -1L): Dataset[ChunkSpec] = {
    import spark.implicits._
    require(blockSize > 0, s"block size must be positive: $blockSize")
    val root = graft.fs.Listing.stripTrailingSlashes(rootDir)
    val files = entries.filter(fe => !fe.isDir && fe.size > 0)
      .sortBy(_.relPath)(graft.fs.Listing.utf8Ordering)
    val nChunks = files.iterator.map(fe => chunkCount(fe.size, blockSize)).sum
    val nParts = math.max(1L,
      math.min(nChunks, spark.sparkContext.defaultParallelism.toLong)).toInt
    val slices = planSlices(files, blockSize, nParts)
    spark.createDataset(spark.sparkContext.parallelize(slices.toSeq, nParts).flatMap(
      _.iterator.flatMap(s => fileChunkSpecs(root, s.file, blockSize, s.from, s.until))))
  }

  /** Computes the domain-separated digest of every planned chunk, streaming
    * file bytes through the digest in 64 KiB reads (never materializing a
    * whole chunk — the default block size is 128 MiB).
    *
    * No exchange: each partition is digested in input order, so with the
    * plan of [[planChunksDataset]] `collect()` returns the digests in UTF-8
    * `(relPath, idx)` order and [[DirHash.hashDirectoryRaw]] folds them
    * without sorting. A task reads each of its files sequentially. After a
    * file's final chunk a one-byte read must hit EOF; a file that grew or
    * shrank since it was listed fails the task with a
    * [[FileChangedException]] naming the path. `nSpecs` is unused; it stays
    * for callers that pass it.
    *
    * Digest layout per chunk, keyed by [[graft.hash.Algos.chunkDigest]]:
    * `H( utf8(relPath) || 0x00 || ascii_decimal(idx) || 0x00 || content )`.
    */
  def digestChunks(
      spark: SparkSession,
      specs: Dataset[ChunkSpec],
      nSpecs: Long = -1L,
      algo: String,
      hadoopConf: Configuration): Dataset[ChunkDigest] = {
    import spark.implicits._
    Algos.get(algo) // fail fast on the driver for unknown algorithms
    val serConf = new SerializableConfiguration(hadoopConf)
    specs.mapPartitions { it =>
      val conf = serConf.value
      val buf = new Array[Byte](64 * 1024)
      var openPath: String = null
      var in: org.apache.hadoop.fs.FSDataInputStream = null
      def close(): Unit = if (in != null) { in.close(); in = null; openPath = null }
      val digests = it.map { spec =>
        def changed = new FileChangedException(spec.absPath, spec.fileLen)
        if (openPath != spec.absPath) {
          close()
          val p = new Path(spec.absPath)
          in = p.getFileSystem(conf).open(p)
          openPath = spec.absPath
        }
        try in.seek(spec.offset)
        catch { case _: java.io.EOFException => throw changed }
        val d = Algos.chunkDigest(algo, spec.relPath.getBytes(UTF_8), spec.idx)
        var remaining = spec.len
        while (remaining > 0) {
          val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
          if (n < 0) throw changed
          d.update(buf, 0, n)
          remaining -= n
        }
        if (spec.offset + spec.len == spec.fileLen && in.read() >= 0) throw changed
        ChunkDigest(spec.relPath, spec.idx, d.digest())
      }
      new Iterator[ChunkDigest] {
        def hasNext: Boolean = { val h = digests.hasNext; if (!h) close(); h }
        def next(): ChunkDigest = digests.next()
      }
    }
  }

  /** Re-stats the files the listing saw as empty: they have no chunk, so
    * [[digestChunks]] never reads them. One that now holds bytes fails with
    * a [[FileChangedException]] naming its path. One stat per such file.
    */
  def checkListedEmpty(rootDir: String, entries: Seq[FileEntry],
      hadoopConf: Configuration): Unit = {
    val root = graft.fs.Listing.stripTrailingSlashes(rootDir)
    entries.iterator.filter(fe => !fe.isDir && fe.size == 0).foreach { fe =>
      val path = s"$root/${fe.relPath}"
      val p = new Path(path)
      if (p.getFileSystem(hadoopConf).getFileStatus(p).getLen != 0)
        throw new FileChangedException(path, 0L)
    }
  }

  /** Raw chunk bytes of a single file — test/debug surface mirroring the
    * reference's `_file_chunks` (/root/reference/dirhash.py:277-286).
    */
  def fileChunks(spark: SparkSession, path: String, blockSize: Long): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val size = fs.getFileStatus(p).getLen
    val specs = planChunks(
      p.getParent.toUri.getPath,
      Seq(FileEntry(p.getName, isDir = false, size)),
      blockSize)
    val serConf = new SerializableConfiguration(conf)
    spark.createDataset(specs).map { spec =>
      val fp = new Path(spec.absPath)
      val in = fp.getFileSystem(serConf.value).open(fp)
      try {
        val out = new Array[Byte](spec.len.toInt)
        in.seek(spec.offset)
        var done = 0
        while (done < out.length) {
          val n = in.read(out, done, out.length - done)
          if (n < 0) throw new FileChangedException(spec.absPath, spec.fileLen)
          done += n
        }
        (spec.idx, out)
      } finally in.close()
    }
  }
}
