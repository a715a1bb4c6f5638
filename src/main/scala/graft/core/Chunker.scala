package graft.core

import graft.fs.FileEntry
import graft.hash.Algos
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, SparkException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
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
  * 10⁵+ files. Here the whole tree is ONE `RDD[ChunkSpec]` (a row per
  * chunk, planned from the listing's sizes), so Spark schedules uniformly
  * across files and within large files, with no custom InputFormat and no
  * union chain. Alignment is by construction; the short-final-chunk and
  * empty-file→zero-chunks semantics match the reference's record reader
  * (/root/reference/FixedLengthBinaryRecordReader.scala:105-142).
  *
  * [[digestListing]] digests that plan as one plain RDD job, with no
  * Catalyst planning or encoders per call; [[planChunksDataset]] and
  * [[digestChunks]] are Dataset views of the same plan and read loop.
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

  /** The chunk plan with no shuffle behind it: the driver cuts the UTF-8
    * `(relPath, idx)`-ordered chunk sequence into
    * `max(1, min(#chunks, defaultParallelism))` contiguous, byte-balanced
    * slices ([[planSlices]]) and ships one slice per partition, each
    * expanded lazily into its `ChunkSpec`s inside the task. Partition `i`
    * therefore holds the chunks just before partition `i+1`'s, and the
    * driver holds O(#files + #partitions) whatever the block size.
    */
  private def planChunkRdd(sc: SparkContext, rootDir: String, entries: Seq[FileEntry],
      blockSize: Long): RDD[ChunkSpec] = {
    require(blockSize > 0, s"block size must be positive: $blockSize")
    val root = graft.fs.Listing.stripTrailingSlashes(rootDir)
    val files = entries.filter(fe => !fe.isDir && fe.size > 0)
      .sortBy(_.relPath)(graft.fs.Listing.utf8Ordering)
    val nChunks = files.iterator.map(fe => chunkCount(fe.size, blockSize)).sum
    val nParts = math.max(1L, math.min(nChunks, sc.defaultParallelism.toLong)).toInt
    val slices = planSlices(files, blockSize, nParts)
    sc.parallelize(slices.toSeq, nParts).flatMap(
      _.iterator.flatMap(s => fileChunkSpecs(root, s.file, blockSize, s.from, s.until)))
  }

  /** Reads and digests one partition's chunks in input order, streaming
    * file bytes through the digest in 64 KiB reads (never materializing a
    * whole chunk — the default block size is 128 MiB). A task reads each
    * of its files sequentially through one open stream. After a file's
    * final chunk a one-byte read must hit EOF; a file that grew or shrank
    * since it was listed fails the task with a [[FileChangedException]]
    * naming the path.
    *
    * Digest layout per chunk, keyed by [[graft.hash.Algos.chunkDigest]]:
    * `H( utf8(relPath) || 0x00 || ascii_decimal(idx) || 0x00 || content )`.
    */
  private def digestPartition(algo: String, hadoopConf: Broadcast[SerializableConfiguration],
      specs: Iterator[ChunkSpec]): Iterator[(ChunkSpec, Array[Byte])] = {
    val conf = hadoopConf.value.value
    val buf = new Array[Byte](64 * 1024)
    var openPath: String = null
    var in: org.apache.hadoop.fs.FSDataInputStream = null
    def close(): Unit = if (in != null) { in.close(); in = null; openPath = null }
    val digests = specs.map { spec =>
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
      (spec, d.digest())
    }
    new Iterator[(ChunkSpec, Array[Byte])] {
      def hasNext: Boolean = { val h = digests.hasNext; if (!h) close(); h }
      def next(): (ChunkSpec, Array[Byte]) = digests.next()
    }
  }

  /** The digest of every chunk of the listed files under `rootDir`, in
    * UTF-8 `(relPath, idx)` order, as one job of one stage: the plan of
    * [[planChunkRdd]], digested per partition in input order, and only the
    * digests collected — `collect()` keeps partition order, so nothing is
    * sorted. The Hadoop conf reaches the tasks as one broadcast, destroyed
    * when the job ends. A file that changed since `entries` was listed
    * fails with its [[FileChangedException]], taken out of the job's
    * `SparkException`.
    */
  def digestListing(sc: SparkContext, rootDir: String, entries: Seq[FileEntry],
      blockSize: Long, algo: String): Array[Array[Byte]] = {
    Algos.get(algo) // fail fast on the driver for unknown algorithms
    val specs = planChunkRdd(sc, rootDir, entries, blockSize)
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    try specs.mapPartitions(it => digestPartition(algo, conf, it).map(_._2)).collect()
    catch {
      case e: SparkException => throw Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).collectFirst { case f: FileChangedException => f }.getOrElse(e)
    } finally conf.destroy()
  }

  /** [[planChunkRdd]] as a Dataset, for callers that want one.
    * `knownChunkCount` is unused; it stays for callers that pass it.
    */
  def planChunksDataset(spark: SparkSession, rootDir: String,
      entries: Seq[FileEntry], blockSize: Long,
      knownChunkCount: Long = -1L): Dataset[ChunkSpec] = {
    import spark.implicits._
    spark.createDataset(planChunkRdd(spark.sparkContext, rootDir, entries, blockSize))
  }

  /** [[digestPartition]] over a Dataset of specs, keeping each chunk's
    * `(relPath, idx)`: with the plan of [[planChunksDataset]], `collect()`
    * returns the rows in UTF-8 `(relPath, idx)` order. The Dataset is lazy,
    * so its conf broadcast is left to Spark's context cleaner. `nSpecs` is
    * unused; it stays for callers that pass it.
    */
  def digestChunks(
      spark: SparkSession,
      specs: Dataset[ChunkSpec],
      nSpecs: Long = -1L,
      algo: String,
      hadoopConf: Configuration): Dataset[ChunkDigest] = {
    import spark.implicits._
    Algos.get(algo) // fail fast on the driver for unknown algorithms
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    specs.mapPartitions(it => digestPartition(algo, conf, it).map { case (s, d) =>
      ChunkDigest(s.relPath, s.idx, d)
    })
  }

  /** Re-stats the files the listing saw as empty: they have no chunk, so
    * [[digestListing]] never reads them. One that now holds bytes fails with
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
