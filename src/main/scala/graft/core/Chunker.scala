package graft.core

import graft.fs.FileEntry
import graft.hash.Algos
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** One planned fixed-length block read: chunk `idx` of file `relPath`,
  * bytes `[offset, offset+len)` of the underlying file.
  */
final case class ChunkSpec(relPath: String, absPath: String, idx: Long, offset: Long, len: Long)

/** Digest of one chunk, keyed by (relPath, idx) — the fold order. */
final case class ChunkDigest(relPath: String, idx: Long, digest: Array[Byte])

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

  /** Plans chunk ranges for every regular file. Empty files yield no chunks
    * (they still appear in the listing — SURVEY.md §1.3).
    */
  def planChunks(rootDir: String, entries: Seq[FileEntry], blockSize: Long): Seq[ChunkSpec] = {
    require(blockSize > 0, s"block size must be positive: $blockSize")
    val root = graft.fs.Listing.stripTrailingSlashes(rootDir)
    entries.iterator.filterNot(_.isDir).flatMap { fe =>
      val nChunks = (fe.size + blockSize - 1) / blockSize // 0 for empty files
      (0L until nChunks).map { i =>
        val offset = i * blockSize
        ChunkSpec(fe.relPath, s"$root/${fe.relPath}", i, offset,
          math.min(blockSize, fe.size - offset))
      }
    }.toSeq
  }

  /** Total planned chunks for a listing — O(#files) driver arithmetic,
    * no spec materialization.
    */
  def countChunks(entries: Seq[FileEntry], blockSize: Long): Long =
    entries.iterator.filterNot(_.isDir)
      .map(fe => (fe.size + blockSize - 1) / blockSize).sum

  /** The chunk plan as a Dataset. Plans up to `driverSpecLimit` specs
    * take the driver Seq path (byte-identical to [[planChunks]], zero
    * extra jobs — the default covers 100 TB at the 128 MiB default
    * block size, ~10⁶ specs); above it the expansion runs as a
    * distributed flatMap over the FILE list, so the driver holds
    * O(#files), never O(#chunks). The old always-driver path made
    * plan-time memory scale inversely with block size: 100 TB at 1 MiB
    * blocks is 10⁸ specs — a driver OOM for choosing a small `-b`,
    * which the reference's own collect bound never imposed at plan
    * time. A single huge file expands lazily (iterator flatMap) inside
    * its task and is immediately re-spread by digestChunks'
    * range-repartition on (path, idx).
    */
  def planChunksDataset(spark: SparkSession, rootDir: String,
      entries: Seq[FileEntry], blockSize: Long,
      driverSpecLimit: Long = 4000000L,
      knownChunkCount: Long = -1L): Dataset[ChunkSpec] = {
    import spark.implicits._
    require(blockSize > 0, s"block size must be positive: $blockSize")
    // callers that already hold the count (hashDirectoryRaw passes it to
    // digestChunks' range sizing too) hand it in, so the O(#files) pass
    // runs once per hash and the two sites cannot disagree
    val nChunks =
      if (knownChunkCount >= 0) knownChunkCount
      else countChunks(entries, blockSize)
    if (nChunks <= driverSpecLimit)
      spark.createDataset(planChunks(rootDir, entries, blockSize))
    else {
      val root = graft.fs.Listing.stripTrailingSlashes(rootDir)
      val files = entries.filterNot(_.isDir)
      val bs = blockSize
      spark.createDataset(files)
        .repartition(spark.sparkContext.defaultParallelism)
        .flatMap { fe =>
          val nChunks = (fe.size + bs - 1) / bs // 0 for empty files
          (0L until nChunks).iterator.map { i =>
            val offset = i * bs
            ChunkSpec(fe.relPath, s"$root/${fe.relPath}", i, offset,
              math.min(bs, fe.size - offset))
          }
        }
    }
  }

  /** Computes the domain-separated digest of every planned chunk, streaming
    * file bytes through the digest in 64 KiB reads (never materializing a
    * whole chunk — the default block size is 128 MiB).
    *
    * Order contract: the result is globally ordered by (absPath, idx).
    * Specs are range-partitioned on (absPath, idx) and sorted within
    * partitions — the plan's one exchange — and the digest
    * `mapPartitions` keeps row order, so partition i holds keys below
    * partition i+1's and `collect()` returns the digests in that order.
    * A task thereby reads each file sequentially, and
    * [[DirHash.hashDirectoryRaw]] folds the collected rows without
    * sorting them again. For specs sharing one root, (absPath, idx)
    * order is (relPath, idx) order in UTF-8 bytes.
    *
    * Digest layout per chunk (reference /root/reference/dirhash.py:288-303):
    * `H( utf8(relPath) || 0x00 || ascii_decimal(idx) || 0x00 || content )`.
    */
  def digestChunks(
      spark: SparkSession,
      specs: Seq[ChunkSpec],
      algo: String,
      hadoopConf: Configuration): Dataset[ChunkDigest] = {
    import spark.implicits._
    digestChunks(spark, spark.createDataset(specs), specs.size.toLong,
      algo, hadoopConf)
  }

  /** Dataset-plan variant: `nSpecs` is the planned chunk count (cheap
    * O(#files) arithmetic via [[countChunks]]) used to size the range
    * partitioning without counting the Dataset.
    */
  def digestChunks(
      spark: SparkSession,
      specs: Dataset[ChunkSpec],
      nSpecs: Long,
      algo: String,
      hadoopConf: Configuration): Dataset[ChunkDigest] = {
    import spark.implicits._
    Algos.get(algo) // fail fast on the driver for unknown algorithms
    val serConf = new SerializableConfiguration(hadoopConf)
    val parallelism = spark.sparkContext.defaultParallelism
    // ~4 specs per core up to the spec count, so large files fan out wide
    // while tiny trees don't pay for empty tasks.
    val nParts = math.max(1, math.min(nSpecs, parallelism * 4L)).toInt
    specs
      .repartitionByRange(nParts, $"absPath", $"idx")
      .sortWithinPartitions($"absPath", $"idx")
      .mapPartitions { it =>
        val conf = serConf.value
        val buf = new Array[Byte](64 * 1024)
        var openPath: String = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        def close(): Unit = if (in != null) { in.close(); in = null; openPath = null }
        val digests = it.map { spec =>
          if (openPath != spec.absPath) {
            close()
            val p = new Path(spec.absPath)
            in = p.getFileSystem(conf).open(p)
            openPath = spec.absPath
          }
          in.seek(spec.offset)
          val d = Algos.get(algo)
          d.update(spec.relPath)
          d.update(Array(0.toByte))
          d.update(spec.idx.toString)
          d.update(Array(0.toByte))
          var remaining = spec.len
          while (remaining > 0) {
            val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
            if (n < 0)
              throw new java.io.IOException(
                s"unexpected EOF in ${spec.absPath} at chunk ${spec.idx}")
            d.update(buf, 0, n)
            remaining -= n
          }
          ChunkDigest(spec.relPath, spec.idx, d.digest())
        }
        new Iterator[ChunkDigest] {
          def hasNext: Boolean = { val h = digests.hasNext; if (!h) close(); h }
          def next(): ChunkDigest = digests.next()
        }
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
          if (n < 0) throw new java.io.IOException(s"unexpected EOF in ${spec.absPath}")
          done += n
        }
        (spec.idx, out)
      } finally in.close()
    }
  }
}
