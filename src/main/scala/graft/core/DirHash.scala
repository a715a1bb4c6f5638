package graft.core

import graft.fs.Listing
import graft.hash.{Algos, HashSpec}
import org.apache.spark.{SparkConf, SparkContext, SparkEnv}
import org.apache.spark.sql.SparkSession

/** Outcome of verifying a directory against an expected hash. Truthy iff
  * the hashes match (reference /root/reference/dirhash.py:462-517).
  */
final case class HashComparisonResult(matches: Boolean, actualHash: String)

/** The directory-hash pipeline — the reference's flagship capability
  * (/root/reference/dirhash.py:307-459), Spark-first:
  *
  *   1. driver: recursive listing (files + dirs, empty dirs included)
  *   2. executors: chunk-digest every block of every file, as one plain
  *      RDD job over planned range reads (no per-file RDD union chain,
  *      no Catalyst planning) that collects only the digests
  *   3. the digests come back already in (relPath, idx) order, with no
  *      shuffle: the driver plans the chunks as contiguous, byte-balanced
  *      slices of that order, one per task, so a hash is one job of one
  *      stage — the reference's total `sortBy` (dirhash.py:413) done at
  *      plan time, and every byte is read and digested once
  *   4. driver: sequential, order-dependent digest fold (deliberately NOT a
  *      Spark aggregation — it is non-associative and non-commutative,
  *      SURVEY.md §2.4). Collected values are 28-64 B digests, so driver
  *      memory is bounded by chunk count exactly as in the reference.
  *
  * The session overloads run on the session's SparkContext.
  */
object DirHash {

  /** Runs `body` on the running SparkContext if there is one, otherwise
    * on a private local context created here and stopped afterwards — the
    * reference's SparkContext create-if-absent management
    * (/root/reference/dirhash.py:325-335): a library caller gets the same
    * no-arguments contract the CLI user gets. A borrowed context, with or
    * without a SparkSession over it, is never stopped (the reference only
    * ever stops its own, dirhash.py:327-332).
    */
  private def withContext[A](body: SparkContext => A): A =
    if (SparkEnv.get != null) body(SparkContext.getOrCreate())
    else {
      val conf = new SparkConf().setAppName("DirHash")
      if (!conf.contains("spark.master")) conf.setMaster("local[*]")
      val sc = new SparkContext(conf)
      try body(sc)
      finally sc.stop()
    }

  /** No-session overloads (reference parity: every entry point accepts a
    * missing context, dirhash.py E1-E4). */
  def hashDirectoryRaw(dir: String, algo: String, blockSize: Long): String =
    withContext(hashDirectoryRaw(_, dir, algo, blockSize))
  def hashDirectory(dir: String, algo: String, blockSizeStr: String): String =
    withContext(hashDirectory(_, dir, algo, blockSizeStr))
  def verifyRawDirectoryHash(dir: String, algo: String, blockSize: Long,
      expectedHex: String): HashComparisonResult =
    withContext(verifyRawDirectoryHash(_, dir, algo, blockSize, expectedHex))
  def verifyDirectoryHash(dir: String, hashString: String): HashComparisonResult =
    withContext(verifyDirectoryHash(_, dir, hashString))

  /** Session overloads. */
  def hashDirectoryRaw(spark: SparkSession, dir: String, algo: String, blockSize: Long): String =
    hashDirectoryRaw(spark.sparkContext, dir, algo, blockSize)
  def hashDirectory(spark: SparkSession, dir: String, algo: String, blockSizeStr: String): String =
    hashDirectory(spark.sparkContext, dir, algo, blockSizeStr)
  def verifyRawDirectoryHash(spark: SparkSession, dir: String, algo: String, blockSize: Long,
      expectedHex: String): HashComparisonResult =
    verifyRawDirectoryHash(spark.sparkContext, dir, algo, blockSize, expectedHex)
  def verifyDirectoryHash(spark: SparkSession, dir: String, hashString: String): HashComparisonResult =
    verifyDirectoryHash(spark.sparkContext, dir, hashString)

  /** Hex digest of `dir` under `algo` at `blockSize` bytes.
    * (reference `hash_directory_raw`, /root/reference/dirhash.py:307-444)
    */
  def hashDirectoryRaw(sc: SparkContext, dir: String, algo: String, blockSize: Long): String = {
    val hadoopConf = sc.hadoopConfiguration
    val entries = Listing.list(dir, hadoopConf)

    // one RDD job, O(#files + #tasks) on the driver regardless of block
    // size; its digests arrive in (relPath, idx) order in UTF-8 bytes
    // (== Python code-point order), so nothing is sorted here. The collect
    // stays driver-bounded by design — that bound is the reference's spec
    val digests = Chunker.digestListing(sc, dir, entries, blockSize, algo)
    // a file listed empty has no chunk, so nothing above has read it
    Chunker.checkListedEmpty(dir, entries, hadoopConf)

    val allEntries = entries.map(_.relPath).sorted(Listing.utf8Ordering)

    // Final fold (reference /root/reference/dirhash.py:422-441):
    //   ascii(count) 0x00  join(entries, 0x00)  0x00  digests…
    // The trailing 0x00 after the joined listing is unconditional, so an
    // empty directory hashes "0\0\0" exactly like the reference.
    val zero = Array(0.toByte)
    val h = Algos.get(algo)
    h.update(allEntries.size.toString)
    h.update(zero)
    var firstEntry = true
    allEntries.foreach { e =>
      if (!firstEntry) h.update(zero)
      h.update(e)
      firstEntry = false
    }
    h.update(zero)
    digests.foreach(d => h.update(d))
    Algos.hex(h.digest())
  }

  /** Versioned hash string `v1-<algo>-<blocksize>-<hex>` of `dir`.
    * (reference `hash_directory`, /root/reference/dirhash.py:446-459)
    */
  def hashDirectory(sc: SparkContext, dir: String, algo: String, blockSizeStr: String): String = {
    val blockSize = HashSpec.parseBlockSize(blockSizeStr)
    val hex = hashDirectoryRaw(sc, dir, algo, blockSize)
    HashSpec.buildHashString(algo, blockSizeStr, hex)
  }

  /** Re-hash and compare against a raw hex digest.
    * (reference `verify_raw_directory_hash`, /root/reference/dirhash.py:521-535)
    */
  def verifyRawDirectoryHash(
      sc: SparkContext, dir: String, algo: String, blockSize: Long,
      expectedHex: String): HashComparisonResult = {
    val actual = hashDirectoryRaw(sc, dir, algo, blockSize)
    HashComparisonResult(actual == expectedHex, actual)
  }

  /** Parse a `v1-…` hash string, re-hash, compare.
    * (reference `verify_directory_hash`, /root/reference/dirhash.py:538-555)
    */
  def verifyDirectoryHash(sc: SparkContext, dir: String, hashString: String): HashComparisonResult = {
    val hs = HashSpec.parseHashString(hashString)
    verifyRawDirectoryHash(sc, dir, hs.algo, hs.blockSize, hs.hexDigest)
  }
}
