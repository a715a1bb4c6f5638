package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]]: the one release rule for memoized values, the scoped
  * working cache, and the memo-served dedup tables — a second
  * invocation must HIT (persist no new RDDs), and every value served
  * from a shared table must equal its uncached spelling (the
  * threshold-filter law, the sampled-table subset laws).
  */
class MemoSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // the sampleDocs predicate, spelled independently of Dedup's helper
  private def sampled(d: DataFrame, hexMax: String) =
    d.filter(substring(md5(col("doc_id").cast("string")), 1, 2) <= lit(hexMax))

  private def isCached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  test("cap eviction of a localCheckpoint value unpersists its checkpoint RDD") {
    val cache = TrieMap.empty[Int, DataFrame]
    val v = Memo.cached(cache, 1, cap = 1) {
      spark.range(40).selectExpr("id * 3 as memo_a").localCheckpoint(true)
    }
    val rddId = v.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.id
      case p => fail(s"expected a LogicalRDD root, got ${p.nodeName}")
    }
    assert(persistedIds.contains(rddId), "the checkpoint pins no RDD")
    // a second key at cap 1 evicts the first entry
    Memo.cached(cache, 2, cap = 1)(spark.range(1).toDF("memo_b"))
    assert(!cache.contains(1))
    assert(!persistedIds.contains(rddId),
      s"evicted checkpoint RDD $rddId is still registered")
  }

  test("a race loser leaves the winner's plan-equal cache entry in place") {
    val cache = TrieMap.empty[String, DataFrame]
    // both bodies run before either insert: each thread has passed the
    // cache lookup, persisted its own plan-equal frame, and waits
    val bothBuilt = new CountDownLatch(2)
    def body: DataFrame = {
      val df = spark.range(64).selectExpr("id * 11 as memo_race")
        .persist(StorageLevel.MEMORY_AND_DISK)
      bothBuilt.countDown()
      assert(bothBuilt.await(60, TimeUnit.SECONDS), "the racing body never ran")
      df
    }
    implicit val ec: ExecutionContext = ExecutionContext.global
    val racers = Seq.fill(2)(Future(Memo.cached(cache, "k")(body)))
    val got = racers.map(Await.result(_, 2.minutes))
    val winner = cache("k")
    assert(got.forall(_ eq winner), "both callers must receive the winner")
    try assert(isCached(winner),
      "the loser's release dropped the winner's CacheManager entry")
    finally { winner.unpersist(); () }
  }

  test("withPersisted releases its frames on return and when the body throws") {
    val a = spark.range(30).selectExpr("id * 5 as memo_wa")
    val b = a.selectExpr("memo_wa + 1 as memo_wb")
    val n = Memo.withPersisted(a, b) {
      assert(isCached(a) && isCached(b))
      b.count()
    }
    assert(n == 30)
    assert(!isCached(a) && !isCached(b), "frames outlived the scope")
    val c = spark.range(30).selectExpr("id * 9 as memo_wc")
    val thrown = intercept[IllegalStateException] {
      Memo.withPersisted(c) {
        c.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(!isCached(c), "a failed body leaked its working cache")
  }

  test("a memo hit returns the same instance with one build; driver-only values pass eviction untouched") {
    val label = "memospec/hit"
    def builds = Memo.buildLog.toArray.count {
      case (l: String, _, _) => l == label
      case _ => false
    }
    val cache = TrieMap.empty[String, DataFrame]
    val b0 = builds
    val v1 = Memo.cached(cache, "k", label = label)(spark.range(3).toDF("memo_h"))
    val v2 = Memo.cached(cache, "k", label = label)(fail("a hit recomputed"))
    assert(v1 eq v2)
    assert(builds == b0 + 1)
    // a non-owning overlay over a shared persisted frame plus a
    // driver-side codebook: eviction must neither release the frame it
    // reads nor alter the codebook; an AutoCloseable value is closed
    final case class Overlay(shared: DataFrame, codebook: Array[Long])
    val shared = spark.range(20).selectExpr("id * 13 as memo_shared")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val overlays = TrieMap.empty[Int, Overlay]
      val ov = Memo.cached(overlays, 1, cap = 1)(Overlay(shared, Array(4L, 2L)))
      Memo.cached(overlays, 2, cap = 1)(Overlay(shared, Array(7L)))
      assert(!overlays.contains(1))
      assert(isCached(shared), "evicting a non-owning overlay released its frame")
      assert(ov.codebook.sameElements(Array(4L, 2L)))
    } finally { shared.unpersist(); () }
    val closed = new java.util.concurrent.atomic.AtomicInteger
    val owners = TrieMap.empty[Int, (String, Option[AutoCloseable])]
    Memo.cached(owners, 1, cap = 1)(
      ("driver", Some(new AutoCloseable { def close(): Unit = closed.incrementAndGet() })))
    Memo.cached(owners, 2, cap = 1)(("driver", None))
    assert(closed.get == 1, "an evicted AutoCloseable must be closed once")
  }

  test("dedup memos hit: second candidate/pair/KNN invocations add no persisted RDDs") {
    // first calls build (and may persist the shared tables)
    val c1 = rows(Dedup.minhashCandidates(spark, sf))
    val p1 = rows(Dedup.jaccardPairs(spark, sf))
    val k1 = rows(Similarity.knnGraph(spark, sf))
    val before = persistedIds
    val c2 = rows(Dedup.minhashCandidates(spark, sf))
    val p2 = rows(Dedup.jaccardPairs(spark, sf))
    val k2 = rows(Similarity.knnGraph(spark, sf))
    assert(persistedIds == before,
      s"second invocations persisted new RDDs: " +
        s"${(persistedIds -- before).toSeq.sorted} — a memo missed")
    assert(c1 == c2 && p1 == p2 && k1 == k2)
  }

  test("threshold-filter law: jaccardPairs(τ) == uncached direct computation at τ, for τ above the memo's 0.05") {
    // the memo path serves pairs(τ) as pairs(0.05).filter(rounded j ≥ τ);
    // the law must hold against the UNCACHED spelling for a τ where the
    // prefix pruning genuinely differs (0.5 ⇒ much shorter PPJoin
    // prefixes than 0.05)
    val d = spark.read.parquet(s"$sf/documents.parquet")
    for (tau <- Seq(0.05, 0.3, 0.5)) {
      val memoServed = rows(Dedup.jaccardPairs(spark, sf, tau))
      val direct = rows(Dedup.jaccardPairsOf(spark, d, tau))
      assert(memoServed == direct,
        s"pairs(τ=$tau) diverges between the memo-served filter and the " +
          s"direct computation: ${memoServed.size} vs ${direct.size} rows")
    }
  }

  test("keeper-table sharing: q39 and q88 values match their pre-sharing spellings") {
    // q39/q88 now project one memoized joined table; their values must
    // equal independent recomputations through the public API (which
    // hits the memo) AND stay internally consistent: every q88 pair's
    // jaccard appears identically in the unfiltered q39 view
    val j = Dedup.dedupedJaccardPairs(spark, sf, minJaccard = 0.0)
    val c = Dedup.containmentPairs(spark, sf, minContainment = 0.0)
    val jm = j.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    c.collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(jm.get(k).contains(r.getDouble(3)),
        s"pair $k: containment view jaccard ${r.getDouble(3)} != " +
          s"jaccard view ${jm.get(k)}")
    }
  }

  test("sampled-table subset laws: ff-filtered serve equals the uncached sampled build") {
    import spark.implicits._
    // make the ff entries hot so the sampled accessors take the
    // opportunistic filter-serve branch
    Dedup.minhashSignatures(spark, sf).collect()
    Dedup.minhashCandidates(spark, sf).collect()
    Dedup.jaccardPairs(spark, sf).collect()
    val d7 = sampled(spark.read.parquet(s"$sf/documents.parquet"), "7f")
    // mins: doc-subset invariance
    val minsServed = rows(Dedup.minsTable16(spark, sf, "7f"))
    val minsDirect = rows(Dedup.rowMins(Dedup.shingleRowsOf(d7), 16))
    assert(minsServed == minsDirect,
      s"mins16/7f diverges: ${minsServed.size} vs ${minsDirect.size} rows")
    // candidates: pairwise subset law
    val candServed = rows(Dedup.bandCandidates44(spark, sf, "7f"))
    val candDirect = rows(Dedup.candidatePairs(
      Dedup.bandSignatures(Dedup.shingleRowsOf(d7), 4, 4)))
    assert(candServed == candDirect,
      s"bandCandidates44/7f diverges: ${candServed.size} vs ${candDirect.size}")
    // exact pairs: pairwise subset law against the uncached spelling
    val pairServed = rows(Dedup.exactPairTable(spark, sf, "7f"))
    val pairDirect = rows(Dedup.jaccardPairsOf(spark, d7, 0.05))
    assert(pairServed == pairDirect,
      s"exactPairTable/7f diverges: ${pairServed.size} vs ${pairDirect.size}")
  }

  test("sampled-table native path (cold cache) equals the uncached sampled build") {
    import spark.implicits._
    // fresh corpus dir → fresh fingerprint → cold memos: the sampled
    // accessors must take the native build (a sampled-only 100-TB
    // workload must never trigger a full-corpus build), with the same
    // values
    val tmp = java.nio.file.Files.createTempDirectory("r14_sampled_").toString
    spark.read.parquet(s"$sf/documents.parquet").write
      .mode("overwrite").parquet(s"$tmp/documents.parquet")
    val d7 = sampled(spark.read.parquet(s"$tmp/documents.parquet"), "7f")
    val pairNative = rows(Dedup.exactPairTable(spark, tmp, "7f"))
    val pairDirect = rows(Dedup.jaccardPairsOf(spark, d7, 0.05))
    assert(pairNative == pairDirect,
      s"native exactPairTable/7f diverges: ${pairNative.size} vs ${pairDirect.size}")
    val minsNative = rows(Dedup.minsTable16(spark, tmp, "7f"))
    val minsDirect = rows(Dedup.rowMins(Dedup.shingleRowsOf(d7), 16))
    assert(minsNative == minsDirect)
  }
}
