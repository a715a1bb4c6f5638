package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-8 batch 3: margin-based alignment mining, kNN-distance
  * outliers, bloom-prefiltered decontamination.
  */
class Round8cSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def e6(cos: Double): Long =
    BigDecimal(cos * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Brute-force replay of the SRP machinery straight off the parquet
    * floats: bucket = Σ (dot(v, plane_pid) >= 0) << pid over the
    * vec_id < nPlanes head vectors, left-to-right double folds like
    * VecDot/VecNorm.
    */
  private def loadBucketed(nPlanes: Int): Seq[(Long, Array[Double], Double, Long)] = {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val planes = rows.filter(_._1 < nPlanes)
    rows.toSeq.map { case (id, v) =>
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      val bucket = planes.foldLeft(0L) { case (acc, (pid, pe)) =>
        val d = v.indices.foldLeft(0.0)((a, i) => a + v(i) * pe(i))
        if (d >= 0) acc | (1L << pid.toInt) else acc
      }
      (id, v, nrm, bucket)
    }
  }

  private def cosOf(a: (Long, Array[Double], Double, Long),
      b: (Long, Array[Double], Double, Long)): Double =
    round6(a._2.indices.foldLeft(0.0)((acc, i) => acc + a._2(i) * b._2(i)) /
      (a._3 * b._3))

  test("knnOutliers: exact e6 replay of the knn graph, isolated surfacing") {
    val knn = Similarity.knnGraph(spark, sf, 8, 3).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val perVec = knn.groupBy(_._1).map { case (id, rs) =>
      val d6 = rs.map(r => 1000000L - e6(r._2))
      id -> (rs.length.toLong, d6.sum / d6.length)
    }
    val scores = perVec.values.map(_._2).toSeq
    val mean = if (scores.isEmpty) None else Some(scores.sum / scores.length)
    val out = Similarity.knnOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3),
        r.getBoolean(4))).sortBy(_._1)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.length == total, "every vector must be emitted")
    out.foreach { case (id, n, score, isolated, flag) =>
      perVec.get(id) match {
        case Some((en, escore)) =>
          assert(n == en && score.contains(escore), s"score drifted for $id")
          assert(!isolated)
          assert(flag == mean.exists(m => escore > m * 2),
            s"flag drifted for $id: score=$escore mean=$mean")
        case None =>
          assert(n == 0L && score.isEmpty && isolated && flag,
            s"isolated vector $id mishandled")
      }
    }
    // a vector alone in every bucket: null score, isolated, flagged
    import spark.implicits._
    val dir = "/tmp/graft_knn_outlier_spec"
    Seq((0L, Seq(1.0f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val solo = Similarity.knnOutliers(spark, dir).collect()
    assert(solo.length == 1 && solo.head.isNullAt(2) &&
      solo.head.getBoolean(3) && solo.head.getBoolean(4))
  }

  test("marginAlignment: brute-force integer replay and mutual-argmax law") {
    val bucketed = loadBucketed(8)
    def isTrain(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      f"${md(0) & 0xff}%02x" <= "7f"
    }
    val xs = bucketed.filter(t => isTrain(t._1))
    val ys = bucketed.filter(t => !isTrain(t._1))
    val cand = for {
      x <- xs; y <- ys; if x._4 == y._4
    } yield (x._1, y._1, cosOf(x, y))
    val c6 = cand.map { case (x, y, c) => (x, y, e6(c)) }
    def sideAvg(byKey: Long => Seq[(Long, Long, Long)],
        keys: Seq[Long], other: ((Long, Long, Long)) => Long): Map[Long, Long] =
      keys.map { k =>
        val top = byKey(k).sortBy(t => (-t._3, other(t))).take(3).map(_._3)
        k -> ((top.map(_ + 1000000L).sum / top.length) - 1000000L)
      }.toMap
    val ax = sideAvg(k => c6.filter(_._1 == k), c6.map(_._1).distinct, _._2)
    val ay = sideAvg(k => c6.filter(_._2 == k), c6.map(_._2).distinct, _._1)
    val margins = c6.flatMap { case (x, y, c) =>
      val denom = ax(x) + ay(y)
      if (denom > 0 && c >= 0) Some((x, y, c * 2000000L / denom)) else None
    }
    val bestX = margins.groupBy(_._1).map { case (x, ms) =>
      x -> ms.minBy(m => (-m._3, m._2)) }
    val bestY = margins.groupBy(_._2).map { case (y, ms) =>
      y -> ms.minBy(m => (-m._3, m._1)) }
    val expect = margins.filter(m =>
      bestX(m._1) == m && bestY(m._2) == m)
      .map(m => (m._1, m._2, m._3)).sortBy(t => (t._1, t._2))
    val got = Similarity.marginAlignment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.nonEmpty, "sf0.001 must produce at least one mutual match")
    assert(got == expect, s"mutual-margin set drifted:\n got=$got\n exp=$expect")
    // mutual-argmax law, straight from the output: each x and each y
    // appears at most once
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.map(_._2).distinct.length == got.length)
  }

  test("BloomFilter: no false negatives, deterministic build, merge=OR") {
    import spark.implicits._
    import graft.functions.BloomFilter
    val mBits = 1 << 12
    val keys = (1L to 100L).toDF("gh")
    val bm = keys
      .select(explode(BloomFilter.positionsOf($"gh", mBits, 4)).as("p"))
      .agg(BloomFilter.bloomBuild(mBits)($"p").as("bm"))
    // every inserted key passes (no false negatives, ever)
    val hits = keys
      .withColumn("ps", BloomFilter.positionsOf($"gh", mBits, 4))
      .crossJoin(broadcast(bm))
      .filter(BloomFilter.mightContain($"bm", $"ps", 4))
      .count()
    assert(hits == 100L, s"false negatives: only $hits/100 passed")
    // build is partition-independent: 1-partition and 8-partition
    // builds produce the identical bitmap
    val bm1 = keys.repartition(1)
      .select(explode(BloomFilter.positionsOf($"gh", mBits, 4)).as("p"))
      .agg(BloomFilter.bloomBuild(mBits)($"p").as("bm"))
      .collect().head.getSeq[Long](0)
    val bm8 = keys.repartition(8)
      .select(explode(BloomFilter.positionsOf($"gh", mBits, 4)).as("p"))
      .agg(BloomFilter.bloomBuild(mBits)($"p").as("bm"))
      .collect().head.getSeq[Long](0)
    assert(bm1 == bm8, "bitmap depends on partitioning")
    // the bitmap is exactly the OR of the per-key position sets
    val posRows = keys
      .select($"gh", BloomFilter.positionsOf($"gh", mBits, 4).as("ps"))
      .collect().map(_.getSeq[Int](1))
    val model = new Array[Long](mBits / 64)
    posRows.flatten.foreach(p => model(p >>> 6) |= 1L << (p & 63))
    assert(bm1 == model.toSeq, "bitmap drifted from the set-bit model")
    // setBit unit model
    val b = graft.functions.BloomFilter.setBit(new Array[Long](2), 65)
    assert(b(1) == 2L && b(0) == 0L)
  }

  test("distinctNgramDiversity: hand fixture with planted repetition") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dn").toString
    try {
      Seq(
        (1L, "a b a b", "en", "s1", 7L),    // 4 unigrams/3 types; 3 bigrams/2; 2 trigrams/2
        (2L, "a", "en", "s1", 1L),          // 1 unigram, no bi/tri
        (3L, null.asInstanceOf[String], "en", "s1", 0L), // nothing
        (4L, "x y z", "en", "s2", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val m = TextAnalysis.distinctNgramDiversity(spark, tmp).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(m(("s1", 1L)) == (5L, 2L))  // 5 tokens, types {a, b}
      assert(m(("s1", 2L)) == (3L, 2L))  // "a b","b a","a b"
      assert(m(("s1", 3L)) == (2L, 2L))  // "a b a","b a b"
      assert(m(("s2", 1L)) == (3L, 3L))
      assert(m(("s2", 2L)) == (2L, 2L))
      assert(m(("s2", 3L)) == (1L, 1L))
      assert(!m.contains(("s1", 4L)))
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("BloomFilter: precomputed-positions probe and inline-key probe agree everywhere") {
    import spark.implicits._
    import graft.functions.BloomFilter
    val mBits = 1 << 12
    val bm = (1L to 64L).toDF("gh")
      .select(explode(BloomFilter.positionsOf($"gh", mBits, 4)).as("p"))
      .agg(BloomFilter.bloomBuild(mBits)($"p").as("bm"))
    // probe a wide key range BOTH ways: members and non-members must get
    // the identical verdict from mightContain (positions column) and
    // mightContainKey (inline, the HOF-lambda form used by the
    // streaming tripwire) — they share positionsOf, this pins it
    val probes = (1L to 2000L).toDF("gh")
      .withColumn("ps", BloomFilter.positionsOf($"gh", mBits, 4))
      .crossJoin(broadcast(bm))
      .select($"gh",
        BloomFilter.mightContain($"bm", $"ps", 4).as("via_positions"),
        BloomFilter.mightContainKey($"bm", $"gh", mBits, 4).as("via_key"))
      .collect()
    assert(probes.length == 2000)
    probes.foreach { r =>
      assert(r.getBoolean(1) == r.getBoolean(2),
        s"probe forms disagree on key ${r.getLong(0)}")
    }
    assert(probes.count(_.getBoolean(1)) >= 64, "members must all pass")
  }

  test("decontaminationBloom: bit-identical to the exact op; the bloom cuts probes") {
    val exact = TextAnalysis.decontaminationHashed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1).toSeq
    val bloom = TextAnalysis.decontaminationBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1).toSeq
    assert(bloom == exact, "bloom prefilter changed the answer")
    // sandwich: exact members ≤ bloom passes ≤ probed grams — and on a
    // half-split corpus the bloom must actually reject something
    val (probed, pass, exactHits) = TextAnalysis.bloomPrefilterCounts(spark, sf)
    assert(exactHits <= pass, "false negatives in the prefilter")
    assert(pass <= probed)
    assert(pass < probed, "prefilter rejected nothing — bloom is a no-op")
  }
}
