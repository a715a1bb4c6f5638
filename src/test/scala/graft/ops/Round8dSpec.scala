package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-8 batch 4: Wasserstein quantile-lattice drift, retrieval
  * nDCG@k, matryoshka truncation audit.
  */
class Round8dSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("wassersteinDrift: brute-force rank-exact lattice replay") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val grid = 20
    def quantiles(vs: Seq[(Long, Long)]): Map[Long, Long] = {
      // vs = (doc_id, v) sorted by (v, doc_id); rank g -> value
      val sorted = vs.sortBy(t => (t._2, t._1)).map(_._2)
      val n = sorted.length.toLong
      (1L to grid).map(g => g -> sorted(((g * n + grid - 1) / grid - 1).toInt))
        .toMap
    }
    val corQ = quantiles(rows.map(t => (t._2, t._3)).toSeq)
    val expect = rows.groupBy(_._1).map { case (src, rs) =>
      val sq = quantiles(rs.map(t => (t._2, t._3)).toSeq)
      val gaps = (1L to grid).map(g => math.abs(sq(g) - corQ(g)))
      (src, (rs.length.toLong, gaps.sum / grid, gaps.max))
    }
    val got = PipelinePrep.wassersteinDrift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (src, e) =>
      assert(got(src) == e, s"drift drifted for $src: got ${got(src)} want $e")
    }
    // w1 is an average of gaps, so it can never exceed the max gap
    got.values.foreach { case (_, w1, mx) => assert(w1 <= mx && w1 >= 0) }
  }

  test("ndcgAtK: brute-force dcg/idcg replay; ndcg bounded") {
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
      .sortBy(_._1)
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val k = 10
    val expect = all.filter(_._1 < 4).map { case (qid, qv, qlabel) =>
      val qn = math.sqrt(qv.foldLeft(0.0)((a, x) => a + x * x))
      val scored = all.filter(_._1 != qid).map { case (id, v, lbl) =>
        val d = v.indices.foldLeft(0.0)((a, i) => a + v(i) * qv(i))
        val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
        (id, lbl == qlabel, round6(d / (n * qn)))
      }
      val top = scored.sortBy(t => (-t._3, t._1)).take(k)
      val relAtK = top.count(_._2).toLong
      val dcg = round6(top.zipWithIndex.foldLeft(0.0) { case (acc, (t, i)) =>
        acc + (if (t._2) 1.0 / log2(i + 2.0) else 0.0)
      })
      val nRel = scored.count(_._2).toLong
      val idcg = if (nRel > 0)
        round6((1L to math.min(k.toLong, nRel)).foldLeft(0.0)(
          (acc, i) => acc + 1.0 / log2(i + 1.0)))
      else 0.0
      val ndcg = if (idcg > 0) round6(dcg / idcg) else 0.0
      qid -> (relAtK, nRel, dcg, idcg, ndcg)
    }.toMap
    val got = Similarity.ndcgAtK(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    expect.foreach { case (q, e) =>
      assert(got(q) == e, s"ndcg drifted for query $q: got ${got(q)} want $e")
    }
    got.values.foreach { case (_, _, _, _, nd) =>
      assert(nd >= 0.0 && nd <= 1.0 + 1e-9)
    }
  }

  test("cdcChunkStats: chunks reassemble the text; boundary law; dup ratio sane") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    try {
      // two docs sharing a long middle span (CDC should harvest shared
      // chunks), one short doc below the window, one null. The span is
      // varied (20 distinct words ×3) so the gear hash lands interior
      // mod-32 cuts — a low-diversity span ("fox jumps" ×6 had only 44
      // distinct windows) can legitimately contain zero cut windows
      val shared = ("alpha bravo charlie delta echo foxtrot golf hotel " +
        "india juliet kilo lima mike november oscar papa quebec romeo " +
        "sierra tango") * 3
      Seq(
        (1L, "prefix one " + shared + " suffix alpha", "en", "s1", 0L),
        (2L, "other start " + shared + " ending beta", "en", "s1", 0L),
        (3L, "tiny", "en", "s1", 0L),
        (4L, null.asInstanceOf[String], "en", "s1", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = PipelinePrep.cdcChunkStats(spark, tmp).collect()
      assert(out.length == 1)
      val r = out.head
      val (nDocs, nChunks, nDistinct, avgLen, dup) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))
      assert(nDocs == 2, "short and null docs must be excluded")
      assert(nDistinct < nChunks,
        "the planted shared span produced no duplicate chunks")
      assert(dup > 0.0 && dup < 1.0)
      // chunk lengths must reassemble each doc exactly: total length ==
      // sum of the two chunked docs' lengths
      val totalLen = avgLen * nChunks // floor-div average: check via raw
      val docLens = Seq("prefix one " + shared + " suffix alpha",
        "other start " + shared + " ending beta").map(_.length.toLong).sum
      // avg_chunk_len is floor(total/n): reconstruct bounds
      assert(totalLen <= docLens && docLens < totalLen + nChunks,
        s"chunk mass broken: avg=$avgLen n=$nChunks docs=$docLens")
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("cdcModulusSweep: nested cut sets — modulus 32 rows equal cdcChunkStats") {
    val sweep = PipelinePrep.cdcModulusSweep(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // the m=32 slice must equal the single-modulus operator exactly
    val single = PipelinePrep.cdcChunkStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(single.nonEmpty)
    single.foreach { case (src, s) =>
      assert(sweep((src, 32L)) == s, s"m=32 sweep row drifted for $src")
    }
    // nesting law: larger modulus ⇒ fewer (or equal) cuts ⇒ fewer
    // chunks and a longer (or equal) average chunk
    sweep.keys.map(_._1).toSeq.distinct.foreach { src =>
      val n16 = sweep((src, 16L))._1
      val n32 = sweep((src, 32L))._1
      val n64 = sweep((src, 64L))._1
      assert(n16 >= n32 && n32 >= n64,
        s"cut nesting violated for $src: $n16/$n32/$n64")
      assert(sweep((src, 16L))._3 <= sweep((src, 32L))._3 &&
        sweep((src, 32L))._3 <= sweep((src, 64L))._3)
    }
  }

  test("labelNoiseScreen: brute-force vote replay; flag polarity") {
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val knn = Similarity.knnGraph(spark, sf, 8, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byVec = knn.groupBy(_._1)
      .map { case (v, es) => v -> es.map(e => labels(e._2)) }
    val got = Similarity.labelNoiseScreen(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)), r.getBoolean(5)))
      .sortBy(_._1)
    assert(got.length == labels.size)
    got.foreach { case (id, lbl, nN, nAgree, voted, suspect) =>
      assert(lbl == labels(id))
      byVec.get(id) match {
        case None =>
          assert(nN == 0 && nAgree == 0 && voted.isEmpty && !suspect)
        case Some(ns) =>
          assert(nN == ns.length.toLong)
          assert(nAgree == ns.count(_ == lbl).toLong)
          val vote = ns.groupBy(identity).map { case (l, g) => (l, g.length) }
            .toSeq.minBy { case (l, c) => (-c, l) }
          assert(voted.contains(vote._1), s"vote drifted for $id")
          val expectSuspect = nAgree == 0 && vote._2 == ns.length
          assert(suspect == expectSuspect, s"flag drifted for $id")
      }
    }
    // sanity: SOME vector has full agreement (clusters exist), and the
    // flag never fires on a vector that agrees with any neighbor
    assert(got.exists(t => t._4 > 0))
    got.filter(_._6).foreach(t => assert(t._4 == 0))
  }

  test("matryoshkaAudit: brute-force sliced-cosine replay over the knn edges") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2))).toMap
    def cosPrefix(a: Array[Double], b: Array[Double], frac: Int): Long = {
      val m = a.length / frac
      val d = (0 until m).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val na = math.sqrt((0 until m).foldLeft(0.0)((acc, i) => acc + a(i) * a(i)))
      val nb = math.sqrt((0 until m).foldLeft(0.0)((acc, i) => acc + b(i) * b(i)))
      BigDecimal(round6(d / (na * nb)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val edges = Similarity.knnGraph(spark, sf, 8, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = edges.map { case (u, v, c) =>
      val (ua, lbl) = vecs(u)
      val (va, _) = vecs(v)
      val c6 = BigDecimal(c * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (lbl, c6, cosPrefix(ua, va, 2), cosPrefix(ua, va, 4))
    }.groupBy(_._1).map { case (lbl, rs) =>
      lbl -> (rs.length.toLong,
        rs.map(r => math.abs(r._2 - r._3)).sum / rs.length,
        rs.map(r => math.abs(r._2 - r._4)).sum / rs.length,
        rs.count(r => (r._2 >= 0) != (r._3 >= 0)).toLong,
        rs.count(r => (r._2 >= 0) != (r._4 >= 0)).toLong)
    }
    val got = Similarity.matryoshkaAudit(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == expect.keySet && got.nonEmpty)
    expect.foreach { case (lbl, e) =>
      assert(got(lbl) == e, s"audit drifted for label $lbl: got ${got(lbl)} want $e")
    }
  }
}
