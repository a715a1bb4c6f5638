package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The vector-quantization family of `Similarity`: float k-means
  * (q234), product quantization (q269-q271, q276, q277), IVF-PQ (q280,
  * q295) and filtered ANN over the coarse cells (q300-q303), plus the
  * shared argument check and the integer Lloyd shift bound.
  */
class QuantizationSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"
  private val sf0001 = "/root/testdata/sf0.001"

  /** Exact measured values assert only on the fixture they were
    * measured on (a value-preserving fixture regeneration must skip the
    * pins rather than fail them with no code defect; the invariant
    * assertions in the same tests stay unconditional). Hash shared via
    * [[graft.TestFixtures]].
    */
  private def assumePinnedFixture(d: String): Unit =
    assume(graft.TestFixtures.embeddingsMd5(d) ==
        graft.TestFixtures.pinnedEmbeddingsMd5,
      "embeddings fixture regenerated — exact pinned values skipped " +
        "(invariants above still gated; re-pin from the oracle run)")

  test("kmeansSilhouette: per-cluster rows partition the corpus, sil in [0,1]") {
    val out = Similarity.kmeansSilhouette(spark, sf0001).collect()
    assert(out.nonEmpty)
    val n = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(out.map(_.getAs[Long]("n_members")).sum == n)
    out.foreach { r =>
      val s = r.getAs[Double]("avg_silhouette")
      assert(s >= 0.0 && s <= 1.0, s"silhouette out of range: $s")
      assert(r.getAs[Double]("avg_intra_dist") <=
        r.getAs[Double]("avg_inter_dist") + 1e-9)
    }
  }

  test("pqAdcTopK: brute-force ADC replay agrees; planted near-twin ranks first") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_adc").toString
    try {
      // 64-dim corpus: vec 0 is the query; vec 7 is a near-twin (tiny
      // perturbation); the rest are far. Seeds = md5-sampled head — with
      // 40 vecs several land in the sample, enough for a codebook
      val rnd = new scala.util.Random(7)
      def vec(seedShift: Int): Array[Float] =
        Array.tabulate(64)(i => ((i * 31 + seedShift * 17) % 13 - 6) / 3.0f)
      val rows = (0L to 39L).map { id =>
        val base =
          if (id == 7L) vec(0).zipWithIndex.map { case (v, i) =>
            v + (if (i % 16 == 0) 0.01f else 0.0f) }
          else vec(id.toInt)
        (id, base, (id % 4).toInt)
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val got = Similarity.pqAdcTopK(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
      assert(got.length == 10)
      // brute-force replay: encode every vector against the same seeds
      // (rounded-d2 argmin, min-code ties) and sum lookup-table micros
      val all = rows.map { case (id, e, _) => id -> e }.toMap
      val seedIds = rows.map(_._1)
        .filter(id => graft.TestFiles.md5Hex(id.toString).take(2) <= "19")
        .sorted.take(8)
      val seeds = seedIds.zipWithIndex.map { case (id, c) => (c, all(id)) }
      val q = all(0L)
      def sumSq(v: Seq[Float]) =
        v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      def dotD(a: Seq[Float], b: Seq[Float]) =
        a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      def d2(a: Seq[Float], b: Seq[Float]) =
        sumSq(a) - 2.0 * dotD(a, b) + sumSq(b)
      def rounded6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expect = rows.filter(_._1 != 0L).map { case (id, e, _) =>
        val adc = (0 until 4).map { b =>
          val vb = e.slice(b * 16, b * 16 + 16).toSeq
          val code = seeds
            .map { case (c, s) =>
              (rounded6(d2(vb, s.slice(b * 16, b * 16 + 16).toSeq)), c) }
            .min._2
          val qb = q.slice(b * 16, b * 16 + 16).toSeq
          math.round(d2(qb,
            seeds(code)._2.slice(b * 16, b * 16 + 16).toSeq) * 1000000.0)
        }.sum
        (id, adc)
      }.sortBy(t => (t._2, t._1)).take(10)
      assert(got.map(t => (t._1, t._2)).toSeq == expect,
        s"got ${got.mkString(", ")}\nexpect ${expect.mkString(", ")}")
      // the planted near-twin is the top hit, and its exact d2 is ~0
      assert(got.head._1 == 7L, got.mkString(", "))
      assert(got.head._3 < 0.01, s"near-twin exact_d2 ${got.head._3}")
      // q270: recall replay — exact top-10 by full-width d2, then the
      // intersection with the ADC top-10 above
      val exactTop = rows.filter(_._1 != 0L)
        .map { case (id, e, _) => (id, rounded6(d2(e.toSeq, q.toSeq))) }
        .sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
      val expOverlap = got.map(_._1).count(exactTop)
      val rec = Similarity.adcRecallAtK(spark, tmp).head()
      assert(rec.getLong(0) == 10L)
      assert(rec.getLong(1) == expOverlap.toLong,
        s"recall overlap ${rec.getLong(1)} vs replay $expOverlap")
      assert(rec.getDouble(2) == expOverlap / 10.0)
      // the near-twin guarantees at least one true hit survives ADC
      assert(rec.getLong(1) >= 1L)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("trainedPqRecall: Lloyd never increases distortion; exact-seed corpus is a fixpoint") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tpq").toString
    try {
      // clustered corpus: each vector's blocks are one of two patterns
      // plus a small id-dependent wobble — training must strictly cut
      // distortion here (the sampled seeds won't sit on the means)
      val rows = (0L to 63L).map { id =>
        val base = if (id % 2 == 0) 0.4f else -0.3f
        (id, Array.tabulate(64)(i => base + (id % 5) * 0.01f + i * 0.001f),
          (id % 3).toInt)
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val r = Similarity.trainedPqRecall(spark, tmp).collect()
        .map(x => x.getString(0) -> (x.getLong(2), x.getLong(4))).toMap
      assert(r.keySet == Set("init", "trained"))
      val (initD, trainedD) = (r("init")._2, r("trained")._2)
      assert(trainedD <= initD, s"Lloyd increased distortion: $initD -> $trainedD")
      assert(trainedD < initD, s"clustered corpus should improve: $initD -> $trainedD")
      // fixpoint: every vector IS one of the 8 md5-sampled seeds -> the
      // init codebook is optimal, distortion 0, training changes nothing
      val seedIds = (0L to 63L)
        .filter(id => graft.TestFiles.md5Hex(id.toString).take(2) <= "19")
        .sorted.take(8)
      assert(seedIds.nonEmpty, "fixture needs at least one sampled seed")
      val all = rows.map(r2 => r2._1 -> r2._2).toMap
      val fix = (0L to 63L).map(id =>
        (id, all(seedIds((id % seedIds.size).toInt)), 0))
      // seed rows must map to THEMSELVES under the sample+order recipe:
      // overwrite seed positions with their own vectors
      val fixed = fix.map { case (id, e, l) =>
        if (seedIds.contains(id)) (id, all(id), l) else (id, e, l)
      }
      fixed.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/fix/embeddings.parquet")
      val rf = Similarity.trainedPqRecall(spark, s"$tmp/fix").collect()
        .map(x => x.getString(0) -> x.getLong(4)).toMap
      assert(rf("init") == 0L && rf("trained") == 0L,
        s"exact-seed corpus must have zero distortion: $rf")
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("trainedPqRecall is unchanged by the pq_encode rewrite (q271 regression pin)") {
    assumePinnedFixture(dir)
    val out = Similarity.trainedPqRecall(spark, dir)
      .collect().map(r => (r.getString(0), (r.getLong(2), r.getLong(4)))).toMap
    // values pinned from the round-10 oracle-verified run
    assert(out("init") == ((1L, 625107575L)))
    assert(out("trained") == ((2L, 409110134L)))
  }

  test("residualPqDistortion: zero-code theorem holds; a residual-coded corpus hits zero") {
    import spark.implicits._
    // law on the real corpus: no vector gets worse, improvement in [0,1]
    val r = Similarity.residualPqDistortion(spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(3) == 0L, s"violations ${r.getLong(3)}")
    assert(r.getLong(2) <= r.getLong(1), "two-level distortion must not exceed one-level")
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    // planted corpus: every vector IS either a level-1 seed or a
    // level-2 prototype (sample ranks 9-16), so two-level distortion
    // collapses to EXACTLY zero while one-level stays positive
    val tmp = java.nio.file.Files.createTempDirectory("graft_q276").toString
    try {
      val sampled = (0L to 199L)
        .filter(id => graft.TestFiles.md5Hex(id.toString).take(2) <= "19")
      assert(sampled.size >= 16, s"fixture needs 16 sampled ids: $sampled")
      val protoIds = sampled.take(16)
      def proto(k: Int): Array[Float] =
        Array.tabulate(64)(i =>
          ((k * 13 + i * 7) % 11 - 5) * 0.05f +
            (if (k >= 8) ((k * 29 + i * 3) % 9 - 4) * 0.031f else 0f))
      val protos = protoIds.zipWithIndex.map { case (id, k) => id -> proto(k) }.toMap
      val rows = (0L to 199L).map { id =>
        val e = protos.getOrElse(id,
          proto(8 + java.lang.Math.floorMod(id, 8L).toInt))
        (id, e, 0)
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val z = Similarity.residualPqDistortion(spark, tmp).head()
      assert(z.getLong(1) > 0L, "one-level distortion should be positive")
      assert(z.getLong(2) == 0L,
        s"residual-coded corpus must quantize exactly: ${z.getLong(2)}")
      assert(z.getLong(3) == 0L && z.getLong(4) == 1000000L)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("q277 sweep: Lloyd law holds per arm; finer blocks + more codes reach recall 0.7") {
    val rows = Similarity.pqCodebookSweep(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getString(2)),
        (r.getLong(4), r.getLong(6)))).toMap
    assert(rows.size == 8, s"expected 4 configs x 2 phases, got ${rows.size}")
    // the Lloyd objective provably never increases: trained <= init in
    // EVERY arm, independent of what recall does
    for ((nb, cd) <- Seq((4L, 8L), (4L, 64L), (16L, 8L), (16L, 64L))) {
      val di = rows((nb, cd, "init"))._2
      val dt = rows((nb, cd, "trained"))._2
      assert(dt <= di, s"Lloyd violated at ($nb, $cd): trained $dt > init $di")
    }
    // more codes at fixed blocks, and finer blocks at fixed codes, both
    // strictly cut the INIT distortion on this corpus (the axis the
    // sweep exists to expose)
    assert(rows((4L, 64L, "init"))._2 < rows((4L, 8L, "init"))._2)
    assert(rows((16L, 8L, "init"))._2 < rows((4L, 8L, "init"))._2)
    assumePinnedFixture(dir)
    // the operating point: (16 blocks x 4 dims, 64 trained codes)
    // measures recall@10 = 0.7 on sf0.01 — the answer to q270/q271's
    // "recall is noise at (4, 8)". Pinned as >= so a better trajectory
    // can't fail the spec, with the exact value cross-checked by the
    // DuckDB oracle row.
    assert(rows((16L, 64L, "trained"))._1 >= 7L,
      s"operating point lost: n_overlap ${rows((16L, 64L, "trained"))._1}")
  }

  test("q280 IVF-PQ: cost curve is exact cell accounting; full probe scans everything") {
    val rows = Similarity.ivfPqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set(1L, 2L, 4L, 8L))
    // n_scanned is strictly increasing in nProbe (cells are non-empty
    // on this corpus) and the all-cells arm scans the whole corpus
    // minus the query vector
    val scans = Seq(1L, 2L, 4L, 8L).map(np => rows(np)._1)
    assert(scans == scans.sorted && scans.distinct == scans,
      s"cost curve not strictly increasing: $scans")
    // full probe scans the corpus minus the query vector — derived
    // from the fixture, not pinned (round-12 review: the literal was a
    // fixture property asserting ahead of the fixture gate)
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(scans.last == corpus - 1,
      s"full probe scanned ${scans.last}, corpus minus query is ${corpus - 1}")
    // probing more cells never loses scanned rows (supersets) — the
    // recall VALUES are oracle-gated, not asserted monotone (ADC over a
    // candidate superset can displace true positives; measured and
    // documented in BASELINE.md)
  }

  test("q295: trained curve is exact cell accounting; reaches the q277 operating point") {
    val rows = Similarity.ivfPqTrainedTopK(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getDouble(4)))).toMap
    assert(rows.keySet == Set(1L, 2L, 4L, 8L))
    // cost accounting: strictly increasing scans, full probe = corpus
    // minus the query vector (same law as q280 — cells are non-empty
    // under Lloyd training on this corpus)
    val scans = Seq(1L, 2L, 4L, 8L).map(np => rows(np)._1)
    assert(scans == scans.sorted && scans.distinct == scans,
      s"cost curve not strictly increasing: $scans")
    // derived from the fixture, not pinned — a property of the engine
    // (scan accounting), not of this corpus
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(scans.last == corpus - 1,
      s"full probe scanned ${scans.last}, corpus minus query is ${corpus - 1}")
    rows.values.foreach { case (_, rec) => assert(rec >= 0.0 && rec <= 1.0) }
    assumePinnedFixture(dir)
    // the round-11 verdict's done-criterion: the composed trained
    // recipe reaches the q277 operating point (recall@10 = 0.7) at
    // some nProbe — measured at full probe on this fixture, pinned >=
    // so a better codebook cannot fail the spec
    assert(rows.values.map(_._2).max >= 0.7,
      s"trained operating point lost: ${rows.toSeq.sortBy(_._1)}")
  }

  test("q280/q295 index memo: a second invocation returns identical rows off the cached index") {
    def runs(f: => Array[org.apache.spark.sql.Row]) = (f, f)
    def persistedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (a, b) = runs(Similarity.ivfPqTopK(spark, dir).collect())
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    // the memo must actually HIT (round-12 ADVICE: rows-equal alone
    // passes even if every call silently rebuilds): the first call has
    // persisted the (vec_id, cell, adc) index, so the second may not
    // add a single persisted RDD
    val before = persistedIds
    Similarity.ivfPqTopK(spark, dir).collect()
    assert(persistedIds == before,
      s"second ivfPqTopK invocation persisted new RDDs: " +
        s"${(persistedIds -- before).toSeq.sorted} — memo missed")
    val (c, d2) = runs(Similarity.ivfPqTrainedTopK(spark, dir).collect())
    assert(c.map(_.toString).sorted.sameElements(d2.map(_.toString).sorted))
    val before2 = persistedIds
    Similarity.ivfPqTrainedTopK(spark, dir).collect()
    assert(persistedIds == before2,
      "second ivfPqTrainedTopK invocation persisted new RDDs — memo missed")
  }

  test("q300 filtered ANN: postfilter prefix laws; prefilter dominates at lower scan cost") {
    val rows = Similarity.filteredIvfTopK(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("prefilter", "postfilter_x01",
      "postfilter_x02", "postfilter_x04", "postfilter_x08"))
    val (preScan, preHit) = rows("prefilter")
    val posts = Seq(1, 2, 4, 8).map(m => rows(f"postfilter_x$m%02d"))
    // the label survivors of a postfilter M·k cut are a PREFIX of the
    // prefilter ranking, so overlap is monotone in M and never exceeds
    // prefilter's — provable laws, not corpus facts
    assert(posts.map(_._2) == posts.map(_._2).sorted,
      s"postfilter overlap not monotone in M: ${posts.map(_._2)}")
    posts.foreach { case (_, hit) => assert(hit <= preHit,
      s"postfilter overlap $hit exceeds prefilter $preHit") }
    // cost: the prefilter scans only the label's slice of the probed
    // cells; every postfilter arm scans them label-blind
    posts.foreach { case (scan, _) => assert(preScan <= scan) }
    assert(posts.map(_._1).distinct.size == 1,
      "postfilter arms share one probed-cell scan count")
  }

  test("q301 selectivity sweep: per-set prefix laws; set-1 arm IS q300") {
    val rows = Similarity.filteredIvfSelectivitySweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(rows.size == 20, s"4 sets x 5 strategies expected, got ${rows.size}")
    for (n <- Seq(1L, 2L, 4L, 8L)) {
      val pre = rows((n, "prefilter"))
      val posts = Seq(1, 2, 4, 8).map(m => rows((n, f"postfilter_x$m%02d")))
      // the q300 prefix laws hold AT EVERY selectivity
      assert(posts.map(_._2) == posts.map(_._2).sorted,
        s"set $n: postfilter overlap not monotone: ${posts.map(_._2)}")
      posts.foreach { case (scan, hit) =>
        assert(hit <= pre._2, s"set $n: postfilter $hit > prefilter ${pre._2}")
        assert(pre._1 <= scan, s"set $n: prefilter scans more than postfilter")
      }
      // a wider predicate scans more of the probed cells
      if (n > 1L) assert(pre._1 > rows((n / 2, "prefilter"))._1)
    }
    // cross-query law: the 1-label arm IS q300 (same label, same
    // machinery), row for row modulo the n_labels column
    val q300 = Similarity.filteredIvfTopK(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    q300.foreach { case (strategy, v) =>
      assert(rows((1L, strategy)) == v,
        s"$strategy: q301 set-1 ${rows((1L, strategy))} != q300 $v")
    }
  }

  test("q302 cell-partitioned probe == q300 row for row; layout builds once") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // a layout changes the plan, never the answer — the cross-query law
    // that lets q302 share q300's oracle text
    val viaLayout = Similarity.cellPartitionedIvfTopK(spark, dir)
    assert(rows(viaLayout) == rows(Similarity.filteredIvfTopK(spark, dir)))
    assert(viaLayout.count() == 5) // prefilter + 4 postfilter arms
    // one-time build: a second invocation must ride the marker skip
    // path and not rewrite a single layout file
    val tag = Memo.artifactTag(spark, s"$dir|8", s"$dir/embeddings.parquet")
    val path = s"/tmp/graft_cell_layout/$tag"
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_graft_layout")), "layout marker missing")
    val t1 = graft.TestFiles.fileTimes(path)
    Similarity.cellPartitionedIvfTopK(spark, dir).collect()
    assert(graft.TestFiles.fileTimes(path) == t1, "layout rewritten on the warm path")
  }

  test("q302 on a corpus rewritten at the same path returns the fresh-path rows") {
    def rows(d: String): Set[String] =
      Similarity.cellPartitionedIvfTopK(spark, d).collect().map(_.toString).toSet
    def layoutOf(d: String): java.nio.file.Path = java.nio.file.Paths.get(
      "/tmp/graft_cell_layout",
      Memo.artifactTag(spark, s"$d|8", s"$d/embeddings.parquet"))
    val same = java.nio.file.Files.createTempDirectory("graft-q302-same")
    val fresh = java.nio.file.Files.createTempDirectory("graft-q302-fresh")
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val layouts = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
    try {
      e.write.parquet(s"$same/embeddings.parquet")
      rows(same.toString)
      layouts += layoutOf(same.toString)
      // the same path now holds a shorter corpus: its layout must be
      // rebuilt, not served from the first corpus' files
      val shorter = e.filter(e("vec_id") < 400L)
      shorter.write.mode("overwrite").parquet(s"$same/embeddings.parquet")
      shorter.write.parquet(s"$fresh/embeddings.parquet")
      val rewritten = rows(same.toString)
      layouts ++= Seq(layoutOf(same.toString), layoutOf(fresh.toString))
      assert(rewritten == rows(fresh.toString),
        "q302 served the stale layout of the corpus formerly at this path")
    } finally {
      (layouts :+ same :+ fresh).foreach(graft.TestFiles.rmrf)
    }
  }

  test("q303 filtered-ADC laws: prefix monotone, scan accounting, pinned operating point") {
    val rows = Similarity.filteredAdcTopK(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(rows.keySet == Set("prefilter", "postfilter_x01",
      "postfilter_x02", "postfilter_x04", "postfilter_x08"))
    rows.values.foreach { case (_, _, rec) =>
      assert(rec >= 0.0 && rec <= 1.0) }
    // postfilter arms share ONE probed frame: identical n_scanned, and
    // the M·k cuts are PREFIXES of one ADC ranking, so overlap is
    // monotone nondecreasing in M (the q300 prefix law over ADC)
    val posts = Seq(1, 2, 4, 8).map(m => rows(f"postfilter_x$m%02d"))
    assert(posts.map(_._1).distinct.size == 1,
      "postfilter arms scanned different frames")
    val overlaps = posts.map(_._2)
    assert(overlaps == overlaps.sorted,
      s"prefix law violated: overlaps $overlaps not monotone in M")
    // the prefilter scans the label-pruned slice of the same frame
    assert(rows("prefilter")._1 <= posts.head._1)
    // pinned operating point (fixture-gated): the trained ADC prefilter
    // reaches 0.7 while postfilter needs M=8 for 0.6 at 9x the scan —
    // the measured case for carrying the predicate in the index
    assume(graft.TestFixtures.embeddingsMd5(dir) ==
        graft.TestFixtures.pinnedEmbeddingsMd5,
      "embeddings fixture regenerated — pinned values skipped")
    assert(rows("prefilter")._3 == 0.7, s"prefilter moved: $rows")
    assert(rows("postfilter_x08")._3 == 0.6, s"postfilter_x08 moved: $rows")
  }

  test("q300-q303 reject bad probe arguments before running a Spark job") {
    val d = dir
    val bad: Seq[(String, () => Any)] = Seq(
      "q300 nProbe=0" -> (() => Similarity.filteredIvfTopK(spark, d, nProbe = 0)),
      "q300 nProbe>nCells" -> (() => Similarity.filteredIvfTopK(spark, d, nProbe = 9)),
      "q300 postMults descending" ->
        (() => Similarity.filteredIvfTopK(spark, d, postMults = Seq(2, 1))),
      "q300 postMults duplicate" ->
        (() => Similarity.filteredIvfTopK(spark, d, postMults = Seq(1, 1))),
      "q301 nProbe=0" ->
        (() => Similarity.filteredIvfSelectivitySweep(spark, d, nProbe = 0)),
      "q301 nProbe>nCells" ->
        (() => Similarity.filteredIvfSelectivitySweep(spark, d, nProbe = 9)),
      "q301 postMults descending" -> (() =>
        Similarity.filteredIvfSelectivitySweep(spark, d, postMults = Seq(4, 2))),
      "q301 postMults duplicate" -> (() =>
        Similarity.filteredIvfSelectivitySweep(spark, d, postMults = Seq(2, 2))),
      "q301 no label sets" -> (() =>
        Similarity.filteredIvfSelectivitySweep(spark, d, labelSets = Nil)),
      "q301 empty label set" -> (() =>
        Similarity.filteredIvfSelectivitySweep(spark, d, labelSets = Seq(Nil))),
      "q301 unsorted label set" -> (() =>
        Similarity.filteredIvfSelectivitySweep(spark, d, labelSets = Seq(Seq(7, 3)))),
      "q301 duplicate label" -> (() =>
        Similarity.filteredIvfSelectivitySweep(spark, d, labelSets = Seq(Seq(3, 3)))),
      "q302 nProbe=0" ->
        (() => Similarity.cellPartitionedIvfTopK(spark, d, nProbe = 0)),
      "q302 nProbe>nCells" ->
        (() => Similarity.cellPartitionedIvfTopK(spark, d, nProbe = 9)),
      "q302 postMults descending" ->
        (() => Similarity.cellPartitionedIvfTopK(spark, d, postMults = Seq(8, 4))),
      "q302 postMults duplicate" ->
        (() => Similarity.cellPartitionedIvfTopK(spark, d, postMults = Seq(4, 4))),
      "q303 nProbe=0" -> (() => Similarity.filteredAdcTopK(spark, d, nProbe = 0)),
      "q303 nProbe>nCells" -> (() => Similarity.filteredAdcTopK(spark, d, nProbe = 9)),
      "q303 postMults descending" ->
        (() => Similarity.filteredAdcTopK(spark, d, postMults = Seq(1, 4, 2))),
      "q303 postMults duplicate" ->
        (() => Similarity.filteredAdcTopK(spark, d, postMults = Seq(1, 2, 2))))
    bad.foreach { case (what, call) =>
      var thrown: Option[Throwable] = None
      val jobs = graft.SparkTestSession.jobsOf {
        thrown = scala.util.Try(call()).failed.toOption
      }
      assert(thrown.exists(_.isInstanceOf[IllegalArgumentException]),
        s"$what: expected IllegalArgumentException, got $thrown")
      assert(jobs == 0, s"$what ran $jobs Spark jobs before rejecting")
    }
  }

  test("q271 and q295 refuse a component below the Lloyd shift bound") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_shift").toString
    try {
      // one component at -5.0 (e6: -5e6) in a non-query vector: the
      // shifted floor division's -4.0 bound no longer holds
      val rows = (0L to 63L).map { id =>
        val v = Array.tabulate(64)(i => ((id * 7 + i * 3) % 11 - 5) * 0.1f)
        if (id == 5L) v(0) = -5.0f
        (id, v, (id % 3).toInt)
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val runs: Seq[(String, () => Any)] = Seq(
        "q271" -> (() => Similarity.trainedPqRecall(spark, tmp).collect()),
        "q295" -> (() => Similarity.ivfPqTrainedTopK(spark, tmp).collect()))
      runs.foreach { case (what, run) =>
        val err = intercept[IllegalArgumentException](run())
        assert(err.getMessage.contains("-4.0 shift bound"),
          s"$what: ${err.getMessage}")
      }
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }
}
