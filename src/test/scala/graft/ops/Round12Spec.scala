package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 batch: trained IVF-PQ (q295), the memoized IVF-PQ index it
  * shares with q280, and the filtered-IVF laws (q300/q301).
  */
class Round12Spec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  /** Same fixture-pin discipline as Round11Spec: exact measured values
    * only assert on the fixture they were measured on. Hash shared via
    * [[graft.TestFixtures]].
    */
  private def assumePinnedFixture(d: String): Unit =
    assume(graft.TestFixtures.embeddingsMd5(d) ==
        graft.TestFixtures.pinnedEmbeddingsMd5,
      "embeddings fixture regenerated — exact pinned values skipped " +
        "(invariants above still gated; re-pin from the oracle run)")

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
}
