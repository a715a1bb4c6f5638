package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Graph routing over the shared banded-SRP edge index: the greedy and
  * beam descents (q293/q294), their wide md5-sampled tables
  * (q296/q297), the entry-strategy and ANN-family tables (q304/q305),
  * the durable route-edge artifact (q298/q299) and the index guards.
  */
class RoutingSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"
  private val sf = "/root/testdata/sf0.001"

  /** Exact pinned curves assert only on the fixture they were measured
    * on: a value-preserving fixture regeneration skips the pins rather
    * than failing them with no code defect, while the invariant
    * assertions in the same tests stay unconditional.
    */
  private def assumePinnedFixture(d: String): Unit =
    assume(graft.TestFixtures.embeddingsMd5(d) ==
        graft.TestFixtures.pinnedEmbeddingsMd5,
      "embeddings fixture regenerated — exact pinned curves skipped " +
        "(invariants above still gated; re-pin from the oracle run)")

  test("q293: routing never beats exact, hit iff landed on the NN, curve pinned") {
    val rows = Similarity.graphRouteAnn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 16, s"4 arms x 4 queries expected, got ${rows.length}")
    rows.foreach { r =>
      val (rd2, hops, rid, eid, ed2, hit) = (r.getLong(3), r.getLong(4),
        r.getLong(2), r.getLong(5), r.getLong(6), r.getBoolean(7))
      // greedy descent can stall but can never rank below the true NN
      assert(rd2 >= ed2, s"routed_d2 $rd2 < exact_d2 $ed2")
      assert(hops <= 6L)
      assert(hit == (rid == eid))
      if (hit) assert(rd2 == ed2)
    }
    // the measured operating curve on sf0.01 (oracle-verified): greedy
    // beam-1 stalls at low out-degree, k_out buys hit rate
    assumePinnedFixture("/root/testdata/sf0.01")
    val hitsByK = rows.groupBy(_.getLong(0))
      .view.mapValues(_.count(_.getBoolean(7))).toMap
    assert(hitsByK == Map(4L -> 0, 8L -> 0, 16L -> 2, 32L -> 3),
      s"operating curve moved: $hitsByK")
  }

  test("q294: beam-1 IS q293's greedy arm at the same out-degree; beams pinned") {
    val beam = Similarity.beamRouteAnn(spark, "/root/testdata/sf0.01").collect()
    assert(beam.length == 16, s"4 beams x 4 queries expected, got ${beam.length}")
    // the cross-query law: beam width 1 at k_out=16 must reproduce
    // q293's k_out=16 greedy arm row for row
    val greedy16 = Similarity.graphRouteAnn(spark, "/root/testdata/sf0.01")
      .collect().filter(_.getLong(0) == 16L)
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    val b1 = beam.filter(_.getLong(0) == 1L)
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(b1 == greedy16, s"beam-1 $b1 diverged from greedy $greedy16")
    // the frontier keeps its own members as candidates, so the landed
    // distance can never rank below the true NN
    beam.foreach(r => assert(r.getLong(3) >= r.getLong(5)))
    assumePinnedFixture("/root/testdata/sf0.01")
    val hitsByB = beam.groupBy(_.getLong(0))
      .view.mapValues(_.count(_.getBoolean(6))).toMap
    assert(hitsByB == Map(1L -> 2, 2L -> 2, 4L -> 3, 8L -> 3),
      s"beam operating curve moved: $hitsByB")
  }

  test("q296/q297 wide tables: band laws hold; beam-1 aggregates the greedy k=16 arm") {
    val wide = Similarity.graphRouteAnnWide(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(wide.keySet == Set(4L, 8L, 16L, 32L))
    wide.values.foreach { case (n, h, p, lo, hi) =>
      assert(h >= 0L && h <= n)
      assert(lo <= p && p <= hi, s"Wilson band ($lo, $hi) excludes $p")
      assert(lo >= 0.0 && hi <= 1.0)
    }
    val beamWide = Similarity.beamRouteAnnWide(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(beamWide.keySet == Set(1L, 2L, 4L, 8L))
    // the cross-query law in aggregate: beam-1 at k_out=16 IS the
    // greedy k_out=16 arm, so their (n_queries, n_hits) must agree
    assert(beamWide(1L) == ((wide(16L)._1, wide(16L)._2)),
      s"beam-1 ${beamWide(1L)} != greedy k16 ${(wide(16L)._1, wide(16L)._2)}")
  }

  test("routing index refuses a sub-nPlanes corpus (constant-0 band hazard)") {
    // a corpus with fewer head vectors than nPlanes: bandSignatureCols
    // would emit constant-0 signatures for the plane-less bands (every
    // rep collides) while the oracle's GROUP BY over existing planes
    // emits no rows for them — the engine must degrade to empty, not
    // route over a graph the oracle can't replay
    val spark2 = spark
    import spark2.implicits._
    val tinyPath = java.nio.file.Files.createTempDirectory("graft_tiny_")
    try {
      val tiny = tinyPath.toString
      val vecs = (0L until 8L).map(i =>
        (i, Array.fill(64)(i.toFloat / 10f + 0.1f), 0))
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tiny/embeddings.parquet")
      val out = Similarity.graphRouteAnn(spark, tiny,
        nPlanes = 16, nBands = 4, queryIds = Seq(3L), entryId = 0L)
      assert(out.isEmpty, "sub-nPlanes corpus must yield the empty result")
      val beam = Similarity.beamRouteAnn(spark, tiny,
        nPlanes = 16, nBands = 4, queryIds = Seq(3L), entryId = 0L)
      assert(beam.isEmpty)
    } finally graft.TestFiles.rmrf(tinyPath)
  }

  test("route-edge artifact: a fresh catalog re-registers the on-disk build, no rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-durable-edges")
    try {
      spark.read.parquet(s"$sf/embeddings.parquet")
        .write.parquet(tmp.resolve("embeddings.parquet").toString)
      val dir = tmp.toString
      val (tbl, path) = Similarity.routeEdgeArtifact(spark, dir, 16, 4)
      def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
        df.select("src", "dst", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // cold build: pays the banded build and lands the artifact on disk
      val r1 = edges(Similarity.routeEdgeTable(spark, dir, 16, 4))
      assert(r1.nonEmpty)
      assert(spark.catalog.tableExists(tbl), s"artifact table $tbl missing")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_SUCCESS")), "artifact _SUCCESS missing")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "_graft_layout")), "layout marker missing")
      val t1 = graft.TestFiles.fileTimes(path)
      // simulate a fresh session: memo evicted, catalog emptied — the
      // files survive, so the next build must take the marker-checked
      // DDL re-registration path and NOT rewrite a byte
      Similarity.evictEdgeIndexes()
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      val r2 = edges(Similarity.routeEdgeTable(spark, dir, 16, 4))
      assert(r2 == r1, s"re-registered artifact drifted: ${r2.size} vs ${r1.size}")
      assert(graft.TestFiles.fileTimes(path) == t1,
        "artifact files were rewritten on the warm-start path")
      assert(spark.catalog.tableExists(tbl))
      // the artifact IS the index every routing query reads: the wide
      // table over the re-registered artifact still routes
      val wide = Similarity.graphRouteAnnWide(spark, dir).collect()
      assert(wide.nonEmpty)
    } finally {
      val (tbl, path) = Similarity.routeEdgeArtifact(spark, tmp.toString, 16, 4)
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      graft.TestFiles.rmrf(java.nio.file.Paths.get(path))
      Similarity.evictEdgeIndexes()
      graft.TestFiles.rmrf(tmp)
    }
  }

  test("q304 entry compare: fixed slice IS q296; band laws; per-strategy drops") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.graphRouteEntryCompare(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(rows.keySet ==
      (for (s <- Seq("fixed", "cell"); k <- Seq(4L, 8L, 16L, 32L))
        yield (s, k)).toSet)
    rows.values.foreach { case (n, h, p, lo, hi) =>
      assert(h >= 0L && h <= n)
      assert(lo <= p && p <= hi, s"Wilson band ($lo, $hi) excludes $p")
    }
    // the fixed strategy is EXACTLY q296 (same query table, same
    // descent, same aggregate text) — the cross-query law that anchors
    // the comparison to the committed baseline
    val q296 = Similarity.graphRouteAnnWide(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    for ((k, v) <- q296) assert(rows(("fixed", k)) == v,
      s"fixed arm k=$k drifted from q296: ${rows(("fixed", k))} vs $v")
    // the cell arm drops queries whose rep IS their cell's entry — its
    // population can only shrink relative to the shared sample
    for (k <- Seq(4L, 8L, 16L, 32L))
      assert(rows(("cell", k))._1 <= rows(("fixed", k))._1)
  }

  test("q305 family table: accounting laws; graph row IS q296's k16 arm; pinned points") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.annFamilyTable(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getLong(6), r.getDouble(7))).toMap
    assert(rows.keySet == Set("exact", "srp_bucket", "ivf_p4", "pq_adc",
      "ivf_pq_p4", "graph_greedy_k16"))
    // one shared query population
    assert(rows.values.map(_._1).toSet.size == 1)
    val nQ = rows("exact")._1
    // the baseline row is exact by definition
    assert(rows("exact")._4 == 1.0 && rows("exact")._5 == nQ)
    // every family's recall and hits are bounded by the baseline's
    rows.values.foreach { case (_, _, _, rec, hits, _) =>
      assert(rec >= 0.0 && rec <= 1.0); assert(hits >= 0L && hits <= nQ) }
    // scan accounting: pq_adc is exhaustive (scans what exact scans);
    // ivf_pq ranks EXACTLY the ivf candidate set
    assert(rows("pq_adc")._2 == rows("exact")._2)
    assert(rows("ivf_pq_p4")._2 == rows("ivf_p4")._2)
    // the graph family is a 1-NN machine: recall is bounded by 1/k by
    // construction, and its hit count IS q296's k_out=16 arm (same
    // descent, same query table — the cross-query law)
    assert(rows("graph_greedy_k16")._4 <= 1.0 / 10 + 1e-9)
    val q296k16 = Similarity.graphRouteAnnWide(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap.apply(16L)
    assert(rows("graph_greedy_k16")._5 == q296k16,
      s"graph family hits ${rows("graph_greedy_k16")._5} != q296 $q296k16")
    // the eval-tier guard refuses an exact-truth arm past the pair
    // budget and names the sampled recipe (the q186 discipline)
    val e = intercept[IllegalArgumentException] {
      Similarity.annFamilyTable(spark, dir, maxEvalPairs = 10L)
    }
    assert(e.getMessage.contains("eval-tier") &&
      e.getMessage.contains("RouteWideHexMax"), e.getMessage)
    assume(graft.TestFixtures.embeddingsMd5(dir) ==
        graft.TestFixtures.pinnedEmbeddingsMd5,
      "embeddings fixture regenerated — pinned values skipped")
    // the freeze-the-index readout on the pinned fixture: IVF-p4 buys
    // 0.71 recall at half the exact scan; the LSH buckets 0.40 at ~23%;
    // the untrained 8-code PQ rankings sit near 0.11 (the q277 lesson)
    assert(rows("ivf_p4")._4 == 0.711905, s"ivf moved: $rows")
    assert(rows("srp_bucket")._4 == 0.402381, s"srp moved: $rows")
  }

  test("route-edge artifact: the durable table equals the maintained fold (q298 ≡ q299)") {
    // the on-disk artifact is exactly the frame the incremental
    // maintainer reproduces — cross-gate the two paths on the shared
    // fixture (both already oracle-gated individually)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("src", "dst", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = rows(Similarity.routeEdgeTable(spark, sf))
    val folded = rows(graft.streaming.VecStreams.foldRouteEdges(spark, sf))
    assert(oneShot == folded)
    assert(oneShot.nonEmpty)
  }

  test("q293 routes a batch past 64 queries: laws hold, the default ids' rows are unchanged") {
    // 65 ids, one past the cap the retired driver-side engine refused:
    // the queries ride as a joined table, so the batch size is free
    val ids = (1L to 65L).toSet
    val rows = Similarity.graphRouteAnn(spark, dir, queryIds = ids.toSeq)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rd2, hops, rid, eid, ed2, hit) = (r.getLong(3), r.getLong(4),
        r.getLong(2), r.getLong(5), r.getLong(6), r.getBoolean(7))
      assert(ids.contains(r.getLong(1)))
      assert(rd2 >= ed2, s"routed_d2 $rd2 < exact_d2 $ed2")
      assert(hit == (rid == eid))
      assert(hops <= 6L)
    }
    // one row per (arm, query), every arm over the same queries
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
    val byArm = keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byArm.keySet == Set(4L, 8L, 16L, 32L))
    assert(byArm.values.toSet.size == 1)
    // each query routes independently: the default ids' rows are the
    // default call's rows
    val defaults = Set(7L, 13L, 29L, 42L)
    assert(rows.filter(r => defaults.contains(r.getLong(1)))
        .map(_.toString).toSet ==
      Similarity.graphRouteAnn(spark, dir).collect().map(_.toString).toSet)
    assumePinnedFixture(dir)
    assert(byArm(16L) == ids, s"queries dropped: ${ids -- byArm(16L)}")
  }

  test("routing runs a fixed job count per call and per hop (edge index warm)") {
    // Each hop's state is a LAZY local checkpoint: no hop pays a
    // standalone count job. Under AQE, creating the checkpoint still
    // runs the hop's own shuffle stages, one job each, so a call costs
    // setup + perHop · maxHops jobs. Both figures are the counts this
    // fixture measured; an eager per-hop checkpoint adds a job per hop,
    // and a lost lineage cut re-runs earlier hops, either breaking the
    // per-hop pin.
    Similarity.graphRouteAnn(spark, dir).collect()
    Similarity.beamRouteAnn(spark, dir).collect()
    val calls = Seq[(String, Int, Int, Int => DataFrame)](
      ("graphRouteAnn", 11, 5,
        h => Similarity.graphRouteAnn(spark, dir, maxHops = h)),
      ("beamRouteAnn", 12, 7,
        h => Similarity.beamRouteAnn(spark, dir, maxHops = h)))
    calls.foreach { case (name, setup, perHop, run) =>
      for (h <- Seq(1, 4)) {
        val n = graft.SparkTestSession.jobsOf(run(h).collect())
        info(s"$name maxHops=$h: $n jobs")
        assert(n == setup + perHop * h,
          s"$name maxHops=$h: $n jobs, expected $setup + $perHop per hop")
      }
    }
  }
}
