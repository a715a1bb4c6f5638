package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Round-10 hardening batch: the spectral driver-size guard, the
  * fingerprinted memo caches, the empty-embedding n_vecs contract, and
  * the empty-sample multimodal law.
  */
class Round10Spec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  test("labelSpectralEnergy: the labels-times-d-squared budget trips loudly, not OOM") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lse_guard").toString
    try {
      // 3 labels x d=4 -> 48 cells; a budget of 47 must refuse BEFORE
      // the driver collect
      (1L to 9L).map(id => (id, Array(1.0f, 0.5f, 0.25f, 0.1f), (id % 3).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val e = intercept[IllegalArgumentException] {
        Similarity.labelSpectralEnergy(spark, tmp, maxDriverCells = 47L).collect()
      }
      assert(e.getMessage.contains("48") && e.getMessage.contains("47"),
        e.getMessage)
      // at the documented bound the same corpus computes fine
      assert(Similarity.labelSpectralEnergy(spark, tmp, maxDriverCells = 48L)
        .count() == 3L)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("spectral memo: rewriting the corpus at the same path recomputes (fingerprint key)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_memo_fp").toString
    try {
      (1L to 6L).map(id => (id, Array(0.0f, 3.0f, 0.0f, 0.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val axis1 = Similarity.topEigenvector(spark, tmp).collect()
        .maxBy(r => math.abs(r.getLong(1))).getLong(0)
      assert(axis1 == 2L)
      // overwrite IN PLACE with energy on a different axis: the old
      // contract served the stale dim-2 answer; the fingerprinted key
      // must recompute and move the dominant axis
      (1L to 6L).map(id => (id, Array(0.0f, 0.0f, 0.0f, 4.0f), 1))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val axis2 = Similarity.topEigenvector(spark, tmp).collect()
        .maxBy(r => math.abs(r.getLong(1))).getLong(0)
      assert(axis2 == 4L, s"stale memo served: dominant axis $axis2")
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("n_vecs counts zero-length embedding arrays (oracle's unexploded predicate)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_emptyvec").toString
    try {
      val rows = (1L to 5L).map(id =>
        (id, Array(0.0f, 2.0f, 0.0f, 0.0f), 1)) :+
        ((6L, Array.empty[Float], 1)) :+ ((7L, Array.empty[Float], 2))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      // q256: the empty-array rows are vectors with no components —
      // count(*) over the unexploded table is 7, not 5
      val energy = Similarity.spectralEnergy(spark, tmp).head()
      assert(energy.getLong(0) == 7L, s"n_vecs ${energy.getLong(0)}")
      // q264: label 1 counts its empty-array member; label 2 (ONLY an
      // empty array, no components) has no moment rows on either
      // engine and is absent
      val byLabel = Similarity.labelSpectralEnergy(spark, tmp).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byLabel == Map(1L -> 6L), byLabel.toString)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("pngRoundtrip: empty sample yields 0,0,0,true — not NULLs") {
    // hexMax below any md5 hex digit selects nothing
    val r = graft.multimodal.Multimodal
      .pngRoundtrip(spark, "/root/testdata/sf0.001", hexMax = "").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.getBoolean(3), "empty-sample law must be vacuously true")
  }

  test("realCodecAudit: decoded dims/durations match the ground-truth formulas exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_codec").toString
    try {
      val ids = 0L to 19L
      ids.map(id => (id, s"doc $id", "en", "web", 6L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      // hexMax "f" samples everything — brute-force replay of the
      // oracle's formulas over the full id set
      val r = graft.multimodal.Multimodal
        .realCodecAudit(spark, tmp, hexMax = "f").head()
      assert(r.getLong(0) == 40L && r.getLong(1) == 20L)
      assert(r.getLong(2) == ids.map(8 + _ % 9).sum, "sum_img_width")
      assert(r.getLong(3) == ids.map(8 + _ % 7).sum, "sum_img_height")
      assert(r.getLong(4) == ids.map(100 + _ % 32).sum, "sum_audio_ms")
      assert(r.getLong(5) == ids.map(id => math.max(1L, (8 + id % 9) / 2)).sum)
      assert(r.getLong(6) == ids.map(id => math.max(1L, (8 + id % 7) / 2)).sum)
      assert(r.getBoolean(7), "codec_law: a payload fell back off the jdk codec")
      // empty sample: zeros and a vacuously-true law, not NULLs
      val e = graft.multimodal.Multimodal
        .realCodecAudit(spark, tmp, hexMax = "").head()
      assert((0 to 6).forall(i => e.getLong(i) == 0L) && e.getBoolean(7))
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("dominantPartSuppliers: >2x fair share qualifies; 2-supplier parts cannot; family filter holds") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q266").toString
    try {
      Seq((1L, "small ring", "B1", "t", 1, 1.0),
          (2L, "big ring", "B1", "t", 1, 1.0),
          (3L, "small bolt", "B1", "t", 1, 1.0))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice")
        .write.mode("overwrite").parquet(s"$tmp/part.parquet")
      // part 1 ('s…', 3 suppliers): s1 ships 8 of 10 -> 24 > 20 ✓;
      // part 3 ('s…', 2 suppliers): s4 ships 9 of 10 -> 18 > 20 ✗
      //   (share > 2/ns is unreachable at ns=2 — the tie-proof regime);
      // part 2 (not 's…'): s5 dominates but the family filter drops it
      val li = Seq((1L, 1L, 8.0), (1L, 2L, 1.0), (1L, 3L, 1.0),
        (3L, 4L, 9.0), (3L, 1L, 1.0), (2L, 5L, 100.0))
      li.zipWithIndex.map { case ((pk, sk, q), i) =>
        (100L + i, pk, sk, 1, q, 1.0, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      (1L to 5L).map(k => (k, s"Supp $k", 0, 0.0))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").parquet(s"$tmp/supplier.parquet")
      Seq((0, "HOMELAND", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
      val rows = Relational.dominantPartSuppliers(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(rows == Seq((1L, "Supp 1", "HOMELAND")), rows.mkString(", "))
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("lapsedHighBalanceCustomers: above positive-average AND order-silent since cutoff") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q267").toString
    try {
      // positive balances: 100, 200, 900 -> avg 400; negative excluded
      // from the average but scanned (can never exceed it)
      Seq((1L, "C1", 0, 900.0, "AUTO"),   // above avg, silent -> counted
          (2L, "C2", 0, 900.0, "AUTO"),   // above avg, RECENT order -> out
          (3L, "C3", 0, 100.0, "RETAIL"), // below avg -> out
          (4L, "C4", 0, 200.0, "RETAIL"), // below avg -> out
          (5L, "C5", 0, -50.0, "RETAIL")) // negative -> out
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
        .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
      def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
      // cust 1's order is BEFORE the cutoff (doesn't count as recent)
      Seq((10L, 1L, "F", 1.0, d("2000-06-01"), "x"),
          (11L, 2L, "O", 1.0, d("2001-06-01"), "x"))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      val rows = Relational.lapsedHighBalanceCustomers(spark, tmp).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(("AUTO", 1L, 90000L, 90000L)),
        rows.mkString(", "))
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("streamAudit: session boundary at EXACTLY the gap splits; +2h pair boundary is inclusive") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q272").toString
    try {
      val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
      def ts(sec: Long) = java.sql.Timestamp.from(base.plusSeconds(sec))
      // user 1: gaps 1700 (merge) then 1900 (split)  -> 2 sessions
      // user 2: gap EXACTLY 1800 -> session_window's merge is
      //         INCLUSIVE of the boundary (measured; the oracle's gap
      //         islands split strictly past the gap) -> 1 session
      // user 3: click at 0; purchases at +7200 (inclusive pair) and
      //         +7201 (outside)                       -> 1 pair
      // event 99 is duplicated                        -> n_dedup = n-1
      val rows = Seq(
        (1L, ts(0L), 1L, "view", 1.0),
        (2L, ts(1700L), 1L, "view", 1.0),
        (3L, ts(3600L), 1L, "view", 1.0),
        (4L, ts(0L), 2L, "click", 1.0),
        (5L, ts(1800L), 2L, "view", 1.0),
        (6L, ts(0L), 3L, "click", 1.0),
        (7L, ts(7200L), 3L, "purchase", 5.0),
        (8L, ts(7201L), 3L, "purchase", 5.0),
        (99L, ts(100L), 4L, "view", 1.0),
        (99L, ts(100L), 4L, "view", 1.0))
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = graft.streaming.EventStreams.streamAudit(spark, tmp).head()
      assert(r.getLong(0) == 10L, "n_raw")
      // hours 0,1,2 x types present: (0,view),(0,click),(1,view),
      // (2,purchase),(2,view at 7201? no - 7201s is hour 2),(1700s=hour 0)
      // enumerate: view@0,1700,100,100 -> (h0,view); click@0,0 ->(h0,click);
      // view@3600,1800? 1800s = hour 0! (1800 < 3600) -> (h0,view);
      // view@3600 -> (h1,view); purchase@7200,7201 -> (h2,purchase)
      assert(r.getLong(1) == 4L, s"n_hourly_cells ${r.getLong(1)}")
      assert(r.getLong(2) == 10L, "hourly conservation")
      // sessions: u1: {0,1700} + {3600} = 2; u2: {0,1800} = 1;
      // u3: {0} + {7200,7201} = 2; u4: {100,100} = 1  -> 6
      assert(r.getLong(3) == 6L, s"n_sessions ${r.getLong(3)}")
      assert(r.getLong(4) == 10L, "session conservation")
      assert(r.getLong(5) == 9L, s"n_dedup ${r.getLong(5)}")
      // u3's click pairs with +7200 (inclusive) but not +7201; u2's
      // click has no purchase
      assert(r.getLong(6) == 1L, s"n_pairs ${r.getLong(6)}")
      assert(r.getBoolean(7), "conservation_law")
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("partValueConcentration: threshold is 1.5x the floored average, exact boundary") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q273").toString
    try {
      // parts A=100, B=100, C=400 cents -> t=600, np=3, floored avg=200,
      // threshold c*10 > 3000 -> only C qualifies (avg_multiple 2.0);
      // BOUNDARY: D=300 gives exactly c*10 == 15*avg -> excluded
      val li = Seq((1L, 1.00), (2L, 1.00), (3L, 4.00))
      li.zipWithIndex.map { case ((pk, price), i) =>
        (100L + i, pk, 1L, 1, 1.0, price, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val rows = Relational.partValueConcentration(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((3L, 400L, 2.0)), rows.mkString(", "))
      // boundary corpus: two parts 300/100 -> t=400, np=2, avg=200;
      // 300*10 = 15*200 exactly -> strict > excludes it, empty result
      Seq((100L, 1L, 1L, 1, 1.0, 3.00, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (101L, 2L, 1L, 1, 1.0, 1.00, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .write.mode("overwrite").parquet(s"$tmp/b/lineitem.parquet")
      assert(Relational.partValueConcentration(spark, s"$tmp/b").count() == 0L)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("partSupplierCensus: flagged suppliers vanish; groups with only flagged rows drop") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q274").toString
    try {
      Seq((1L, "S1", 0, 5.0), (2L, "S2", 0, -1.0))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").parquet(s"$tmp/supplier.parquet")
      Seq((1L, "x", "B1", "T1", 4, 1.0), (2L, "y", "B1", "T1", 5, 1.0))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice")
        .write.mode("overwrite").parquet(s"$tmp/part.parquet")
      // part 1: suppliers 1 and 2 (2 flagged -> counts 1); part 2: only
      // supplier 2 -> the whole group disappears
      Seq((1L, 1L), (1L, 2L), (2L, 2L)).zipWithIndex
        .map { case ((pk, sk), i) =>
          (100L + i, pk, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
            java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val rows = Relational.partSupplierCensus(spark, tmp).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(("B1", "T1", 4L, 1L)), rows.mkString(", "))
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("decontamExcise: overlapping leaked spans union, never double-count") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q275").toString
    try {
      val ids = (0L to 200L)
      val trainId = ids.find(id =>
        graft.TestFiles.md5Hex(id.toString).take(2) <= "7f").get
      val cleanId = ids.find(id => id != trainId &&
        graft.TestFiles.md5Hex(id.toString).take(2) <= "7f").get
      val evalId = ids.find(id =>
        graft.TestFiles.md5Hex(id.toString).take(2) > "7f").get
      // eval doc carries two overlapping 8-grams (a..h, b..i); the train
      // doc contains both at 0-based positions 3 and 4 -> coverage is
      // the UNION 3..11 = 9 tokens of its 14, not 16
      val evalText = "a b c d e f g h i"
      val trainText = "x x x a b c d e f g h i y y"
      val cleanText = "p q r s t u v w z p q r s t"
      Seq((trainId, trainText, "en", "s1", trainText.length.toLong),
          (cleanId, cleanText, "en", "s1", cleanText.length.toLong),
          (evalId, evalText, "en", "s1", evalText.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val r = TextAnalysis.decontamExcise(spark, tmp).head()
      assert(r.getLong(0) == 2L, "n_train_docs")
      assert(r.getLong(1) == 1L, "n_docs_touched")
      assert(r.getLong(2) == 28L, "total_tokens")
      assert(r.getLong(3) == 9L,
        s"overlapping spans must union: removed ${r.getLong(3)}")
      assert(r.getDouble(4) == math.rint(9.0 / 28.0 * 1e6) / 1e6)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("ingestAudit: accounting law holds on the corpus; counts are monotone and exact") {
    val r = graft.streaming.DocStreams
      .ingestAudit(spark, "/root/testdata/sf0.001").head()
    val (nRaw, nGated, nPrepped, nKept, nOut) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(r.getBoolean(5), "accounting_law")
    assert(nRaw == 500L, s"n_raw $nRaw")
    assert(nRaw >= nGated && nGated >= nPrepped && nPrepped >= nKept &&
      nKept >= nOut, (nRaw, nGated, nPrepped, nKept, nOut).toString)
    // at sf0.001 every prepped doc scores just under the deployed 0.5
    // cut (scores live in [0.42, 0.53] across SFs; the driver-gate
    // corpus sf0.01 keeps 3) — a lowered-threshold run proves the
    // downstream stages are non-vacuous and the law survives real flow
    val r44 = graft.streaming.DocStreams
      .ingestAudit(spark, "/root/testdata/sf0.001", threshold = 0.44).head()
    assert(r44.getBoolean(5), "accounting_law at threshold 0.44")
    assert(r44.getLong(4) > 0L, "lowered-threshold pipeline still empty")
    // batch mode of the deployed dedup stage is EXACT dedup
    import spark.implicits._
    val dup = Seq((1L, "alpha beta", "2024-01-01 00:00:00"),
        (2L, "alpha beta", "2024-01-01 00:01:00"),
        (3L, "gamma", "2024-01-01 00:02:00"))
      .toDF("doc_id", "clean_text", "ts_s")
      .withColumn("ingest_ts", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("ts_s")))
    val dd = graft.streaming.DocStreams.dedupByContent(dup, "ingest_ts")
    assert(dd.count() == 2L, "batch dedupByContent must be exact")
  }
}
