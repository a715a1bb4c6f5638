package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-9 batch: spectral direction (q255) and the contamination gate
  * audit (q254).
  */
class Round9Spec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("topEigenvector: planted dominant axis recovered; unit-ish L-inf norm; PSD eigenvalue") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_eig").toString
    try {
      // energy overwhelmingly along dim 2 (0-based index 1): the top
      // eigenvector must put its max |loading| there with the planted
      // sign convention (all-positive start vector -> positive axis)
      val vecs = (1L to 10L).map { id =>
        (id, Array(0.01f * id, 5.0f + 0.1f * id, 0.02f, -0.01f), id.toInt)
      }
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val rows = Similarity.topEigenvector(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
      assert(rows.length == 4, rows.mkString(", "))
      // L-inf renormalization: the max |loading| is exactly 1e6
      assert(rows.map(r => math.abs(r._2)).max == 1000000L)
      val top = rows.maxBy(r => math.abs(r._2))
      assert(top._1 == 2L, s"dominant axis misplaced: ${rows.mkString(", ")}")
      assert(top._2 == 1000000L, "planted positive axis must keep positive sign")
      // S is PSD: Rayleigh eigenvalue is non-negative and near the
      // planted axis energy sum_i (e3*x_i2)^2 (within renorm truncation)
      val eig = rows.head._4
      val planted = vecs.map(v => math.pow(math.round(v._2(1) * 1000.0), 2)).sum
      assert(eig >= 0.0)
      assert(math.abs(eig - planted) / planted < 0.01,
        s"eigenvalue $eig vs planted energy $planted")
      // the e4 integer and the double view agree exactly
      rows.foreach(r => assert(r._4 == r._3.toDouble / 10000.0))
      // empty corpus: empty result, schema intact. A separate dir for
      // clarity (the memo key also folds in a corpus fingerprint, so
      // overwriting the same path would recompute — Round10Spec)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.read.parquet(s"$tmp/embeddings.parquet").schema)
        .write.mode("overwrite").parquet(s"$tmp/empty/embeddings.parquet")
      assert(Similarity.topEigenvector(spark, s"$tmp/empty").count() == 0)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("spectralEnergy: planted one-axis corpus carries ~all energy in the top direction") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_senergy").toString
    try {
      (1L to 10L).map { id =>
        (id, Array(0.001f * id, 4.0f + 0.1f * id, 0.0f, 0.0f), id.toInt)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val Array(r) = Similarity.spectralEnergy(spark, tmp).collect()
      assert(r.getLong(0) == 10L && r.getLong(1) == 4L)
      val (trace, frac) = (r.getLong(2), r.getDouble(5))
      assert(trace > 0L)
      // energy is overwhelmingly on the planted axis
      assert(frac > 0.999 && frac <= 1.0, s"frac=$frac")
      // frac double view is exactly the e6 integer / 1e6
      assert(frac == r.getLong(4).toDouble / 1000000.0)
      // eigenvalue column agrees with q255's on the same corpus (the
      // memoized core must serve both)
      val eig255 = Similarity.topEigenvector(spark, tmp)
        .select($"eigenvalue_e4").head().getLong(0)
      assert(r.getLong(3) == eig255)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("dominantShare: on-axis vectors score ~1, an orthogonal vector ~0") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_domsh").toString
    try {
      // nine vectors on dim 2 (the dominant axis), one on dim 3 only
      val vecs = (1L to 9L).map(id =>
        (id, Array(0.0f, 3.0f + 0.1f * id, 0.0f, 0.0f), id.toInt)) :+
        ((10L, Array(0.0f, 0.0f, 2.0f, 0.0f), 10))
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val rows = Similarity.dominantShare(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
      assert(rows.size == 10)
      (1L to 9L).foreach { id =>
        assert(rows(id)._1 > 0.9999 && rows(id)._2, s"vec $id: ${rows(id)}")
      }
      assert(rows(10L)._1 < 1e-4 && !rows(10L)._2, s"orthogonal: ${rows(10L)}")
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("labelSpectralEnergy: a one-axis label reads ~1, an isotropic label reads ~1/2") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lse").toString
    try {
      // label 1: all energy on dim 2 → frac ≈ 1. label 2: equal mass on
      // two orthogonal axes (half the vectors each) → top direction
      // carries ≈ half the trace
      val l1 = (1L to 8L).map(id => (id, Array(0.0f, 2.0f, 0.0f, 0.0f), 1))
      val l2 = (9L to 12L).map(id => (id, Array(2.0f, 0.0f, 0.0f, 0.0f), 2)) ++
        (13L to 16L).map(id => (id, Array(0.0f, 0.0f, 2.0f, 0.0f), 2))
      (l1 ++ l2).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val rows = Similarity.labelSpectralEnergy(spark, tmp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(5))).toMap
      assert(rows.keySet == Set(1L, 2L))
      assert(rows(1L)._1 == 8L && rows(2L)._1 == 8L)
      assert(rows(1L)._2 > 0.999, s"one-axis label: ${rows(1L)}")
      assert(math.abs(rows(2L)._2 - 0.5) < 0.01,
        s"two-axis label: ${rows(2L)}")
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("positionAttribution: every conversion's credit sums to exactly 1e6") {
    import spark.implicits._
    // hand fixture: user 1 has 4 touches before one purchase (first/
    // last 400k, two middles 100k each); user 2 has 1 touch (only,
    // 1e6); user 3 has 3 touches → middle gets 200000 div 1 = 200000,
    // last gets 400000 + remainder 0; user 4's touch is OUTSIDE the
    // 7-day lookback and earns nothing
    val base = java.time.Instant.parse("2024-01-10T00:00:00Z")
    def ts(offSec: Long) = java.sql.Timestamp.from(base.plusSeconds(offSec))
    val tmp = java.nio.file.Files.createTempDirectory("graft_attr").toString
    Seq(
      (1L, ts(0L), 1L, "click", 1.0, "{}"),
      (2L, ts(10L), 1L, "view", 1.0, "{}"),
      (3L, ts(20L), 1L, "view", 1.0, "{}"),
      (4L, ts(30L), 1L, "click", 1.0, "{}"),
      (5L, ts(40L), 1L, "purchase", 9.0, "{}"),
      (6L, ts(0L), 2L, "click", 1.0, "{}"),
      (7L, ts(5L), 2L, "purchase", 9.0, "{}"),
      (8L, ts(0L), 3L, "view", 1.0, "{}"),
      (9L, ts(1L), 3L, "view", 1.0, "{}"),
      (10L, ts(2L), 3L, "click", 1.0, "{}"),
      (11L, ts(3L), 3L, "purchase", 9.0, "{}"),
      (12L, ts(0L), 4L, "click", 1.0, "{}"),
      (13L, ts(8L * 86400L), 4L, "purchase", 9.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    try {
      val rows = Sessionize.positionAttribution(spark, tmp).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // three conversions with in-window touches → exactly 3e6 credit
      assert(rows.map(_._4).sum == 3000000L, rows.mkString(", "))
      val m = rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(m(("click", "first")) == (1L, 400000L))   // user 1 first
      assert(m(("click", "last")) == (2L, 800000L))    // users 1 & 3 last
      assert(m(("view", "middle")) == (3L, 400000L))   // 2×100k + 1×200k
      assert(m(("click", "only")) == (1L, 1000000L))   // user 2
      assert(m(("view", "first")) == (1L, 400000L))    // user 3 first
      assert(!m.contains(("click", "middle")) || m(("click", "middle"))._2 == 0L)
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("smallQuantityRevenue: threshold law — every counted line is strictly below 0.2x its part average") {
    import spark.implicits._
    // brute-force replay on the corpus: recompute per-part thresholds
    // driver-side and check the rollup counts exactly
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_partkey", $"l_quantity".cast("long"),
        round($"l_extendedprice" * 100).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brand = spark.read.parquet(s"$sf/part.parquet")
      .select($"p_partkey", $"p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perPart = li.groupBy(_._1).map { case (pk, rows) =>
      pk -> (rows.length.toLong, rows.map(_._2).sum)
    }
    val expect = li.filter { case (pk, q, _) =>
      val (cnt, sq) = perPart(pk); 5L * q * cnt < sq
    }.groupBy(t => brand(t._1))
      .map { case (b, rows) => b -> (rows.size.toLong, rows.map(_._3).sum) }
    val got = Relational.smallQuantityRevenue(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect, s"got $got\nexpect $expect")
  }

  test("orderHoldingSuppliers: a tie for latest disqualifies the order") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_q260").toString
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    try {
      Seq((10L, "C1", "F"), (11L, "C1", "F"), (12L, "C1", "O"))
        .toDF("o_orderkey", "o_custkey_s", "o_orderstatus")
        .selectExpr("o_orderkey", "1L AS o_custkey", "o_orderstatus",
          "0.0 AS o_totalprice", "CAST('2024-01-01' AS TIMESTAMP) AS o_orderdate",
          "'x' AS o_orderpriority")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      // order 10: supplier 2 uniquely latest among 2 suppliers → blamed;
      // order 11: suppliers 1 and 2 TIE on the max date → nobody blamed;
      // order 12: status O → out of scope entirely
      Seq(
        (10L, 1L, d("2024-01-01")), (10L, 2L, d("2024-02-01")),
        (11L, 1L, d("2024-03-01")), (11L, 2L, d("2024-03-01")),
        (12L, 2L, d("2024-04-01")))
        .toDF("l_orderkey", "l_suppkey", "l_shipdate")
        .selectExpr("l_orderkey", "0L AS l_partkey", "l_suppkey",
          "1 AS l_linenumber", "1.0 AS l_quantity", "1.0 AS l_extendedprice",
          "0.0 AS l_discount", "0.0 AS l_tax", "'N' AS l_returnflag",
          "'O' AS l_linestatus", "l_shipdate")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      Seq((1L, "Supp One", 0L, 0.0), (2L, "Supp Two", 0L, 0.0))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").parquet(s"$tmp/supplier.parquet")
      val rows = Relational.orderHoldingSuppliers(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows == Seq((2L, "Supp Two", 1L)), rows.mkString(", "))
    } finally graft.TestFiles.rmrf(java.nio.file.Paths.get(tmp))
  }

  test("scoreLift: bands partition the corpus; lift averages to 1 over the population") {
    val rows = TextAnalysis.scoreLift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).sortBy(_._1)
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions.col
    val nTotal = spark.read.parquet(s"$sf/documents.parquet").count()
    val nPos = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === "en").count()
    // bands partition: doc counts sum to the corpus, positives to en
    assert(rows.map(_._2).sum == nTotal)
    assert(rows.map(_._3).sum == nPos)
    // equal-population cut: every band within 1 of n/10
    assert(rows.forall(r => math.abs(r._2 - nTotal / 10.0) <= 1.0),
      rows.mkString(", "))
    // population-weighted mean lift is 1 (each band's lift is its
    // precision over the base rate; weights n_docs/n)
    if (nPos > 0) {
      val weighted = rows.map(r => r._4 * r._2).sum / nTotal
      assert(math.abs(weighted - 1.0) < 1e-3, s"mean lift $weighted")
    }
  }

  test("contaminationGateAudit: every row sound on the corpus; planted contamination flagged") {
    import spark.implicits._
    val rows = TextAnalysis.contaminationGateAudit(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4), s"unsound gate rows: ${rows.filterNot(_._4).take(5).mkString(", ")}")
    // exact hits never exceed gram count
    assert(rows.filter(_._2 >= 0).forall(r => r._3 <= r._2))
  }
}
