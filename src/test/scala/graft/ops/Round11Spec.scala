package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 batch: the q186/q196 eval-tier guard and the q281-q292
  * TPC-H shape completion (Q2/Q4/Q5/Q6/Q7/Q8/Q9/Q10/Q12/Q14/Q18/Q19).
  */
class Round11Spec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  test("q186/q196 eval-tier guard: the full-corpus truth arm refuses above the bound") {
    val dir = "/root/testdata/sf0.001"
    val e1 = intercept[IllegalArgumentException] {
      Dedup.dedupEval(spark, dir, maxEvalDocs = 3L).collect()
    }
    assert(e1.getMessage.contains("eval-tier") &&
      e1.getMessage.contains("q222"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.sCurveCheck(spark, dir, maxEvalDocs = 3L).collect()
    }
    assert(e2.getMessage.contains("q223"), e2.getMessage)
    // the sampled twin path never trips the guard, whatever the bound
    assert(Dedup.dedupEval(spark, dir, sampleHexMax = "7f", maxEvalDocs = 3L)
      .count() >= 1L)
    // and at/below the bound the full arm runs as before
    assert(Dedup.dedupEval(spark, dir, maxEvalDocs = 100000L).count() == 1L)
  }

  // ---- q281-q292: the TPC-H 1..22 completion batch. The DuckDB oracle
  // is the value gate; these tests pin the INVARIANTS each shape owes
  // (the properties a later refactor is most likely to break).

  private val sfSmall = "/root/testdata/sf0.001"

  test("q281: every surviving (part, supplier) carries exactly its part's min cost") {
    val rows = Relational.minCostSupplier(spark, sfSmall).collect()
    assert(rows.nonEmpty)
    val byPart = rows.groupBy(_.getLong(0))
    byPart.foreach { case (pk, rs) =>
      val costs = rs.map(_.getLong(4)).distinct
      assert(costs.length == 1, s"part $pk kept non-min ties: ${costs.toSeq}")
    }
  }

  test("q282: five priority classes, each bounded by its order population") {
    val df = Relational.latePriorityCensus(spark, sfSmall)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet.forall(Set("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")), rows.keySet)
    val spark2 = spark
    import spark2.implicits._
    val totals = spark.read.parquet(s"$sfSmall/orders.parquet")
      .groupBy($"o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (p, n) =>
      assert(n <= totals(p), s"$p: $n late > ${totals(p)} total")
    }
  }

  test("q289: the two lateness classes partition the 1998 joined lines exactly") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Relational.latenessPriorityCensus(spark, sfSmall).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val joined = spark.read.parquet(s"$sfSmall/lineitem.parquet")
      .filter($"l_shipdate" >= lit("1998-01-01") &&
        $"l_shipdate" < lit("1999-01-01"))
      .join(spark.read.parquet(s"$sfSmall/orders.parquet"),
        $"l_orderkey" === $"o_orderkey").count()
    val covered = rows.values.map(v => v._1 + v._2).sum
    assert(covered == joined, s"classes cover $covered of $joined lines")
  }

  test("q290/q286: conditional sums never exceed their totals; shares consistent") {
    val r = Relational.promoRevenueShare(spark, sfSmall).collect()(0)
    val (promo, total, share) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(promo >= 0L && promo <= total)
    // recompute with the semantics Spark's round(x, 6) actually has
    // (BigDecimal HALF_UP) — math.rint would round half-to-even and
    // split from the operator on an exact .xxxxxx5 boundary
    val expect = BigDecimal(100.0 * promo / total)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(share == expect, s"share $share != recomputed $expect")
    Relational.nationalMarketShare(spark, sfSmall).collect().foreach { row =>
      assert(row.getLong(1) <= row.getLong(2),
        s"year ${row.getLong(0)}: nation > total")
    }
  }

  test("q291: every large-volume order really exceeds 300 units (recomputed)") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Relational.largeVolumeCustomers(spark, sfSmall).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(5) > 300L))
    // recompute one order's quantity sum independently of the operator
    val probe = rows.head.getLong(2)
    val expect = spark.read.parquet(s"$sfSmall/lineitem.parquet")
      .filter($"l_orderkey" === probe)
      .agg(sum($"l_quantity".cast("long"))).collect()(0).getLong(0)
    assert(expect == rows.head.getLong(5), s"order $probe: $expect recomputed")
  }

  test("q288: at most 20 customers, revenue non-increasing under the tie-break") {
    val rows = Relational.returnedItemCustomers(spark, sfSmall).collect()
      .map(r => (r.getLong(3), r.getLong(0)))
      .sortBy { case (rev, ck) => (-rev, ck) }
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.map(_._1).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("q285: only the two pair orientations survive, years within the window") {
    val rows = Relational.nationPairVolume(spark, sfSmall).collect()
    rows.foreach { r =>
      val pair = (r.getString(0), r.getString(1))
      assert(pair == ("NATION_3", "NATION_7") || pair == ("NATION_7", "NATION_3"), pair)
      assert(r.getLong(2) == 1996L || r.getLong(2) == 1997L, r.getLong(2))
    }
  }
}
