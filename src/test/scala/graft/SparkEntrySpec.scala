package graft

import graft.ops.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The registry's views: `queries` and `oracleSql` share their keys,
  * `reads` derives each query's tables from its oracle SQL, and `select`
  * is the one name-pattern rule of Verify, Bench, ScaleBench and
  * ExplainTool. No session: every view is computed from the declarations.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every query has a matching oracleSql entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set.empty)
  }

  test("a pattern selects its full name or the names it prefixes up to `_`") {
    assert(SparkEntry.select(Seq("q16")) == Seq("q16_jaccard_pairs"))
    assert(SparkEntry.select(Seq("q16_jaccard_pairs")) == Seq("q16_jaccard_pairs"))
    assert(SparkEntry.select(Seq(" q27", "q28 ")) ==
      Seq("q27_simhash", "q28_simhash_near_dups"))
    assert(SparkEntry.select(Nil) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a pattern that selects nothing fails the selection, by name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q16", "q9999", "q17_nope")))
    assert(e.getMessage.contains("q9999, q17_nope"), e.getMessage)
    assert(!e.getMessage.contains("q16,"), e.getMessage)
    intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q16"), among = Seq("q160_novelty_curve")))
  }

  test("each query reads the tables its oracle SQL names after FROM/JOIN") {
    val tables = (Tables.names :+ "events").toSet
    assert(SparkEntry.reads.keySet == SparkEntry.queries.keySet)
    SparkEntry.reads.foreach { case (name, t) =>
      assert(t.nonEmpty, s"$name reads no table")
      assert(t.subsetOf(tables), s"$name reads $t")
    }
    assert(SparkEntry.reads("q01_pricing_summary").contains("lineitem"))
    // three of q02's four tables follow a JOIN, none a FROM
    assert(SparkEntry.reads("q02_revenue_by_nation") ==
      Set("lineitem", "orders", "customer", "nation"))
    assert(SparkEntry.reads("q25_user_sessions") == Set("events"))
    // both mention `customer` in their SQL, and neither reads the table
    for (q <- Seq("q104_blocklist_scrub", "q121_pii_scrub"))
      assert(!SparkEntry.reads(q).contains("customer"), q)
  }

  test("252 queries read no TPC-H table") {
    assert(SparkEntry.reads.values.count(!_.exists(Tables.tpch.contains)) == 252)
  }

  test("ScaleBench's events mode is the 41 queries that read events alone") {
    val events = ScaleBench.modeQueries("events")
    assert(events.size == 41)
    assert(events.forall(SparkEntry.reads(_) == Set("events")))
  }

  test("ScaleBench fails on a mode it does not know") {
    intercept[IllegalArgumentException](ScaleBench.modeQueries("tcph"))
  }
}
