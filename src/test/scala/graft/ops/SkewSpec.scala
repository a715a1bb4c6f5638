package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("saltedJoin is row-for-row equal to the plain equi-join") {
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = lineitem.join(orders, "l_orderkey")
      .select("l_orderkey", "l_partkey", "l_quantity", "o_orderstatus")
    val salted = Skew.saltedJoin(lineitem, orders, "l_orderkey", salts = 4)
      .select("l_orderkey", "l_partkey", "l_quantity", "o_orderstatus")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("keyHistogram surfaces the hottest keys in order") {
    val h = Skew.keyHistogram(
      spark.read.parquet(s"$sf/lineitem.parquet"),
      org.apache.spark.sql.functions.col("l_returnflag"), topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(h.length == 3)
    assert(h.sortBy(-_._2).toSeq == h.toSeq) // descending
  }

  test("keeper pair grid: heavy-shingle decomposition emits exactly the plain join's rows") {
    import spark.implicits._
    // 300 distinct docs sharing one boilerplate shingle (df = 300),
    // plus light shingles with small overlaps — both branches of
    // keeperPairRows must produce identical grouped counts. dfCap is
    // forced low so the grid branch runs on the fixture.
    val sh = spark.range(300).select($"id".as("doc_id"))
      .select($"doc_id", explode(array(
        lit(999999L),                         // the heavy shingle
        $"doc_id" % 7L,                        // light, df ≈ 43 > dfCap=8… also heavy at cap 8
        $"doc_id" + 10000L                     // unique, df = 1
      )).as("sh"))
    def grouped(pairs: org.apache.spark.sql.DataFrame): Seq[String] =
      rows(pairs.groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("c")))
    val plain = grouped(sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
    val grid = grouped(Dedup.keeperPairRows(sh, dfCap = 8, buckets = 4))
    assert(grid == plain,
      s"grid decomposition diverges: ${grid.size} vs ${plain.size} pair rows")
    // and the measured-statistic branch: a high cap keeps the plain plan
    val plainBranch = grouped(Dedup.keeperPairRows(sh, dfCap = 1000))
    assert(plainBranch == plain)
  }
}
