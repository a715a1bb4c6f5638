package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Source/sink formats beyond parquet: CSV (header + schema), JSON
  * (lines), and ORC round-trip the same relational data through write →
  * read → query with identical results.
  */
class SourcesSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("csv / json / orc round-trips preserve query results") {
    import org.apache.spark.sql.functions._
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val expected = nation.groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet

    val root = java.nio.file.Files.createTempDirectory("graft-src").toString
    try {
      nation.write.option("header", "true").csv(s"$root/csv")
      nation.write.json(s"$root/json")
      nation.write.orc(s"$root/orc")

      val fromCsv = spark.read.option("header", "true")
        .schema(nation.schema).csv(s"$root/csv")
      val fromJson = spark.read.schema(nation.schema).json(s"$root/json")
      val fromOrc = spark.read.orc(s"$root/orc")

      for (df <- Seq(fromCsv, fromJson, fromOrc)) {
        val got = df.groupBy("n_regionkey").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
        assert(got == expected)
      }
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }
}
