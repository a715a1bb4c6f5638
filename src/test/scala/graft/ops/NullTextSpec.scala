package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Degraded-corpus robustness: the documents contract admits null and
  * empty text (the ADVICE-r3 mediaTable NPE class), so EVERY query must
  * plan and run — not throw — on a corpus containing both, alongside
  * empty embeddings/events side tables. Output semantics for such rows
  * are engine-defined per operator (null stats, dropped rows); the
  * invariant this suite pins is no-throw.
  */
class NullTextSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  private lazy val dir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-nulltext").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val text1 = "the quick brown fox jumps over a lazy dog and runs to the data lake"
    val rows = java.util.Arrays.asList(
      Row(1L, text1, "en", "s1", text1.length.toLong),
      Row(2L, null, "en", "s1", 0L),
      Row(3L, "", "de", "s2", 0L))
    spark.createDataFrame(rows, docSchema)
      .coalesce(1).write.parquet(s"$tmp/documents.parquet")
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val eventSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(new java.util.ArrayList[Row](), embSchema)
      .write.parquet(s"$tmp/embeddings.parquet")
    spark.createDataFrame(new java.util.ArrayList[Row](), eventSchema)
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
      if !graft.SparkEntry.reads(name).exists(Tables.tpch.contains))
    test(s"$name does not throw on null/empty text") {
      fn(spark, dir).collect()
      ()
    }
}
