package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** All-empty-corpus robustness: a 100-TB pipeline routinely meets an
  * empty source, partition, or snapshot — every docs/embeddings/events
  * query must PLAN AND RUN on 0-row tables (NullTextSpec covers the
  * degraded-rows case; this suite pins the fully-empty one). The
  * invariant is no-throw; an empty or zero-row result is each
  * operator's own contract.
  */
class EmptyCorpusSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  private lazy val dir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val eventSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(new java.util.ArrayList[Row](), docSchema)
      .write.parquet(s"$tmp/documents.parquet")
    spark.createDataFrame(new java.util.ArrayList[Row](), embSchema)
      .write.parquet(s"$tmp/embeddings.parquet")
    spark.createDataFrame(new java.util.ArrayList[Row](), eventSchema)
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
      if !graft.SparkEntry.reads(name).exists(Tables.tpch.contains))
    test(s"$name does not throw on an all-empty corpus") {
      fn(spark, dir).collect()
    }
}
