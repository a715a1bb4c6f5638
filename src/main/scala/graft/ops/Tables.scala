package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-surface entry point: registers every testdata table as a temp view
  * plus the engine's custom functions (vec_dot, vec_norm, chunk_hash), so
  * `spark.sql("SELECT ...")` works over the same names the DuckDB oracle
  * uses. The events view exposes both the raw nano `ts_ns` and a
  * microsecond `ts` timestamp (Spark's parquet reader rejects
  * TIMESTAMP(NANOS) columns outright).
  */
object Tables {

  /** The TPC-H tables; the other parquet tables are the corpus. */
  val tpch: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem")

  val names: Seq[String] = tpch ++ Seq("documents", "embeddings")

  /** Events loader resilient to every physical encoding the testdata
    * generator has shipped for `ts`: TIMESTAMP(NANOS) (readable only as
    * raw INT64 via `nanosAsLong`), plain INT64 nanos (our test fixtures
    * and scale replicas), and timestamp[us] (arrives as TIMESTAMP_NTZ).
    * Output contract: `ts` is epoch-NANOSECONDS BIGINT in all cases, so
    * every downstream `ts div ...` stays in exact integer arithmetic
    * (2024 epoch-nanos exceed double's 53-bit mantissa; a float detour
    * would corrupt seconds). The NTZ conversion is `timestampdiff`
    * against the NTZ epoch literal — pure wall-clock arithmetic,
    * independent of the session timezone, matching DuckDB's `epoch_ns`
    * on naive timestamps.
    */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType => raw.withColumn("ts", expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000"))
      case TimestampType => raw.withColumn("ts", expr("unix_micros(ts) * 1000"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other")
    }
  }

  def register(spark: SparkSession, dir: String): Unit = {
    graft.functions.VectorOps.register(spark)
    graft.functions.ChunkHashOps.register(spark)
    names.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    eventsNs(spark, dir)
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts_ns div 1000")))
      .createOrReplaceTempView("events")
  }

  /** Convenience: register + run one SQL statement. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }
}
