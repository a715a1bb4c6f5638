package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Behavioral spec for the two round-8 text operators:
  * [[TextAnalysis.kmvSourceOverlap]] (KMV-sketch source overlap — exact
  * Jaccard when sketches are under-full, and equal to a driver-side
  * replay of the Beyer estimator when capped) and
  * [[TextAnalysis.langMixture]] (windowed code-switch signal — entropy
  * 0 ⇔ single window language, switch counting, the en-first tie
  * ladder).
  */
class KmvLangOpsSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(rows: Seq[(Long, String, String)]): java.nio.file.Path = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kmvlang")
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  /** The operator's exact hash: first 15 md5 hex chars as a long. */
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  private def shingles(text: String): Seq[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Seq.empty
    else (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" "))
  }

  test("kmvSourceOverlap with under-full sketches IS exact Jaccard") {
    val a = "w x y z q r s t"           // shingles: 6
    val b = "w x y z a b c"             // shares 2 shingles with a
    val tmp = writeDocs(Seq((1L, "s1", a), (2L, "s2", b)))
    try {
      val r = TextAnalysis.kmvSourceOverlap(spark, tmp.toString).collect()
      assert(r.length == 1)
      val row = r.head
      val sa = shingles(a).toSet
      val sb = shingles(b).toSet
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(row.getAs[String]("source_a") == "s1")
      assert(row.getAs[String]("source_b") == "s2")
      assert(row.getAs[Long]("k_used") == sa.union(sb).size.toLong)
      assert(row.getAs[Long]("n_common") == sa.intersect(sb).size.toLong)
      assert(row.getAs[Double]("jaccard_est") ==
        BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("capped kmvSourceOverlap equals a driver-side Beyer replay") {
    val rnd = new scala.util.Random(99)
    def mkText(n: Int): String =
      (1 to n).map(_ => s"t${rnd.nextInt(30)}").mkString(" ")
    val docsA = (1 to 6).map(i => (i.toLong, "sA", mkText(20)))
    val docsB = (1 to 6).map(i => (100L + i, "sB", mkText(20)))
    val tmp = writeDocs(docsA ++ docsB)
    try {
      val k = 4
      val got = TextAnalysis.kmvSourceOverlap(spark, tmp.toString, k = k)
        .collect().head
      def sketch(ds: Seq[(Long, String, String)]): Vector[Long] =
        ds.flatMap(d => shingles(d._3)).distinct.map(h60)
          .distinct.sorted.take(k).toVector
      val ka = sketch(docsA)
      val kb = sketch(docsB)
      val u = (ka ++ kb).distinct.sorted.take(k)
      val nCommon = ka.toSet.intersect(kb.toSet).intersect(u.toSet).size
      assert(got.getAs[Long]("k_used") == u.size.toLong)
      assert(got.getAs[Long]("n_common") == nCommon.toLong)
      assert(got.getAs[Double]("jaccard_est") ==
        BigDecimal(nCommon.toDouble / u.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally graft.TestFiles.rmrf(tmp)
  }

  /** (source → (ks, n_exact)) of a sketch table. */
  private def bySource(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Long], Long)] =
    df.collect().map(r => r.getAs[String]("source") ->
      (r.getSeq[Long](r.fieldIndex("ks")).toList, r.getAs[Long]("n_exact"))).toMap

  /** The single aggregate the distinct-first build replaced: the sketch
    * beside count_distinct over the raw, duplicated hash stream.
    */
  private def singleAggregate(d: org.apache.spark.sql.DataFrame, k: Int,
      n: Int): Map[String, (Seq[Long], Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    bySource(d.select($"source", split($"text", " ").as("t"))
      .select($"source", explode(Dedup.ngramsOf("t", n)).as("gram"))
      .select($"source",
        conv(substring(md5($"gram"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"source")
      .agg(graft.functions.KmvSketch.kmvSketch(k)($"h").as("ks"),
        count_distinct($"h").as("n_exact")))
  }

  test("distinct-first KMV table equals the single sketch + count_distinct aggregate") {
    val k = 128
    val fixture = spark.read.parquet(s"$sf/documents.parquet")
    val got = bySource(TextAnalysis.kmvSketchRows(fixture, k, 3))
    assert(got == singleAggregate(fixture, k, 3))
    assert(got.values.exists(_._2 > k), "no capped sketch on the fixture")
    // an under-full source (fewer than k distinct grams, each repeated)
    // beside a capped one: the sketch IS the distinct set
    val rnd = new scala.util.Random(7)
    val tmp = writeDocs(
      (1 to 4).map(i => (i.toLong, "small", "a b c d a b c d")) ++
      (1 to 8).map(i => (100L + i, "big",
        (1 to 60).map(_ => s"w${rnd.nextInt(50)}").mkString(" "))))
    try {
      val d = spark.read.parquet(s"$tmp/documents.parquet")
      val small = bySource(TextAnalysis.kmvSketchRows(d, k, 3))
      assert(small == singleAggregate(d, k, 3))
      assert(small("small")._2 == 4L && small("small")._1.size == 4)
      assert(small("big")._2 > k && small("big")._1.size == k)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("langMixture: single-language doc has entropy 0.0, no switches") {
    val tmp = writeDocs(Seq(
      (1L, "s", Seq.fill(40)("the").mkString(" ")),   // 3 en windows
      (2L, "s", "der die und")))                       // 1 de window
    try {
      val r = TextAnalysis.langMixture(spark, tmp.toString)
        .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
      val d1 = r(1L)
      assert(d1.getAs[Long]("n_windows") == 3L)
      assert(d1.getAs[Long]("n_switches") == 0L)
      assert(d1.getAs[Long]("n_langs") == 1L)
      assert(d1.getAs[Double]("mix_entropy") == 0.0)
      // the −0.0 corner canonicalizes: bit pattern is +0.0
      assert(java.lang.Double.doubleToLongBits(
        d1.getAs[Double]("mix_entropy")) == 0L)
      assert(!d1.getAs[Boolean]("is_mixed"))
      assert(r(2L).getAs[Long]("n_langs") == 1L)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("langMixture: two-language doc counts the switch, entropy ln 2") {
    val text = (Seq.fill(16)("der") ++ Seq.fill(16)("the")).mkString(" ")
    val tmp = writeDocs(Seq((1L, "s", text)))
    try {
      val d = TextAnalysis.langMixture(spark, tmp.toString).collect().head
      assert(d.getAs[Long]("n_windows") == 2L)
      assert(d.getAs[Long]("n_switches") == 1L)
      assert(d.getAs[Long]("majority_n") == 1L)
      assert(d.getAs[Long]("n_langs") == 2L)
      assert(d.getAs[Double]("mix_entropy") == 0.693147) // round(ln 2, 6)
      assert(d.getAs[Boolean]("is_mixed"))
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("langMixture tie ladder: equal marker counts vote en-first") {
    // one window, one 'the' and one 'der': c_en == c_de == 1 → en wins,
    // so a second all-en window produces NO switch
    val text = (Seq("the", "der") ++ Seq.fill(14)("x") ++
      Seq.fill(3)("the")).mkString(" ")
    val tmp = writeDocs(Seq((1L, "s", text)))
    try {
      val d = TextAnalysis.langMixture(spark, tmp.toString).collect().head
      assert(d.getAs[Long]("n_windows") == 2L)
      assert(d.getAs[Long]("n_switches") == 0L)
      assert(d.getAs[Long]("n_langs") == 1L)
    } finally graft.TestFiles.rmrf(tmp)
  }

  test("langMixture invariant over the sf corpus: entropy 0 ⇔ n_langs 1") {
    import org.apache.spark.sql.functions._
    val df = TextAnalysis.langMixture(spark, sf)
    assert(df.filter(
      (col("mix_entropy") === 0.0 && col("n_langs") =!= 1L) ||
      (col("mix_entropy") =!= 0.0 && col("n_langs") === 1L)).count() == 0)
    // windows partition the doc: majority ≤ windows, switches < windows
    assert(df.filter(col("majority_n") > col("n_windows") ||
      col("n_switches") >= col("n_windows")).count() == 0)
    assert(df.count() > 0)
  }
}
