package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-8 batch 2: Efraimidis–Spirakis weighted sampling,
  * Gram-identity label dispersion, Flesch readability.
  */
class Round8bSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("weightedSample: exactly the k smallest exponential keys, ranked") {
    import spark.implicits._
    val out = PipelinePrep.weightedSample(spark, sf, k = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == 25)
    // rank matches the (key, doc_id) sort exactly, 1..k with no gaps
    val sorted = out.sortBy(t => (t._3, t._1))
    assert(sorted.map(_._4).toSeq == (1L to 25L),
      s"ranks out of order: ${sorted.map(_._4).toSeq}")
    // brute-force replay of the A-ES keys over the whole corpus: the
    // sample IS the global bottom-25
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id",
        greatest(coalesce($"n_chars", lit(1L)), lit(1L)).as("w"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
          .as("h32"))
      .collect()
      .map { r =>
        val u = (r.getLong(2) + 1).toDouble / 4294967297.0
        val key = BigDecimal(-math.log(u) / r.getLong(1).toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), r.getLong(1), key)
      }
    val expect = all.sortBy(t => (t._3, t._1)).take(25)
      .map(t => (t._1, t._2)).toSeq
    assert(sorted.map(t => (t._1, t._2)).toSeq == expect,
      "sample differs from the brute-force bottom-k replay")
    // weights actually vary (else this is a uniform sample in disguise)
    assert(all.map(_._2).distinct.length > 1)
  }

  test("labelDispersion: Gram identity equals the O(n²) brute force per label") {
    import spark.implicits._
    val out = Similarity.labelDispersion(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getDouble(3))).sortBy(_._1)
    assert(out.nonEmpty)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.map(_._2).sum == total, "label sizes must partition the table")
    out.foreach { case (_, n, mpc, res) =>
      mpc.foreach(v => assert(v >= -1.0 - 1e-6 && v <= 1.0 + 1e-6))
      assert(res >= 0.0 && res <= 1.0 + 1e-6)
      if (n == 1) assert(mpc.isEmpty, "singleton label must emit null mpc")
    }
    // brute force the densest label: mean pairwise cosine over all n²/2
    // unit-vector pairs, straight from the parquet floats
    val (lbl, _, got, _) = out.maxBy(_._2)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"label" === lbl).select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .map { v =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / nrm)
      }
    val n = vecs.length
    var acc = 0.0
    for (i <- 0 until n; j <- (i + 1) until n)
      acc += vecs(i).zip(vecs(j)).map { case (a, b) => a * b }.sum
    val brute = 2.0 * acc / (n.toDouble * (n - 1))
    assert(math.abs(got.get - brute) < 1e-4,
      s"Gram identity drifted from brute force: ${got.get} vs $brute")
  }

  test("readability: hand-counted fixtures, floors, and null text") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_read").toString
    try {
      Seq(
        (1L, "the cat sat. it ran! why?", "en", "s1", 25L),
        (2L, "tsk brr", "en", "s1", 7L),
        (3L, null.asInstanceOf[String], "en", "s1", 0L),
        (4L, "  tsk   brr ", "en", "s1", 12L),
        (5L, "   ", "en", "s1", 3L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val m = TextAnalysis.readability(spark, tmp).collect()
        .map(r => r.getLong(0) -> r).toMap
      val a = m(1L)
      assert(a.getLong(2) == 6 && a.getLong(3) == 3 && a.getLong(4) == 6,
        s"counts: ${a.toSeq}")
      // 206.835 - 1.015*(6/3) - 84.6*(6/6) = 120.205 → easy
      assert(a.getDouble(5) == 120.205 && a.getString(6) == "easy")
      val b = m(2L)
      // no sentence marks → floor 1; two vowel-less words → 2 syllables
      assert(b.getLong(3) == 1 && b.getLong(4) == 2)
      // 206.835 - 1.015*(2/1) - 84.6*(2/2) = 120.205 again: the formula
      // rewards short words regardless of vowels
      assert(b.getDouble(5) == 120.205, s"flesch=${b.getDouble(5)}")
      val c = m(3L)
      assert(c.isNullAt(5) && c.isNullAt(6), "null text must yield null score")
      // round 9: irregular whitespace mints NO phantom words/syllables —
      // "  tsk   brr " must count exactly like "tsk brr"
      val d = m(4L)
      assert(d.getLong(2) == 2 && d.getLong(4) == 2, s"counts: ${d.toSeq}")
      assert(d.getDouble(5) == 120.205, s"flesch=${d.getDouble(5)}")
      // all-spaces text: zero non-empty words → NULL score, not a
      // divide-by-zero and not a fake phantom-word score
      val e = m(5L)
      assert(e.getLong(2) == 0 && e.isNullAt(5) && e.isNullAt(6),
        s"all-spaces: ${e.toSeq}")
    } finally graft.TestFiles.rmrf(
      java.nio.file.Paths.get(tmp))
  }
}
