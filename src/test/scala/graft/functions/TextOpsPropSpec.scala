package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generator properties for the codegen'd text expressions, checked
  * against naive reference implementations (raw Gen sampling with fixed
  * seeds — deterministic, no scalatestplus bridge in the offline set).
  */
class TextOpsPropSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // texts shaped like the corpus plus adversarial shapes: empty, single
  // char, runs of spaces (empty tokens), long tokens, unicode
  private val texts: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.const(" "),
    Gen.const("  a  b "),
    Gen.listOf(Gen.oneOf("a", "bb", "ccc", "d e", "", "é", "日本"))
      .map(_.mkString(" ")),
    Gen.alphaNumStr)

  private def refFeatureHash(text: String, dim: Int): Array[Long] = {
    val counts = new Array[Long](dim)
    // split keeping ALL empties (Spark split(_, " ") == str.split(" ", -1))
    text.split(" ", -1).foreach { tok =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md5.take(4).map(b => f"${b & 0xff}%02x").mkString
      counts((java.lang.Long.parseLong(hex, 16) % dim).toInt) += 1
    }
    counts
  }

  test("property: featureHash equals the hex-parse reference; counts sum to token count") {
    for (text <- samples(texts, 200); dim <- Seq(4, 64)) {
      val got = TextOps.featureHash(UTF8String.fromString(text), dim).toLongArray()
      val ref = refFeatureHash(text, dim)
      assert(got.toSeq == ref.toSeq, s"text=${text.take(40)} dim=$dim")
      assert(got.sum == text.split(" ", -1).length, s"token count, text=${text.take(40)}")
    }
  }

  // direct (non-rolling) polynomial per window, codepoint coordinates —
  // the reference the O(1) rolling update must equal at every position
  private def refCdcHashes(text: String, w: Int): Seq[(Long, Long)] = {
    val P = 2147483647L
    val cps = text.codePoints().toArray
    (0 to cps.length - w).map { s =>
      var h = 0L
      cps.slice(s, s + w).foreach { cp =>
        h = (h * 256L + (cp.toLong * 2654435761L) % P) % P
      }
      ((s + 1).toLong, h)
    }
  }

  test("property: cdcCuts equals the direct per-window polynomial; cdcCutHashes nests") {
    for (text <- samples(texts, 200); w <- Seq(2, 8)) {
      val ref = refCdcHashes(text, w)
      for (m <- Seq(16, 32, 64)) {
        val got = TextOps.cdcCuts(UTF8String.fromString(text), w, m)
          .toLongArray().toSeq
        val want = ref.collect { case (p, h) if h % m == 0 => p }
        assert(got == want, s"w=$w m=$m text=${text.take(40)}")
      }
      // the sweep state: exactly the mod-16 positions, carrying h mod 64
      val hs = TextOps.cdcCutHashes(UTF8String.fromString(text), w)
      val gotPairs = (0 until hs.numElements()).map { i =>
        val r = hs.getStruct(i, 2); (r.getLong(0), r.getLong(1))
      }
      val wantPairs = ref.collect { case (p, h) if h % 16 == 0 => (p, h % 64) }
      assert(gotPairs == wantPairs, s"w=$w text=${text.take(40)}")
    }
  }

  test("property: simhash32 equals the naive per-token vote reference") {
    def refSimhash(text: String): Long = {
      val votes = new Array[Int](32)
      text.split(" ", -1).foreach { tok =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8")).take(4)
          .map(b => f"${b & 0xff}%02x").mkString
        val h = java.lang.Long.parseLong(hex, 16)
        (0 until 32).foreach(b =>
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
      }
      (0 until 32).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }
    for (text <- samples(texts, 200)) {
      val got = TextOps.simhash32(UTF8String.fromString(text))
      assert(got == refSimhash(text), s"text=${text.take(40)}")
    }
  }

  test("property: gramHashes equals xxhash64 of the built gram strings") {
    for (text <- samples(texts, 200); n <- Seq(1, 3, 8)) {
      val toks = text.split(" ", -1)
      val refGrams =
        if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
        else Seq.empty
      val ref = refGrams.map { g =>
        val u = UTF8String.fromString(g)
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      }
      val got = TextOps.gramHashes(UTF8String.fromString(text), n).toLongArray().toSeq
      assert(got == ref, s"text=${text.take(40)} n=$n")
    }
  }

  test("property: distinctGrams equals first-occurrence distinct of the gram strings") {
    for (text <- samples(texts, 200); n <- Seq(1, 3, 5)) {
      val toks = text.split(" ", -1)
      val ref =
        if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
        else Seq.empty
      val got = TextOps.distinctGrams(UTF8String.fromString(text), n)
        .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq
      assert(got == ref, s"text=${text.take(40)} n=$n")
    }
  }

  test("gram_hashes in a DataFrame equals the relational transform+xxhash64 route") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    TextOps.register(spark)
    val df = Seq("a b c a b c d", "x", "", "a  b", "one two three four")
      .toDF("text")
    val mismatches = df
      .select(
        call_function("gram_hashes", $"text", lit(3)).as("fast"),
        coalesce(
          when(size(split($"text", " ")) >= 3,
            transform(sequence(lit(0), size(split($"text", " ")) - lit(3)),
              i => xxhash64(concat_ws(" ",
                element_at(split($"text", " "), i + 1),
                element_at(split($"text", " "), i + 2),
                element_at(split($"text", " "), i + 3))))),
          array().cast("array<bigint>")).as("slow"))
      .filter(not($"fast" <=> $"slow")).count()
    assert(mismatches == 0)
  }

  test("Dedup.hashedShingleSet over the text equals the split+transform+xxhash64 set route") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    TextOps.register(spark)
    val fixed = Seq[String](null, "", "x", "x y", "a b c", "a  b c d",
      " a b c", "a b c ", "a b c a b c a b c d", "é ü 日本 é ü 日本",
      "😀 𝄞 x 😀 𝄞 x 😀")
    val df = (fixed ++ samples(texts, 200)).toDF("text")
      .select($"text", split($"text", " ").as("t"))
    // the set route the kernel replaced: 3-gram strings over the
    // materialized token array, hashed, then distinct
    val t = $"t"
    val grams = when(size(t) >= 3,
      transform(sequence(lit(0), size(t) - lit(3)),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
          element_at(t, i + 3))))
      .otherwise(array().cast("array<string>"))
    val rows = df
      .select($"text",
        array_sort(graft.ops.Dedup.hashedShingleSet($"text")).as("fast"),
        array_sort(array_distinct(transform(grams, g => xxhash64(g)))).as("slow"))
      .collect()
    assert(rows.length == fixed.length + 200)
    rows.foreach { r =>
      assert(!r.isNullAt(1), s"null set for text=${r.getString(0)}")
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"text=${r.getString(0)}")
    }
    // null text is the empty set, and repeated grams count once
    val byText = rows.map(r => Option(r.getString(0)) -> r.getSeq[Long](1)).toMap
    assert(byText(None).isEmpty && byText(Some("x y")).isEmpty)
    assert(byText(Some("a b c a b c a b c d")).size == 4)
  }

  test("property: bigramCounts total equals max(len-1, 0) and keys are true bigrams") {
    for (text <- samples(texts, 200)) {
      val m = TextOps.bigramCounts(UTF8String.fromString(text))
      val keys = m.keyArray().toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString)
      val vals = m.valueArray().toLongArray()
      assert(vals.sum == math.max(text.length - 1, 0), s"text=${text.take(40)}")
      val naive = text.sliding(2).filter(_.length == 2).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(keys.zip(vals).toMap == naive, s"text=${text.take(40)}")
    }
  }
}
